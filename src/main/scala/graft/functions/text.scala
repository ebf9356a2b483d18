package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives as Column builders (codegen'd built-ins,
  * no UDFs). These power the LLM-training-data operators: quality
  * scoring, token counting, fingerprinting, language ID, shingling.
  */
object text {

  /** Lowercase, strip non-[a-z0-9 ] chars, collapse whitespace, trim.
    * Canonical form used by exact dedup + fingerprinting.
    */
  def normalize(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** Whitespace tokens of the raw string ('' and NULL → 0 tokens —
    * the same guard the DuckDB oracle's toksSql applies, so token
    * counts agree on degenerate rows too).
    */
  def tokens(c: Column): Column = {
    val t = trim(c)
    when(t.isNull || t === "", array().cast("array<string>"))
      .otherwise(split(t, "\\s+"))
  }

  def tokenCount(c: Column): Column = size(tokens(c)).cast("long")

  /** Count of regexp matches, via length difference after removal —
    * identical arithmetic is expressible in DuckDB for the oracle.
    */
  def matchCount(c: Column, singleCharPattern: String): Column =
    (length(c) - length(regexp_replace(c, singleCharPattern, ""))).cast("long")

  def punctCount(c: Column): Column = matchCount(c, "[\\.,;:!\\?]")
  def digitCount(c: Column): Column = matchCount(c, "[0-9]")

  /** English stopword-ish markers used for quality / language ID. */
  val EnMarkers = Seq("the", "a", "and", "of", "to", "in", "is")
  val EsMarkers = Seq("el", "la", "de", "que", "y", "los")
  val FrMarkers = Seq("le", "la", "de", "et", "les", "des")
  val DeMarkers = Seq("der", "die", "und", "das", "ein", "zu")

  /** How many tokens of `c` are in `markers` (exact word matches). */
  def markerHits(c: Column, markers: Seq[String]): Column = {
    val arr = array(markers.map(lit): _*)
    size(filter(tokens(lower(c)), t => array_contains(arr, t))).cast("long")
  }

  /** The text-statistics struct, as pure expressions: the fallback of
    * the one-pass `graft_text_stats` kernel, with its schema and its
    * values for every input (NativeSpec compares them field by field).
    * Fields: n_tokens, sum_tok_len and max_tok_len (code points) over
    * [[tokens]]; hits_en/es/fr/de, the [[markerHits]] of each marker
    * list; n_punct, n_digit and n_chars over the raw string. NULL for
    * a null text, as the kernel's null-intolerant struct is.
    */
  def textStats(c: Column): Column = {
    val toks = tokens(c)
    when(c.isNotNull, struct(
      size(toks).cast("long").as("n_tokens"),
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("sum_tok_len"),
      coalesce(array_max(transform(toks, t => length(t))), lit(0)).as("max_tok_len"),
      markerHits(c, EnMarkers).as("hits_en"),
      markerHits(c, EsMarkers).as("hits_es"),
      markerHits(c, FrMarkers).as("hits_fr"),
      markerHits(c, DeMarkers).as("hits_de"),
      punctCount(c).as("n_punct"),
      digitCount(c).as("n_digit"),
      length(c).as("n_chars")))
  }

  /** Heuristic quality score in [0,1]: rewards mid-length docs with
    * stopwords and low punctuation/digit noise. Deterministic and
    * SQL-expressible; the exact weights are this engine's contract.
    */
  def qualityScore(c: Column): Column = qualityScoreFromStats(c, textStats(c))

  /** [[qualityScore]] from a [[textStats]] struct (or the kernel's).
    * A null text yields a null struct: the coalesces replicate
    * `tokens(null) = []` → zero counts, while the punct/digit branches
    * keep `length(null)`'s null propagation.
    */
  def qualityScoreFromStats(c: Column, stats: Column): Column = {
    val nL = coalesce(stats.getField("n_tokens"), lit(0L))
    val n = nL.cast("double")
    val lenTerm = least(n / lit(100.0), lit(1.0))
    // stopword ratio = marker hits / tokens (0 when empty)
    val hits = coalesce(stats.getField("hits_en"), lit(0L))
    val stopRatio = when(nL === 0, lit(0.0)).otherwise(hits.cast("double") / nL)
    val stop = least(stopRatio * lit(5.0), lit(1.0))
    val punct = when(length(c) === 0, lit(0.0))
      .otherwise(stats.getField("n_punct").cast("double") / length(c))
    val digits = when(length(c) === 0, lit(0.0))
      .otherwise(stats.getField("n_digit").cast("double") / length(c))
    val raw = lit(0.4) * lenTerm + lit(0.4) * stop +
      lit(0.2) * (lit(1.0) - least((punct + digits) * lit(5.0), lit(1.0)))
    // floor-round: rational inputs land exactly on .xxxx5 boundaries
    // where engine round() semantics diverge (see num.fround)
    num.fround(raw, 4)
  }

  /** Stopword-marker voting language ID → 'en'/'es'/'fr'/'de'/'und'.
    * N-gram-free heuristic (the reference corpus is synthetic); ties
    * and zero-evidence both resolve deterministically.
    */
  def langId(c: Column): Column = langIdFromStats(textStats(c))

  /** [[langId]] from a [[textStats]] struct (or the kernel's): a null
    * text coalesces to zero hits → 'und', as markerHits over
    * `tokens(null) = []` does.
    */
  def langIdFromStats(stats: Column): Column = {
    val en = coalesce(stats.getField("hits_en"), lit(0L))
    val es = coalesce(stats.getField("hits_es"), lit(0L))
    val fr = coalesce(stats.getField("hits_fr"), lit(0L))
    val de = coalesce(stats.getField("hits_de"), lit(0L))
    val m = greatest(en, es, fr, de)
    when(m === 0, lit("und"))
      .when(en === m, lit("en"))   // priority order breaks ties
      .when(es === m, lit("es"))
      .when(fr === m, lit("fr"))
      .otherwise(lit("de"))
  }

  /** BPE-style pre-tokenization pattern: letter runs, digit runs, and
    * single non-alphanumeric marks — the coarse split GPT-family
    * tokenizers apply before byte-pair merging. Counting these is the
    * standard cheap proxy for model token counts at corpus scale.
    */
  val BpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Count of BPE-ish pre-tokens ('' → 0). */
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(BpeishPattern), lit(0))).cast("long")

  /** Content fingerprint: md5 of the normalized text. The reference
    * keys idempotency on `incident_num` (`src/db/incidents.py:43`);
    * for documents the content hash IS the key.
    */
  def fingerprint(c: Column): Column = md5(normalize(c))

  /** Polynomial rolling hash (Rabin-Karp base 31, mod 1e9+7) of an
    * ALREADY-NORMALIZED column — the incremental-hash fingerprint
    * family, engine-portable (the fold is exact BIGINT math both in
    * Spark's `aggregate` and DuckDB's `list_reduce`, so the oracle
    * reproduces it digit-for-digit). `s` must be a materialized
    * column: the per-char lambda would re-evaluate an embedded
    * normalize subtree per character.
    */
  val RollingMod = 1000000007L
  def rollingHashOfNormalized(s: Column): Column = {
    val codes = transform(split(s, ""), ch => ascii(ch).cast("long"))
    // NULL propagates (like md5/fingerprint — and like the oracle's
    // list_reduce over a NULL list); only a real empty string is 0
    when(s.isNull, lit(null).cast("long"))
      .when(length(s) === 0, lit(0L))
      .otherwise(
        aggregate(codes, lit(0L), (acc, x) => (acc * lit(31L) + x) % lit(RollingMod)))
  }

  /** Distinct word n-grams from an ALREADY-TOKENIZED column.
    *
    * `toks` must be a materialized column (AttributeReference), never
    * an inline expression: the lambda below references it per element,
    * and an embedded normalize/tokenize subtree would be re-evaluated
    * once per n-gram (an O(len·grams) blowup observed as a 10× slowdown
    * at sf0.1). Callers stage `tokens(normalize(c))` with withColumn.
    */
  def wordNgramsOfTokens(toks: Column, n: Int): Column = {
    val cnt = size(toks)
    when(cnt < n, array().cast("array<string>")).otherwise(
      array_distinct(
        transform(sequence(lit(0), cnt - lit(n)), i =>
          concat_ws(" ", slice(toks, i + 1, lit(n))))))
  }
}
