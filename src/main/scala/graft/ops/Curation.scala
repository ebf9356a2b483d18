package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import graft.functions.text

/** Corpus-curation operators for LLM-training-data pipelines: PII
  * scrubbing, deterministic train/val/test splitting, and token-budget
  * sequence packing. All are pure column math or bounded window ops —
  * no UDFs, no driver-side loops, no unbounded state.
  */
object Curation {

  /** PII patterns chosen to mean the same thing in Java regex
    * (Spark) and RE2 (DuckDB oracle): character classes, bounded
    * repetition, no backrefs or lookaround. IP = IPv4 dotted quad;
    * SSN = the ddd-dd-dddd national-ID shape (CCNet-class scrubbers
    * hit both on web crawls, next to emails and phones).
    *
    * DELIBERATE imprecision in `IpPattern` (the CCNet-class recall-
    * over-precision trade): octets are not range-checked (it matches
    * `999.999.999.999`) and there are no word-boundary anchors (in a
    * longer dotted run like `1.2.3.4.5` it redacts the leftmost quad,
    * leaving `<IP>.5`). A scrubber errs toward redacting non-IPs over
    * leaking real ones; bounding octets to 0-255 would need a
    * 3-branch alternation per octet that buys precision on inputs
    * (version strings, section numbers) that were never PII to begin
    * with. Callers needing the strict form can pass their own
    * pattern through `regexp_replace` upstream.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
  val IpPattern = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val SsnPattern = "[0-9]{3}-[0-9]{2}-[0-9]{4}"

  /** PII scrub: replace emails/phones/IPv4s/SSN-shaped ids with typed
    * placeholders and count what was redacted. Replacement order is
    * FIXED — email → phone → IP → SSN — and each count is taken on
    * the text AFTER the previous stage's replacement, so a digit run
    * inside an address is never double-redacted and the precedence is
    * deterministic in any engine (a phone's 3-3-4 groups can't be
    * eaten by the IP or SSN patterns, and vice versa: phones need a
    * 4-digit tail no dotted quad has, SSNs need 3-2-4 dash groups no
    * phone has). Pure per-row codegen'd column math — scales as a
    * map-only stage.
    */
  def scrubPii(df: DataFrame, textCol: String, idCol: String,
               passthrough: Seq[String] = Nil): DataFrame = {
    val raw = col(textCol)
    val noEmail = regexp_replace(raw, EmailPattern, "<EMAIL>")
    val noPhone = regexp_replace(noEmail, PhonePattern, "<PHONE>")
    val noIp = regexp_replace(noPhone, IpPattern, "<IP>")
    df.select(Seq(
      col(idCol),
      regexp_replace(noIp, SsnPattern, "<SSN>").as("clean_text"),
      size(regexp_extract_all(raw, lit(EmailPattern), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(noEmail, lit(PhonePattern), lit(0))).cast("long").as("n_phones"),
      size(regexp_extract_all(noPhone, lit(IpPattern), lit(0))).cast("long").as("n_ips"),
      size(regexp_extract_all(noIp, lit(SsnPattern), lit(0))).cast("long").as("n_ssns"))
      ++ passthrough.map(col): _*)
  }

  /** Deterministic, engine-portable split assignment.
    *
    * Bucket = first 4 hex chars of md5(key || ':' || salt) — a uniform
    * draw over 65536 values that any engine computing md5 reproduces
    * bit-for-bit (no engine RNG, no numeric hex decode; plain
    * lexicographic compare on lowercase hex, where ASCII order is
    * value order). A doc's split is a pure function of (key, salt):
    * stable across runs, engines, partitionings, and corpus growth —
    * adding documents never reassigns existing ones, which is the
    * property that keeps eval sets honest as a corpus accretes.
    *
    * `fractions` maps label → fraction, in priority order; they must
    * sum to 1. Scale shape: map-only, no shuffle.
    */
  def deterministicSplit(df: DataFrame, keyCol: String, salt: String,
                         fractions: Seq[(String, Double)],
                         outCol: String = "split"): DataFrame = {
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must sum to 1, got ${fractions.map(_._2).sum}")
    val bucket = substring(
      md5(concat(col(keyCol).cast("string"), lit(":"), lit(salt))), 1, 4)
    // null keys are dropped, not assigned: a null bucket fails every
    // `<` compare, which would silently dump the row into the LAST
    // label (the eval set, in the usual config). Dropping matches
    // stratifiedSample's behavior, so the two bucket-scheme operators
    // agree on degenerate keys.
    val withBucket = df.where(col(keyCol).isNotNull).withColumn("bucket", bucket)
    val thresholds = splitThresholds(fractions)
    val assigned = thresholds.init.foldLeft(when(lit(false), lit(""))) {
      case (acc, (label, thr)) => acc.when(col("bucket") < lit(thr), lit(label))
    }.otherwise(lit(thresholds.last._1))
    withBucket.withColumn(outCol, assigned)
  }

  /** (label, exclusive upper hex threshold) per fraction; the last
    * label absorbs the remainder. Shared with the SQL oracle so both
    * engines compare against identical literals.
    */
  def splitThresholds(fractions: Seq[(String, Double)]): Seq[(String, String)] = {
    val cum = fractions.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    fractions.map(_._1).zip(cum).map { case (label, c) =>
      (label, f"${math.min(math.floor(c * 65536).toLong, 65535L)}%04x")
    }
  }

  /** Deterministic stratified sampling: keep a per-stratum fraction of
    * rows, selected by the same md5(key:salt) hex bucket as
    * [[deterministicSplit]] — engine-portable, accretion-safe, and a
    * pure map-only filter (no sampleBy RNG, so re-runs and different
    * partitionings keep IDENTICAL rows). Strata not in `fractions`
    * fall back to `defaultFraction`.
    */
  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
                       salt: String, fractions: Map[String, Double],
                       defaultFraction: Double = 0.0): DataFrame = {
    def hex4(f: Double): String = {
      val v = math.floor(f.max(0.0).min(1.0) * 65536).toLong
      if (v >= 65536L) "g" else f"$v%04x"   // "g" > any hex: keep all
    }
    val bucket = substring(
      md5(concat(col(keyCol).cast("string"), lit(":"), lit(salt))), 1, 4)
    val thr = fractions.foldLeft(when(lit(false), lit(""))) {
      case (acc, (stratum, f)) => acc.when(col(strataCol) === stratum, lit(hex4(f)))
    }.otherwise(lit(hex4(defaultFraction)))
    df.withColumn("bucket", bucket).filter(col("bucket") < thr)
  }

  /** Target-distribution mixture sampling: the LARGEST deterministic
    * subsample whose strata hit requested proportions exactly — the
    * "data mixing" step that rebalances a skewed crawl (43% en → a
    * 2:1:1:1:1 training mix) before training. Where
    * [[stratifiedSample]] takes per-stratum RATES as given, this op
    * DERIVES them: targets are integer parts p_g (sum P); the max
    * feasible total is K = min_g (n_g·P div p_g) (the scarcest
    * stratum binds, sampling at rate 1; abundant strata downsample to
    * match), and stratum g keeps ~K·p_g/P docs via the md5-threshold
    * test of [[stratifiedSample]] (threshold = K·p_g·65536 div
    * (P·n_g), INTEGER arithmetic end to end so any engine derives the
    * same cut — exact while counts stay below ~2⁶³/(P·65536), i.e.
    * ~1.4e12 docs at P=100; past that, widen to decimal).
    * A target stratum ABSENT from the data makes K = 0 and the result
    * EMPTY — no size achieves the requested mixture, and an empty
    * answer is loud where a silently-wrong mixture is not. Strata not
    * in `targetParts` are excluded. Same determinism contract as the
    * other md5 ops: stable across runs, partitionings, and engines.
    *
    * Scale shape: one partial-agg count shuffle (strata-bounded), a
    * strata-row min for K, a broadcast threshold join, then a
    * map-only filter — the corpus is never shuffled.
    */
  def mixtureSample(df: DataFrame, keyCol: String, strataCol: String,
                    salt: String, targetParts: Map[String, Int]): DataFrame = {
    require(targetParts.nonEmpty, "targetParts must not be empty")
    require(targetParts.values.forall(_ > 0),
      s"target parts must be positive, got $targetParts")
    val totalParts = targetParts.values.map(_.toLong).sum
    val spark = df.sparkSession
    import spark.implicits._
    val parts = targetParts.toSeq.sortBy(_._1)
      .toDF("stratum", "parts")
      .select(col("stratum"), col("parts").cast("long").as("parts"))
    val counts = df.select(col(strataCol).cast("string").as("stratum"))
      .groupBy("stratum").agg(count(lit(1)).as("n"))
    // LEFT join from targets: an absent stratum carries n = 0, whose
    // n*P div parts = 0 drives K (and so every threshold) to zero
    val joined = parts.join(counts, Seq("stratum"), "left_outer")
      .select(col("stratum"), coalesce(col("n"), lit(0L)).as("n"), col("parts"))
    val k = joined.agg(min(expr(s"n * $totalParts DIV parts")).as("k"))
    val thresholds = joined.crossJoin(broadcast(k))
      .withColumn("t", when(col("n") > 0,
        expr(s"k * parts * 65536 DIV ($totalParts * n)")))
      .select(col("stratum"),
        when(col("t").isNull, lit("0000"))
          .when(col("t") >= 65536L, lit("g"))   // 'g' > any hex: keep all
          .otherwise(format_string("%04x", col("t"))).as("graft_thr"))
    df.withColumn("bucket", substring(
        md5(concat(col(keyCol).cast("string"), lit(":"), lit(salt))), 1, 4))
      .join(broadcast(thresholds), col(strataCol) === col("stratum"))
      .filter(col("bucket") < col("graft_thr"))
      .drop("stratum", "graft_thr")
  }

  /** WEIGHTED sampling without replacement, deterministic: the top-k
    * rows per group under the A-ES order (Efraimidis & Spirakis, IPL
    * 97(5), 2006) — each row draws u ∈ (0,1] and ranks by u^(1/w), so
    * inclusion probability is proportional to weight w without any
    * second pass over the corpus. The curation shape: "sample 10k
    * docs per language, biased toward quality" — where an unweighted
    * split (t8/t11) treats a spam page and a textbook alike.
    *
    * Engine-portable and RNG-free (the t8/t11/t13 contract): u is NOT
    * a random draw but the 60-bit md5-fold of (id:salt) scaled to
    * (0,1] — a pure function of the row key, so the sample is stable
    * across runs, engines, partitionings, and corpus growth. Ranking
    * uses the monotone-equivalent key ln(u)/w (descending): same
    * order as u^(1/w), but needs only the t18 portable-ln recipe
    * (6dp-floor-rounded ln on a bit-identical u; the one trailing
    * division is a single IEEE op on identical inputs) instead of a
    * cross-engine pow. Rows with weight <= 0 are EXCLUDED — the
    * w → 0 limit of u^(1/w) is "never sampled", and a negative weight
    * has no sampling meaning.
    *
    * Scale shape: key math is map-only; per-group top-k rides the
    * `graft_topk` bounded aggregate (partial-agg, fixed k-row state
    * per task — never a per-group sort of the corpus) with the
    * window fallback ([[Native.topKOf]]). Output:
    * (grp, rank, id, skey 6dp), rank 1..k by (skey desc, id).
    */
  def weightedSample(df: DataFrame, idCol: String, groupCol: String,
                     weightCol: String, salt: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import graft.functions.num.fround
    val h = conv(substring(
        md5(concat(col(idCol).cast("string"), lit(":"), lit(salt))), 1, 15),
      16, 10).cast("long")
    // u = (h+1)/2^60 ∈ (0,1]: the int→double conversion rounds the
    // same way (IEEE nearest-even) in every engine, the division is
    // an exact power-of-two scale
    val u = (h + lit(1L)).cast("double") / lit(1152921504606846976.0)
    // The weight>0 cut is folded into skey as a NULL (top-k skips null
    // scores) instead of a separate Filter: a deterministic filter on
    // the derived weight column is pushed below the corpus loader's
    // parallelism-floor exchange and re-evaluates the full weight
    // expression on the narrow scan split (§4.4's duplicate-evaluation,
    // measured as the t31 wall).
    val scored = df
      .select(col(groupCol).as("grp"), col(idCol).as("id"),
        when(col(weightCol) > 0.0, fround(log(u), 6) / col(weightCol))
          .as("skey"))
    Native.topKOf(scored, "grp", "skey", "id", k)
      .withColumn("skey", fround(col("skey"), 6))
  }

  /** Deterministic training-order shuffle: a reproducible global
    * order decorrelated from ingest order (the "shuffle the corpus
    * before training" step), with no RNG and no global sort.
    *
    * Order = (bucket, pos): bucket is the first `hexPrefixLen` hex
    * chars of md5(key:salt) (16^hexPrefixLen buckets), pos is the rank
    * within the bucket by the full hash. Consumers read buckets in
    * order — the concatenation is the global shuffled order, and it is
    * IDENTICAL for every hexPrefixLen (the bucket is a prefix of the
    * hash, so (bucket, hash) sorts exactly like the hash alone; the
    * prefix length only decides how the one global sort is cut into
    * bounded per-bucket sorts). Scale shape: the window partitions by
    * bucket, so no single-partition global window exists anywhere;
    * size hexPrefixLen so corpus/16^hexPrefixLen rows fit one
    * executor's sort buffer (2 → 256 buckets is fine to ~100 GB
    * corpora; 100 TB wants 4 → 65536 buckets of ~1.5 GB).
    */
  def deterministicShuffle(df: DataFrame, keyCol: String, salt: String,
                           hexPrefixLen: Int = 2): DataFrame = {
    require(hexPrefixLen >= 1 && hexPrefixLen <= 8,
      s"hexPrefixLen must be in [1,8], got $hexPrefixLen")
    val h = md5(concat(col(keyCol).cast("string"), lit(":"), lit(salt)))
    val w = Window.partitionBy("bucket").orderBy(col("h"), col(keyCol))
    df.where(col(keyCol).isNotNull)
      .withColumn("h", h)
      .withColumn("bucket", substring(col("h"), 1, hexPrefixLen))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("h")
  }

  /** Quality-ranked corpus selection under a GLOBAL token budget: walk
    * documents in (score desc, id asc) order and keep each while the
    * running token total stays ≤ `budgetTokens` (inclusive) — "take
    * the best N-tokens' worth of data", the standard budgeted
    * data-selection step after scoring (t2 quality, t18 NLL, t24
    * DSIR). Output = the kept (id, score, tokens) rows; the cut is a
    * pure function of the inputs, so it is deterministic across runs,
    * partitionings, and engines (scores compared as the 4dp-rounded
    * values every scorer here emits).
    *
    * Scale shape: the naive form is ONE GLOBAL cumsum window over the
    * corpus — a single-partition sort at 100 TB. This runs the t22
    * value-grid decomposition TWICE instead: (1) cumsum over the
    * DISTINCT-score grid (bounded by the 4dp resolution, ~10⁴ rows)
    * finds the one boundary score — values above it keep everything,
    * below it nothing; (2) within the boundary score only, cumsum
    * over floor(id/`bucketWidth`) id-buckets (monotonic in id, so
    * bucket order = id order) finds the one boundary bucket, and only
    * rows inside ONE bucket (≤ `bucketWidth` ids) ever see a
    * row-level window. No window anywhere partitions by more than a
    * bounded set: grid ≤ score resolution, bucket grid ≤ ties/width,
    * row window ≤ width.
    */
  def tokenBudgetSelect(df: DataFrame, idCol: String, scoreCol: String,
                        tokensCol: String, budgetTokens: Long,
                        bucketWidth: Long = 4096L): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    // the slim (id, score, tokens) projection feeds THREE consumers
    // (value grid, full-keep join, boundary rows); unpersisted, the
    // caller's upstream — typically a full quality-scoring pass over
    // the text — re-executes per consumer
    val rowsPlan = df.select(col(idCol).as("id"), col(scoreCol).as("q"),
      col(tokensCol).cast("long").as("tok"))
    val rows = rowsPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // level 1: distinct-score grid, cumulative tokens in rank order
    val grid = rows.groupBy("q").agg(sum("tok").as("vtok"))
      .withColumn("vrun", sum("vtok").over(Window.orderBy(col("q").desc)))
      .withColumn("vprev", col("vrun") - col("vtok"))
    // a value is FULLY kept iff its last doc still fits (vrun ≤ budget);
    // at most one value straddles the budget: vprev ≤ budget < vrun
    val keptFull = rows.join(
      broadcast(grid.filter(col("vrun") <= budgetTokens).select("q")), Seq("q"))
    val boundary = grid
      .filter(col("vprev") <= budgetTokens && col("vrun") > budgetTokens)
      .select(col("q").as("bq"), col("vprev").as("base"))
    // level 2, boundary score only: id-bucket grid, then a row window
    // bounded by bucketWidth ids inside the straddling bucket
    val brows = rows.join(broadcast(boundary), col("q") === col("bq"))
      .withColumn("bkt", floor(col("id") / bucketWidth))
    val bgrid = brows.groupBy("bkt").agg(sum("tok").as("btok"))
      .withColumn("brun", sum("btok").over(Window.orderBy("bkt")))
      .withColumn("bprev", col("brun") - col("btok"))
      .select(col("bkt"), col("bprev"))
    val keptBoundary = brows.join(bgrid, Seq("bkt"))
      .filter(col("base") + col("bprev") <= budgetTokens)
      .withColumn("rrun", sum("tok").over(
        Window.partitionBy("bkt").orderBy("id")))
      .filter(col("base") + col("bprev") + col("rrun") <= budgetTokens)
    keptFull.select("id", "q", "tok")
      .union(keptBoundary.select("id", "q", "tok"))
  }

  /** Train/eval decontamination: (train doc, eval doc) pairs sharing
    * at least `minShared` distinct word n-grams — the standard n-gram
    * collision check run before training so eval answers that leaked
    * into the training corpus are caught (the check GPT-3/PaLM-style
    * pipelines run with 8-13-grams).
    *
    * Grams with document frequency above `dfCap` are excluded first:
    * boilerplate shared by hundreds of documents indicates nothing
    * about copying, and the cap is ALSO the scale bound — the
    * gram-level equi-join fans out at most dfCap² rows per gram value,
    * so no hot gram can quadratically blow up the shuffle. Shape:
    * explode grams → df count (one partial-agg shuffle) → filter →
    * equi-join train×eval on the gram hash → pair count. No pairwise
    * block join anywhere, so cross-split pair count never appears as
    * an intermediate — only actually-colliding pairs materialize
    * (the d4 blocked-pair shape inverted, for the case where the pair
    * space is huge but collisions are sparse).
    *
    * Grams travel as 64-bit hashes (native kernel when loaded);
    * counts equal string-gram counts modulo xxhash64 collisions.
    */
  def contaminationPairs(docs: DataFrame, textCol: String, idCol: String,
                         splitCol: String, evalLabel: String, n: Int = 3,
                         dfCap: Long = 10, minShared: Long = 2): DataFrame = {
    val exploded = explodedGramStream(docs, textCol, idCol, splitCol, n)
    // grams are distinct within a doc, so count(*) = document frequency
    val rareGrams = exploded.groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
      .select("gram")
    val rare = exploded.join(rareGrams, "gram")
    pairsFromRare(rare, evalLabel, minShared)
  }

  /** The (id, split, gram-hash) stream shared by the decontamination
    * forms; persisted because it feeds several consumers (without the
    * persist the tokenize + gram-hash pass runs once per consumer —
    * measured 2.9s -> 1s at sf0.1; the session-lifetime pin every
    * shared intermediate gets, released by [[graft.GraftSession.sweep]]).
    */
  private def explodedGramStream(docs: DataFrame, textCol: String,
                                 idCol: String, splitCol: String, n: Int): DataFrame = {
    val toksed = docs.select(col(idCol).as("id"), col(splitCol).as("split"),
      text.tokens(Native.normOf(docs)(col(textCol))).as("toks"))
    val grams = Native.ngramHashesOf(toksed, n)
    val explodedPlan = grams.select(col("id"), col("split"),
      explode(col("grams")).as("gram"))
    explodedPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  private def pairsFromRare(rare: DataFrame, evalLabel: String,
                            minShared: Long): DataFrame = {
    val train = rare.filter(col("split") =!= evalLabel)
      .select(col("gram"), col("id").as("train_id"))
    val eval_ = rare.filter(col("split") === evalLabel)
      .select(col("gram"), col("id").as("eval_id"))
    train.join(eval_, "gram")
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** [[contaminationPairs]] with a BLOOM-PREFILTERED train side —
    * row-identical output, built for the corpus-scale asymmetry where
    * train grams outnumber eval grams by orders of magnitude. The
    * eval side's grams fold into a `graft_bloom_agg` word array
    * (fixed `numBits` bits regardless of eval size — where t17's
    * exact vocab broadcast grows with the build side); train grams
    * cross the 1-row broadcast and drop unless `graft_bloom_contains`
    * passes, BEFORE the df-count shuffle — so the big shuffle carries
    * only grams that (within fpp) appear in eval, instead of the full
    * train gram stream.
    *
    * Correctness: blooms have NO false negatives, so every train
    * occurrence of an eval gram survives → each surviving eval gram's
    * document frequency over (survivors ∪ eval) is EXACT, the df-cap
    * keeps/drops exactly d6's gram set, and the pair join discards
    * false positives (they match no eval gram) — output = d6
    * bit-for-bit, spec-asserted. Extension-less sessions fall back to
    * the plain form (same rows, bigger shuffle).
    */
  def contaminationPairsBloom(docs: DataFrame, textCol: String, idCol: String,
                              splitCol: String, evalLabel: String, n: Int = 3,
                              dfCap: Long = 10, minShared: Long = 2,
                              numBits: Int = 1 << 20, numHashes: Int = 5): DataFrame = {
    if (!Native.enabled(docs, "graft_bloom_agg"))
      return contaminationPairs(docs, textCol, idCol, splitCol, evalLabel,
        n, dfCap, minShared)
    val exploded = explodedGramStream(docs, textCol, idCol, splitCol, n)
    val evalGrams = exploded.filter(col("split") === evalLabel)
    val bloom = evalGrams.agg(call_function("graft_bloom_agg",
      col("gram"), lit(numBits), lit(numHashes)).as("graft_bloom"))
    val trainSurvivors = exploded.filter(col("split") =!= evalLabel)
      .crossJoin(broadcast(bloom))
      .filter(call_function("graft_bloom_contains",
        col("graft_bloom"), col("gram"), lit(numHashes)))
      .select("id", "split", "gram")
    val candidates = trainSurvivors.union(evalGrams)
    // df over (surviving train ∪ eval) = exact df for every gram that
    // appears in eval (no false negatives); fp-only grams never pair
    val rareGrams = candidates.groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
      .select("gram")
    pairsFromRare(candidates.join(rareGrams, "gram"), evalLabel, minShared)
  }

  /** C4/Gopher-style composable quality filter: per-document rule
    * verdicts plus the conjunctive keep decision. Each rule is a
    * named, documented predicate over cheap column stats; emitting
    * the per-rule bits (not just `keep`) is what makes the filter
    * auditable — corpus reports read the bit columns to see WHY mass
    * was dropped. Pure map-only codegen'd column math; thresholds are
    * the caller's contract.
    *
    * Rules (1 = pass): `r_len` token count in [minTokens, maxTokens];
    * `r_word_len` mean token length in [minMeanWordLen,
    * maxMeanWordLen]; `r_stop` at least minStopwords stopword hits;
    * `r_digit` digit chars below maxDigitRatio of all chars;
    * `r_max_word` longest token at most maxWordLen chars (catches
    * unbroken blobs/base64).
    */
  def qualityFilter(df: DataFrame, textCol: String, idCol: String,
                    minTokens: Long = 10, maxTokens: Long = 100000,
                    minMeanWordLen: Double = 2.0, maxMeanWordLen: Double = 12.0,
                    minStopwords: Long = 1, maxDigitRatio: Double = 0.3,
                    maxWordLen: Long = 30,
                    passthrough: Seq[String] = Nil): DataFrame = {
    // Every rule bit feeds off ONE text-stats struct (with the kernel,
    // one byte scan instead of a re-tokenize per rule — the measured
    // c3 scan wall once the keep filter is pushed to the source).
    // Coalesces replicate `tokens(null) = []` → zero counts, digitRatio
    // keeps length(null)'s null propagation.
    val staged = df
      .withColumn("graft_stats", Native.textStatsOf(df)(col(textCol)))
      .select(Seq(col(idCol).as("doc_id"), col(textCol).as("txt"),
        col("graft_stats")) ++ passthrough.map(col): _*)
    val n = coalesce(col("graft_stats.n_tokens"), lit(0L))
    val meanWordLen = when(n === 0, 0.0)
      .otherwise(col("graft_stats.sum_tok_len").cast("double") / n)
    val maxWord = coalesce(col("graft_stats.max_tok_len"), lit(0))
    val stopHits = coalesce(col("graft_stats.hits_en"), lit(0L))
    val digitCnt = col("graft_stats.n_digit")
    val digitRatio = when(length(col("txt")) === 0, 0.0)
      .otherwise(digitCnt.cast("double") / length(col("txt")))
    val bit = (c: Column) => when(c, 1).otherwise(0)
    staged.select(Seq(
        col("doc_id"),
        n.as("n_tokens"),
        bit(n >= minTokens && n <= maxTokens).as("r_len"),
        bit(meanWordLen >= minMeanWordLen && meanWordLen <= maxMeanWordLen).as("r_word_len"),
        bit(stopHits >= minStopwords).as("r_stop"),
        bit(digitRatio < maxDigitRatio).as("r_digit"),
        bit(maxWord <= maxWordLen).as("r_max_word"))
        ++ passthrough.map(col): _*)
      .withColumn("keep",
        when(col("r_len") + col("r_word_len") + col("r_stop")
          + col("r_digit") + col("r_max_word") === 5, 1).otherwise(0))
  }

  /** Token-budget sequence packing (concatenate-and-chunk): documents
    * are laid out in `idCol` order within each shard, and `pack_id` is
    * the chunk of `budgetTokens` tokens in which a document STARTS
    * (floor of the exclusive prefix token count / budget) —
    * `pack_offset` is its token offset inside that chunk. This is the
    * standard pack-then-split layout LLM trainers feed (documents are
    * concatenated in a deterministic order and the stream is cut every
    * `budgetTokens`); emitting the (doc → pack, offset) map instead of
    * materialized packs keeps the operator a pure metadata pass.
    *
    * Scale shape: one window per shard — the shard column IS the
    * parallelism contract (one output file / writer per shard, like
    * the training data layout itself); token counting is map-side.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    shardCol: String, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    val w = Window.partitionBy("shard").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(shardCol).as("shard"), col(idCol),
        text.tokenCount(col(textCol)).as("n_tokens"))
      .withColumn("prev_tokens", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("shard"), col(idCol), col("n_tokens"),
        floor(col("prev_tokens") / budgetTokens).cast("long").as("pack_id"),
        (col("prev_tokens") % budgetTokens).as("pack_offset"))
  }

  /** SHARDED TRAINING-EXPORT assignment (t47's relational core) — the
    * pipeline's LAST MILE: every curated document gets a deterministic
    * (shard_id, pos, pack_id) so N trainer workers can each read one
    * shard file of pre-shuffled, pre-packed sequences. Composes the
    * three export invariants this library already establishes, into
    * one pass:
    *
    *  - SHARD by the t8 hash rule: shard_id = (first-4-hex of
    *    md5(id:salt) as an integer) mod nShards — deterministic,
    *    accretion-safe (a re-run or a grown corpus never moves an
    *    existing id), engine-portable.
    *  - ORDER within shard by the t13 deterministic shuffle: (full
    *    md5 hash, id) — training order decorrelated from ingest order
    *    with no RNG; pos is the 1-based rank.
    *  - PACK in that order by the t9 rule: pack_id =
    *    floor(running-prior-tokens / budgetTokens) — which fixed-size
    *    training sequence the doc starts in.
    *
    * Scale shape: ONE shuffle — the window partitions by shard_id and
    * its single (hash, id) sort order serves both the rank and the
    * running token sum; everything upstream is map-only column math.
    * Shard count bounds the per-partition sort (corpus/nShards rows);
    * size nShards so a shard fits an executor sort buffer, exactly
    * the t13 hexPrefixLen rule.
    *
    * Output: (id, n_tokens, shard_id, pos, pack_id). Null ids drop
    * (the t8/t13 contract).
    */
  def shardAssignments(df: DataFrame, idCol: String, textCol: String,
                       salt: String, nShards: Int,
                       budgetTokens: Long): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    val h = md5(concat(col(idCol).cast("string"), lit(":"), lit(salt)))
    val base = df.where(col(idCol).isNotNull)
      .select(col(idCol).as("id"),
        text.tokenCount(col(textCol)).as("n_tokens"), h.as("h"))
      .withColumn("shard_id",
        conv(substring(col("h"), 1, 4), 16, 10).cast("long") % nShards)
    val order = Window.partitionBy("shard_id").orderBy(col("h"), col("id"))
    base
      .withColumn("pos", row_number().over(order).cast("long"))
      .withColumn("prev_tokens", coalesce(sum(col("n_tokens"))
        .over(order.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("id"), col("n_tokens"), col("shard_id"), col("pos"),
        floor(col("prev_tokens") / budgetTokens).cast("long").as("pack_id"))
  }

  /** Per-shard EXPORT MANIFEST (t47) — the checkable receipt a
    * training job reads before trusting a shard directory: doc count,
    * sequence count, token mass, and an ORDER-SENSITIVE content hash
    * per shard. A re-export that changed anything — a dropped doc, a
    * shifted training order, a different packing — changes the hash;
    * two exports with equal manifests carry byte-equal training
    * streams.
    *
    * content_hash = XOR over the shard's rows of the 60-bit md5-fold
    * of "pos:id:n_tokens:pack_id". XOR is commutative (so the
    * aggregation is partial-agg friendly and partitioning-invariant)
    * while the embedded pos makes the digest ORDER-sensitive: swapping
    * two docs' training positions changes both terms. Engine-portable
    * (the d22 md5-fold contract) — DuckDB replays it bit-for-bit.
    *
    * Scale shape: [[shardAssignments]]'s one shuffle + a partial agg
    * on the bounded nShards grid. Empty shards yield no row (an
    * export writes no file for them); n_seqs = max pack_id + 1.
    */
  def shardManifest(df: DataFrame, idCol: String, textCol: String,
                    salt: String, nShards: Int,
                    budgetTokens: Long): DataFrame =
    manifestOfAssignments(
      shardAssignments(df, idCol, textCol, salt, nShards, budgetTokens))

  /** The [[shardManifest]] rollup applied to an ALREADY-COMPUTED
    * [[shardAssignments]] result — split out so a writer that holds
    * the assignment table (Sources.writeTrainingShards) derives the
    * manifest from it in one pass instead of re-running the tokenize +
    * window assignment over the corpus a second time.
    */
  def manifestOfAssignments(asg: DataFrame): DataFrame =
    asg
      .withColumn("row_fold",
        conv(substring(md5(concat_ws(":", col("pos"), col("id"),
          col("n_tokens"), col("pack_id"))), 1, 15), 16, 10).cast("long"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        (max(col("pack_id")) + 1).as("n_seqs"),
        sum(col("n_tokens")).as("n_tokens"),
        call_function("bit_xor", col("row_fold")).as("content_hash"))
      .orderBy("shard_id")

  /** MIXTURE-WEIGHT LEARNING (t48, DoReMi-lite; Xie et al., 2023) —
    * the missing half of the mixture story: [[mixSample]] (t26)
    * samples at GIVEN weights and [[sourceCap]] (t43) caps a source,
    * but nothing LEARNED the weights. This runs a bounded-round
    * multiplicative-weights update that shifts mixture mass toward
    * sources with ABOVE-MIXTURE held-out loss (DoReMi's "excess
    * loss" signal, with the current mixture's own expected loss as
    * the moving reference in place of DoReMi's trained reference
    * model — the -lite part; the loss proxy is t18's unigram-LM NLL
    * in place of a trained proxy LM):
    *
    *   L_r        = per-source mean held-out NLL (fixed across rounds)
    *   baseline_t = Σ_r w_{t-1,r} · L_r       (the mixture's loss)
    *   excess_t,r = max(0, L_r − baseline_t)
    *   w_t,r      ∝ w_{t-1,r} · (1 + eta · excess_t,r), renormalized
    *
    * As weight flows toward hard sources the baseline rises and the
    * excess shrinks — a fixed-point iteration whose trajectory (not
    * just the endpoint) is the checkable artifact, the t37
    * EM-trajectory oracle technique: every step is engine-exact
    * (6dp/8dp floor-rounds before every cross-row sum, sums in exact
    * decimal, scalar ops pure IEEE doubles), so DuckDB replays all
    * `rounds` rounds digit-for-digit.
    *
    * Held-out split = the t8 rule on md5(id:salt) (train < 'e666' —
    * the t18/t37 split); the model trains on the train side, scores
    * the held-out side only (scoring the training side would reward
    * memorization, not difficulty). Sources with no scored held-out
    * doc (empty/whitespace-only, or fully train-side) take no part.
    *
    * Scale shape: the corpus is touched by t18's scoring passes only;
    * everything after the per-source rollup runs on the BOUNDED
    * source table (domains — the centroid-table driver-state class),
    * collected once and iterated driver-side. Output: one row per
    * (round, source) — round 0 is the uniform init (excess NULL).
    */
  def mixtureWeights(docs: DataFrame, textCol: String, idCol: String,
                     srcCol: String, salt: String = "graft",
                     rounds: Int = 5, eta: Double = 0.5): DataFrame = {
    require(rounds >= 1 && rounds <= 64,
      s"rounds must be in [1, 64], got $rounds")
    require(eta > 0.0 && eta <= 16.0, s"eta must be in (0, 16], got $eta")
    val spark = docs.sparkSession
    import spark.implicits._
    def fr(x: Double, d: Int): Double = {
      val m = math.pow(10, d); math.floor(x * m + 0.5) / m
    }
    // exact cross-row sum of already-rounded doubles: BigDecimal
    // recovers each double's shortest decimal (== its rounded value),
    // adds exactly, and the final to-double conversion matches the
    // oracle's CAST(sum(DECIMAL) AS DOUBLE) — order-free
    def decSum(xs: Seq[Double]): Double =
      xs.map(java.math.BigDecimal.valueOf)
        .foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).doubleValue()
    val isTrain = substring(md5(concat(col(idCol).cast("string"),
      lit(":"), lit(salt))), 1, 4) < lit("e666")
    val scores = TextAnalysis.lmScore(
      docs.filter(isTrain), docs.filter(!isTrain), textCol, idCol)
    val perSrc = scores
      .join(docs.select(col(idCol).as("doc_id"), col(srcCol).as("source")),
        Seq("doc_id"))
      .groupBy("source")
      .agg(graft.functions.num.fround(
        sum(col("mean_nll").cast("decimal(18,4)")).cast("double")
          / count(lit(1)), 6).as("loss"))
    // bounded driver state: one (source, loss) row per domain
    val base = perSrc.orderBy("source").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    require(base.nonEmpty,
      "mixtureWeights: no held-out scored docs — nothing to weight")
    val n = base.length
    var w: Seq[Double] = Seq.fill(n)(fr(1.0 / n, 6))
    val traj = scala.collection.mutable.ArrayBuffer[
      (Int, String, Double, Option[Double], Double)]()
    base.indices.foreach { i =>
      traj += ((0, base(i)._1, base(i)._2, None, w(i)))
    }
    for (t <- 1 to rounds) {
      val baseline = fr(decSum(base.indices.map(i => fr(w(i) * base(i)._2, 8))), 6)
      val excess = base.indices.map(i =>
        math.max(0.0, fr(base(i)._2 - baseline, 6)))
      val raw = base.indices.map(i => fr(w(i) * (1.0 + eta * excess(i)), 6))
      val denom = decSum(raw)
      w = base.indices.map(i => fr(raw(i) / denom, 6))
      base.indices.foreach { i =>
        traj += ((t, base(i)._1, base(i)._2, Some(excess(i)), w(i)))
      }
    }
    traj.toSeq.toDF("round", "source", "loss", "excess", "weight")
      .orderBy("round", "source")
  }

  /** Sliding-window passage chunking: overlapping fixed-size token
    * windows with a stride — the RAG / pretraining passage-extraction
    * step, and [[packSequences]]'s sibling (packing concatenates many
    * docs up to a budget; chunking cuts ONE doc into model-window
    * passages). Chunk i covers tokens [i·stride, i·stride+window);
    * the chunk count is ceil(max(n − window, 0) / stride) + 1, so the
    * last chunk is the FIRST whose window reaches the end of the
    * document — every token is covered, no start lies beyond the
    * text, consecutive chunks overlap by window − stride tokens, and
    * a doc with n ≤ window yields exactly one chunk. Zero-token docs
    * yield no rows.
    *
    * Scale shape: MAP-ONLY — the token array materializes once per
    * row (§3 rule: never re-tokenize inside a lambda), starts
    * enumerate via sequence/transform, posexplode is a flatMap; no
    * shuffle, no window function, parallelism = input partitioning.
    * Output size is rows × ceil-ish(n/stride) — the fan-out is the
    * operator's contract, not a blow-up.
    */
  def chunkPassages(df: DataFrame, idCol: String, textCol: String,
                    windowTokens: Int = 64, stride: Int = 48): DataFrame = {
    require(windowTokens >= 1, s"windowTokens must be >= 1, got $windowTokens")
    require(stride >= 1 && stride <= windowTokens,
      s"stride must be in [1, windowTokens], got $stride")
    df.select(col(idCol).as("doc_id"), text.tokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .where(col("n") > 0)
      .withColumn("n_chunks",
        ceil(greatest(col("n") - windowTokens, lit(0L)).cast("double") / stride)
          .cast("int") + 1)
      .select(col("doc_id"), col("n"), col("toks"),
        posexplode(transform(sequence(lit(0), col("n_chunks") - 1),
          i => i * stride)))
      .select(col("doc_id"),
        col("pos").cast("long").as("chunk_idx"),
        col("col").cast("long").as("tok_start"),
        least(lit(windowTokens.toLong), col("n") - col("col")).as("n_tokens"),
        concat_ws(" ", slice(col("toks"), col("col") + 1, lit(windowTokens)))
          .as("chunk_text"))
  }

  /** The COMPOSED curation pipeline as one declarative job graph —
    * the end-to-end path a corpus actually takes: exact dedup (keep
    * the canonical min-id doc per normalized-text fingerprint) →
    * quality filter (t16's conjunctive rules) → PII scrub (t7) →
    * deterministic split (t8). One row per SURVIVING document with
    * its split assignment and redaction counts. Because every stage
    * is a DataFrame→DataFrame operator, Catalyst plans the whole
    * chain together — filters push into the shared scan, the dedup
    * shuffle is the only corpus-wide exchange, and the scrub/split
    * stages stay map-only on the survivor stream.
    */
  def curationPipeline(docs: DataFrame, textCol: String, idCol: String,
                       langCol: String, splitSalt: String = "graft",
                       fractions: Seq[(String, Double)] =
                         Seq(("train", 0.9), ("val", 0.05), ("test", 0.05))): DataFrame = {
    // ONE survivor STREAM, not a web of join-backs: the original
    // composition re-joined `unique` into every stage, and since each
    // stage is map-only the re-joins only multiplied corpus scans —
    // the plan referenced the documents scan 10×. Now: fingerprint
    // once, keep canonical rows via one slim semi-join (the id-only
    // aggregate is the second and last corpus scan), then quality →
    // scrub → split CHAIN map-only with the needed columns carried
    // through (`passthrough`). Output identical row-for-row — the
    // same verdicts on the same texts — under the same oracle.
    val fpd = docs.select(col(idCol), col(langCol), col(textCol),
      md5(Native.normOf(docs)(col(textCol))).as("graft_fp"))
    val canon = fpd.groupBy("graft_fp").agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    val unique = fpd.join(canon, Seq(idCol)).drop("graft_fp")
    val kept = qualityFilter(unique, textCol, idCol,
        passthrough = Seq(textCol, langCol))
      .filter(col("keep") === 1)
      .select(col("doc_id").as(idCol), col(textCol), col(langCol))
    val scrubbed = scrubPii(kept, textCol, idCol, passthrough = Seq(langCol))
    deterministicSplit(scrubbed, idCol, splitSalt, fractions)
      .select(col(idCol), col(langCol), col("split"),
        col("n_emails"), col("n_phones"))
  }

  /** DSIR importance weights (Data Selection via Importance
    * Resampling, Xie et al., NeurIPS 2023): score every document by
    * how target-like it is under two bag-of-hashed-ngram models —
    * log w(x) = Σ_features tf·(ln p_target(b) − ln p_raw(b)) — the
    * published recipe for selecting in-domain pretraining data from a
    * raw crawl. `targetFilter` marks the in-domain rows (they stay in
    * the raw model too, as in the paper's raw = full-corpus setup).
    *
    * Features are unigrams ++ bigrams of the normalized tokens,
    * hashed into `buckets` buckets via the portable md5-prefix idiom
    * (engine-reproducible, fixed model size). Both models get add-α
    * smoothing over the bucket space; ln of each bucket's ratio is
    * floor-rounded at 6dp per DISTINCT bucket and the per-doc sum
    * runs in exact decimal (t18's portability recipe — a plain double
    * sum flips 4dp boundaries under partition-order differences).
    *
    * Scale shape: feature formation is map-only (`transform` over the
    * token array, never a positional self-join); the only corpus
    * shuffle is the (doc, bucket) partial-agg groupBy; both models
    * are EXACTLY `buckets` rows or fewer — fixed-size broadcasts at
    * any corpus scale — and the totals ride a 1-row broadcast.
    * Selection downstream is a TakeOrdered top-k on the weight, never
    * a global sort. Docs with zero tokens produce no row.
    */
  def dsirWeights(docs: DataFrame, textCol: String, idCol: String,
                  targetFilter: Column, buckets: Int = 8192,
                  alpha: Double = 0.5): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val norm = Native.normOf(docs)
    val fold = Native.md5FoldOf(docs)
    val toks = docs.withColumn("graft_norm", norm(col(textCol)))
      .select(col(idCol).as("doc_id"), targetFilter.as("is_target"),
        text.tokens(col("graft_norm")).as("toks"))
    val bigrams = when(size(col("toks")) >= 2,
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => concat(element_at(col("toks"), i), lit(" "),
            element_at(col("toks"), i + 1))))
      .otherwise(array().cast("array<string>"))
    // posts feeds THREE consumers (target model, raw model, per-doc
    // scoring join) whose exchanges differ (the target leg pushes its
    // filter below the agg), so nothing reuses: unpersisted, the
    // explode + per-feature md5 pass — the operator's dominant cost —
    // runs once PER CONSUMER. Persist the slim (doc, flag, bucket, tf)
    // table instead; its size is ≤ distinct features per doc.
    val postsPlan = toks
      .select(col("doc_id"), col("is_target"),
        explode(concat(col("toks"), bigrams)).as("f"))
      .select(col("doc_id"), col("is_target"),
        pmod(fold(col("f")), lit(buckets.toLong)).as("b"))
      .groupBy("doc_id", "is_target", "b")
      .agg(count(lit(1)).cast("double").as("tf"))
    val posts = postsPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tgt = posts.filter(col("is_target")).groupBy("b").agg(sum("tf").as("tcnt"))
    val raw = posts.groupBy("b").agg(sum("tf").as("rcnt"))
    val stats = tgt.agg(sum("tcnt").as("t_total"))
      .crossJoin(broadcast(raw.agg(sum("rcnt").as("r_total"))))
    val denomT = col("t_total") + lit(alpha * buckets)
    val denomR = col("r_total") + lit(alpha * buckets)
    posts
      .join(broadcast(tgt), Seq("b"), "left")
      .join(broadcast(raw), Seq("b"))
      .crossJoin(broadcast(stats))
      .withColumn("lr", graft.functions.num.fround(log(
        ((coalesce(col("tcnt"), lit(0.0)) + lit(alpha)) / denomT) /
          ((col("rcnt") + lit(alpha)) / denomR)), 6))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_feats"),
        sum(col("tf").cast("decimal(9,0)") * col("lr").cast("decimal(18,6)"))
          .as("w"))
      .select(col("doc_id"), col("n_feats").cast("long").as("n_feats"),
        graft.functions.num.fround(col("w").cast("double"), 4).as("log_w"))
  }

  /** TRAINED quality classifier (the CCNet / GPT-3-recipe filtering
    * rung): a multinomial naive-Bayes model over hashed n-gram
    * features, trained target-vs-rest on the TRAIN split only, scoring
    * EVERY document with a log-odds and a threshold verdict. This is
    * the discriminative "looks like the target corpus" scorer the
    * published curation recipes end in — where [[dsirWeights]] (t24)
    * yields importance weights against the RAW corpus and
    * [[qualityFilter]] (t16) applies fixed heuristics, this one FITS a
    * decision rule on labeled data and applies it to held-out docs.
    *
    * Model: per-class bucket counts with add-`alpha` smoothing over
    * the `buckets`-bucket hashed unigram+bigram feature space (t24's
    * feature map, verbatim — portable md5-fold buckets), class priors
    * from train doc counts with +1 smoothing (a degenerate single-
    * class training set scores finite, not ±∞). Per-bucket log-
    * likelihood ratio is ONE ln of the ratio-of-ratios, 6dp-rounded;
    * the per-doc sum Σ tf·llr runs in exact decimal and the prior
    * adds in decimal before the final 4dp round (t18's portability
    * recipe end to end — every FP step is a single identically-
    * associated expression both engines evaluate bit-identically).
    *
    * Scale shape = t24's: feature formation map-only; ONE corpus
    * shuffle (the (doc, class, bucket) partial-agg groupBy); both
    * class models are ≤ `buckets` rows — fixed-size broadcasts at any
    * corpus scale; priors/totals ride a 1-row broadcast; scoring is a
    * broadcast join + map-side fold, so applying the trained model to
    * 100 TB is an embarrassingly parallel scan. Train cost is the
    * same scan restricted to the split — never a second corpus pass.
    * Docs with zero tokens produce no row (no features, no verdict —
    * t24's contract).
    *
    * Output: (doc_id, n_feats, log_odds 4dp, pred 0/1) — pred 1 iff
    * log_odds > `threshold` (0 = the Bayes decision boundary).
    */
  /** (doc_id, extras..., bucket, tf) hashed-feature postings — the
    * shared feature map of the NB-classifier family (t24's
    * unigram+bigram md5-fold buckets, verbatim), factored so
    * [[nbQualityScore]], [[nbFitModel]] and [[nbScoreWithModel]] can
    * never hash differently. Map-only until the one partial-agg
    * groupBy; docs with zero tokens produce no rows.
    */
  private def nbPosts(df: DataFrame, textCol: String, idCol: String,
                      buckets: Int,
                      extras: Seq[(String, Column)]): DataFrame = {
    val norm = Native.normOf(df)
    val fold = Native.md5FoldOf(df)
    val toks = df.withColumn("graft_norm", norm(col(textCol)))
      .select(col(idCol).as("doc_id") +: extras.map { case (n, c) => c.as(n) } :+
        text.tokens(col("graft_norm")).as("toks"): _*)
    val bigrams = when(size(col("toks")) >= 2,
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => concat(element_at(col("toks"), i), lit(" "),
            element_at(col("toks"), i + 1))))
      .otherwise(array().cast("array<string>"))
    val keep = col("doc_id") +: extras.map(e => col(e._1))
    toks
      .select(keep :+ explode(concat(col("toks"), bigrams)).as("f"): _*)
      .select(keep :+ pmod(fold(col("f")), lit(buckets.toLong)).as("b"): _*)
      .groupBy(keep :+ col("b"): _*)
      .agg(count(lit(1)).cast("double").as("tf"))
  }

  /** One row (nt, nr): the distinct target and non-target doc ids of
    * an [[nbPosts]] table — the naive-Bayes class prior counts. A row
    * with a null id or a null `is_target` counts in neither class.
    * One distinct over (doc_id, is_target) then one counting agg,
    * instead of two distinct aggregates that Spark plans through an
    * Expand whose branch order is not stable between runs.
    */
  private def nbDocCounts(posts: DataFrame): DataFrame =
    posts.select(col("doc_id"), col("is_target"))
      .where(col("doc_id").isNotNull && col("is_target").isNotNull)
      .distinct()
      .agg(count(when(col("is_target"), lit(1))).as("nt"),
        count(when(!col("is_target"), lit(1))).as("nr"))

  def nbQualityScore(docs: DataFrame, textCol: String, idCol: String,
                     targetFilter: Column, trainFilter: Column,
                     buckets: Int = 8192, alpha: Double = 0.5,
                     threshold: Double = 0.0): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    require(alpha > 0.0, s"alpha must be positive, got $alpha")
    // posts feeds FOUR consumers (two class models, the prior counts,
    // the scoring join) — persist the slim (doc, flags, bucket, tf)
    // table so the explode + per-feature md5 pass runs once (t24's
    // treatment of the same shape)
    val postsPlan = nbPosts(docs, textCol, idCol, buckets,
      Seq("is_target" -> targetFilter, "is_train" -> trainFilter))
    val posts = postsPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tgt = posts.filter(col("is_train") && col("is_target"))
      .groupBy("b").agg(sum("tf").as("tcnt"))
    val rst = posts.filter(col("is_train") && !col("is_target"))
      .groupBy("b").agg(sum("tf").as("rcnt"))
    val pri = nbDocCounts(posts.filter(col("is_train")))
    val stats = tgt.agg(coalesce(sum("tcnt"), lit(0.0)).as("t_total"))
      .crossJoin(broadcast(rst.agg(coalesce(sum("rcnt"), lit(0.0)).as("r_total"))))
      .crossJoin(broadcast(pri.select(graft.functions.num.fround(
        log((col("nt") + lit(1.0)) / (col("nr") + lit(1.0))), 6).as("prior"))))
    val ab = alpha * buckets
    posts
      .join(broadcast(tgt), Seq("b"), "left")
      .join(broadcast(rst), Seq("b"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("lr", graft.functions.num.fround(log(
        ((coalesce(col("tcnt"), lit(0.0)) + lit(alpha)) / (col("t_total") + lit(ab))) /
          ((coalesce(col("rcnt"), lit(0.0)) + lit(alpha)) / (col("r_total") + lit(ab)))), 6))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_feats"),
        (sum(col("tf").cast("decimal(9,0)") * col("lr").cast("decimal(18,6)"))
          + first(col("prior")).cast("decimal(18,6)")).as("w"))
      .select(col("doc_id"), col("n_feats").cast("long").as("n_feats"),
        graft.functions.num.fround(col("w").cast("double"), 4).as("log_odds"))
      .withColumn("pred",
        when(col("log_odds") > threshold, 1).otherwise(0))
  }

  /** Held-out EVAL GATE for [[nbQualityScore]] (the s5/s15 pattern
    * pointed at the classifier): score every doc with the trained
    * model, keep only the docs the model did NOT train on, join the
    * truth labels, and roll up the confusion matrix plus
    * precision/recall/F1/accuracy — the numbers a user tuning
    * `threshold` actually reads. Without this, the trained filter
    * ships with no declared measurement of its own error (VERDICT r09
    * missing #1).
    *
    * Only docs that RECEIVE a score row are evaluated (zero-token
    * docs have no features and no verdict — [[nbQualityScore]]'s
    * contract — so they cannot be counted against either class).
    * Ratios divide exact integer counts in double (IEEE-exact-rounded,
    * engine-identical) and 4dp-round; empty denominators yield NULL,
    * never 0/0. F1 is computed directly as 2·tp/(2·tp+fp+fn) — ONE
    * division of exact integers — not from the rounded p/r pair,
    * which would compound two roundings.
    *
    * Scale shape: scoring is [[nbQualityScore]]'s (map-only features,
    * one corpus shuffle, fixed-size model broadcasts); the truth join
    * is one doc_id equi-join of two corpus-scale slim projections
    * (AQE plans it — truth flags are NOT broadcast, they grow with
    * the corpus); the rollup is a partial agg onto ONE row.
    */
  def nbClassifierEval(docs: DataFrame, textCol: String, idCol: String,
                       targetFilter: Column, trainFilter: Column,
                       buckets: Int = 8192, alpha: Double = 0.5,
                       threshold: Double = 0.0): DataFrame = {
    val scored = nbQualityScore(docs, textCol, idCol, targetFilter,
      trainFilter, buckets, alpha, threshold)
    val flags = docs.select(col(idCol).as("doc_id"),
      targetFilter.as("is_target"), trainFilter.as("is_train"))
    val fr4 = (c: Column) => graft.functions.num.fround(c, 4)
    scored.join(flags, Seq("doc_id"))
      .filter(!col("is_train"))
      .agg(
        count(lit(1)).as("n_heldout"),
        sum(when(col("pred") === 1 && col("is_target"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") === 1 && !col("is_target"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("pred") === 0 && col("is_target"), 1L).otherwise(0L)).as("fn"),
        sum(when(col("pred") === 0 && !col("is_target"), 1L).otherwise(0L)).as("tn"))
      .select(col("n_heldout"), col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") > 0,
          fr4(col("tp").cast("double") / (col("tp") + col("fp")).cast("double")))
          .as("precision"),
        when(col("tp") + col("fn") > 0,
          fr4(col("tp").cast("double") / (col("tp") + col("fn")).cast("double")))
          .as("recall"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
          fr4((lit(2.0) * col("tp").cast("double")) /
            (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double")))
          .as("f1"),
        when(col("n_heldout") > 0,
          fr4((col("tp") + col("tn")).cast("double")
            / col("n_heldout").cast("double")))
          .as("accuracy"))
  }

  /** Precision/recall CURVE for [[nbQualityScore]] — [[nbClassifierEval]]
    * swept over a threshold grid: one confusion row PER candidate
    * threshold, all computed from ONE scoring pass (the grid join is
    * a bounded literal-array explode, so sweeping k thresholds costs
    * one extra k-fan map stage, never k scoring passes). This is the
    * artifact a threshold tune actually reads — t39 prices the
    * operating point you chose; the curve shows what the OTHER
    * choices would have cost.
    *
    * Same contracts as t39: held-out scored docs only; exact-integer
    * ratios in double, 4dp, NULL on empty denominators; F1 direct.
    * `thresholds` must be exact literals (engine-identical compares
    * against the 4dp log_odds).
    *
    * Scale shape: t39's plus the k-fan explode BEFORE the partial
    * agg — the shuffle carries k·(partial cells), bounded by the
    * grid, never k·corpus.
    */
  def nbPrCurve(docs: DataFrame, textCol: String, idCol: String,
                targetFilter: Column, trainFilter: Column,
                thresholds: Seq[Double] =
                  Seq(-2.0, -1.0, -0.5, 0.0, 0.5, 1.0, 2.0),
                buckets: Int = 8192, alpha: Double = 0.5): DataFrame = {
    require(thresholds.nonEmpty, "nbPrCurve: thresholds must be non-empty")
    val scored = nbQualityScore(docs, textCol, idCol, targetFilter,
      trainFilter, buckets, alpha, 0.0)
    val flags = docs.select(col(idCol).as("doc_id"),
      targetFilter.as("is_target"), trainFilter.as("is_train"))
    val fr4 = (c: Column) => graft.functions.num.fround(c, 4)
    scored.join(flags, Seq("doc_id"))
      .filter(!col("is_train"))
      .select(col("log_odds"), col("is_target"),
        explode(typedLit(thresholds)).as("threshold"))
      .withColumn("pred",
        when(col("log_odds") > col("threshold"), 1).otherwise(0))
      .groupBy("threshold")
      .agg(
        count(lit(1)).as("n_heldout"),
        sum(when(col("pred") === 1 && col("is_target"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") === 1 && !col("is_target"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("pred") === 0 && col("is_target"), 1L).otherwise(0L)).as("fn"),
        sum(when(col("pred") === 0 && !col("is_target"), 1L).otherwise(0L)).as("tn"))
      .select(col("threshold"), col("n_heldout"),
        col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") > 0,
          fr4(col("tp").cast("double") / (col("tp") + col("fp")).cast("double")))
          .as("precision"),
        when(col("tp") + col("fn") > 0,
          fr4(col("tp").cast("double") / (col("tp") + col("fn")).cast("double")))
          .as("recall"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
          fr4((lit(2.0) * col("tp").cast("double")) /
            (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double")))
          .as("f1"))
  }

  /** Exact ROC-AUC for [[nbQualityScore]] — the ONE scalar a model
    * comparison reads ([[nbClassifierEval]] prices a single operating
    * point, [[nbPrCurve]] a fixed grid; neither RANKS two models).
    * Rank-based Mann–Whitney with tie correction over the held-out
    * 4dp log-odds: AUC = P(score⁺ > score⁻) + ½·P(score⁺ = score⁻),
    * computed over the DISTINCT-score groups as
    * Σ_g (neg_below_g·pos_g + ½·pos_g·neg_g) / (n_pos·n_neg) — the
    * average-rank formulation with the ½ absorbed by doubling both
    * sides (num2 = Σ (2·neg_below·pos_g + pos_g·neg_g),
    * den = 2·n_pos·n_neg), so every term is an INTEGER and the only
    * FP step is one trailing division.
    *
    * Scale shape: scoring is t36's (map-only features, one corpus
    * shuffle, fixed-size model broadcasts); the held-out scores then
    * collapse to the DISTINCT 4dp score grid before the window (the
    * t22 value-grid principle). The grid is bounded by the number of
    * DISTINCT held-out scores — far below the corpus in practice, but
    * NOT a fixed constant: log-odds magnitude grows with document
    * length, so the 4dp resolution bounds density, not range. The
    * single-partition cumulative window therefore runs over the
    * distinct-score table, never the corpus; a caller expecting very
    * large grids (huge held-out splits of long documents) should bucket
    * scores first (t22) before this gate. Per-group
    * products stay in BIGINT — exact to ~2×10⁹ held-out docs per
    * class (a held-out EVAL split, not the corpus; generous) — and
    * the group sum accumulates in DECIMAL(38,0) so the total cannot
    * overflow; both engines convert the decimal and the two counts to
    * double identically (< 2⁵³) before the one division. AUC is NULL
    * when either class is absent from the held-out scored set (no
    * ranking is defined), never 0/0.
    */
  def nbRocAuc(docs: DataFrame, textCol: String, idCol: String,
               targetFilter: Column, trainFilter: Column,
               buckets: Int = 8192, alpha: Double = 0.5): DataFrame = {
    import graft.functions.num.fround
    val scored = nbQualityScore(docs, textCol, idCol, targetFilter,
      trainFilter, buckets, alpha, 0.0)
    val flags = docs.select(col(idCol).as("doc_id"),
      targetFilter.as("is_target"), trainFilter.as("is_train"))
    val grp = scored.join(flags, Seq("doc_id"))
      .filter(!col("is_train"))
      .groupBy("log_odds")
      .agg(sum(when(col("is_target"), 1L).otherwise(0L)).as("pos_g"),
        sum(when(!col("is_target"), 1L).otherwise(0L)).as("neg_g"))
    // global window over the DISTINCT-4dp-score grid only (bounded by
    // score resolution, the t22 shape) — never over held-out rows
    val w = Window.orderBy("log_odds")
      .rowsBetween(Window.unboundedPreceding, -1)
    grp.withColumn("cneg", coalesce(sum("neg_g").over(w), lit(0L)))
      .agg(
        sum(col("pos_g") + col("neg_g")).as("n_heldout"),
        sum("pos_g").as("n_pos"),
        sum("neg_g").as("n_neg"),
        sum((lit(2L) * col("cneg") * col("pos_g")
          + col("pos_g") * col("neg_g")).cast("decimal(38,0)")).as("num2"))
      .select(col("n_heldout").cast("long").as("n_heldout"),
        col("n_pos").cast("long").as("n_pos"),
        col("n_neg").cast("long").as("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          fround(col("num2").cast("double") /
            (lit(2.0) * col("n_pos").cast("double")
              * col("n_neg").cast("double")), 6))
          .as("auc"))
  }

  /** Per-source/domain QUOTA — the C4/Gopher "keep at most `n` docs
    * per domain, best first" curation rung that runs between dedup and
    * mixing: a crawl is dominated by a handful of boilerplate-heavy
    * domains, and capping each source at its `n` best docs (by a
    * quality score) is the standard counter before any global
    * selection sees the counts. Keeps the top `n` rows per group by
    * (`scoreCol` desc, id asc) — the id tie-break makes the cut
    * deterministic even on a 4dp score grid full of ties; groups
    * smaller than `n` keep everything (the cap binds only above `n`).
    *
    * Scale shape = [[weightedSample]]'s: the per-group top-n rides the
    * bounded `graft_topk` aggregate when registered — each map task
    * forwards at most `n` rows per group, so the shuffle carries
    * O(n · groups · partitions) rows, never a per-group sort of
    * corpus/groups rows (with few hot domains a window would buffer
    * enormous groups — the degenerate case the bounded aggregate
    * exists for). The fallback is the standard window idiom, the same
    * rows ([[Native.topKOf]]). A null score or id drops the row on both
    * paths.
    *
    * Output: (grp, rank 1-based, id, score) — rank in quota order.
    */
  def sourceCap(df: DataFrame, idCol: String, groupCol: String,
                scoreCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    // integral numeric ids widen LOSSLESSLY to long (graft_topk needs
    // bigint, and int ids are common); everything else — strings,
    // decimals, doubles — stays UNTOUCHED (the weightedSample
    // contract): a blind cast-to-long would turn a non-numeric id
    // into NULL for every row and silently drop all documents at any
    // join-back. An uncast non-long id fails loudly at analysis time
    // on the native path and still works on the window fallback
    val idExpr = df.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        col(idCol).cast("long")
      case _ => col(idCol)
    }
    val scored = df.select(col(groupCol).as("grp"),
      idExpr.as("id"),
      col(scoreCol).cast("double").as("score"))
    Native.topKOf(scored, "grp", "score", "id", n)
  }

  /** WITHIN-document paragraph dedup — CCNet's first cleaning rung,
    * BEFORE any cross-corpus pass: strip repeated lines/paragraphs
    * INSIDE each document (navigation chrome, repeated boilerplate
    * blocks, copy-paste loops), keeping each paragraph's FIRST
    * occurrence in document order. d1/d10/d19 compare ACROSS
    * documents and t14 measures within-doc repetition without
    * stripping it — this is the operator that actually cleans.
    *
    * Semantics (engine-exact, oracle-replicated): paragraphs =
    * `sep`-split of the text, each trimmed, empty strings dropped;
    * paragraph at 1-based position i survives iff its first
    * occurrence index (array_position — 1-based, first match, in both
    * engines) equals i. Output per doc: n_paras, n_dup_paras,
    * removed_chars (the summed length of stripped paragraphs), and
    * the cleaned text re-joined with `sep`.
    *
    * Scale shape: MAP-ONLY — one split + a handful of array
    * higher-order passes per row, no explode, no shuffle, no window;
    * the whole operator stays in the scan stage at any corpus size
    * (plan-asserted Exchange-free in CurationSpec). The first-
    * occurrence probe is SORT-BASED — (paragraph, position) structs
    * array_sort'ed so equal paragraphs become adjacent and the group
    * head carries the smallest position; survivors' positions re-sort
    * to document order. O(paras · log paras) string compares WITHIN
    * one row (document-bounded, never corpus-bounded) — the naive
    * per-element first-index probe is O(paras²), which stalls a task
    * on a pathological million-line boilerplate doc (CurationSpec
    * prices a 100k-paragraph doc through this form).
    */
  def paragraphDedup(df: DataFrame, textCol: String, idCol: String,
                     sep: String = "\n",
                     passthrough: Seq[String] = Nil): DataFrame = {
    require(sep.nonEmpty, "paragraphDedup: sep must be non-empty")
    // split() takes a regex — quote the separator so "." or "|"
    // separators mean themselves (Spark-side only; the oracle splits
    // on the literal)
    val paras = filter(
      transform(split(col(textCol), java.util.regex.Pattern.quote(sep)),
        p => trim(p)),
      p => p =!= "")
    val pass = passthrough.map(col)
    df.select(col(idCol).as("doc_id") +: paras.as("paras") +: pass: _*)
      // (paragraph, 1-based position) structs sorted by (p, i):
      // duplicates become ADJACENT and each group's head carries the
      // group's smallest position — first occurrence without the
      // quadratic per-element index probe
      .select(col("doc_id") +: col("paras") +:
        array_sort(transform(col("paras"),
          (p, i) => struct(p.as("p"), (i + 1).as("i")))).as("srt") +:
        pass: _*)
      // group heads (j = 0 or paragraph differs from the previous
      // element), then their positions re-sorted to document order.
      // element_at is 1-based, j is the 0-based lambda index, so
      // element_at(srt, j) IS the previous element for j >= 1; the
      // greatest(j, 1) clamp keeps the j = 0 branch in-range (it
      // compares the head with itself — false — and the j === 0
      // disjunct keeps the row), the viterbiPieces ANSI-safety idiom
      .select(col("doc_id") +: col("paras") +:
        array_sort(transform(
          filter(col("srt"), (s, j) => (j === 0) ||
            (s.getField("p") =!=
              element_at(col("srt"), greatest(j, lit(1))).getField("p"))),
          s => s.getField("i"))).as("keptidx") +:
        pass: _*)
      .select(col("doc_id") +: col("paras") +:
        transform(col("keptidx"),
          i => element_at(col("paras"), i)).as("kept") +: pass: _*)
      .select(Seq(col("doc_id"),
        size(col("paras")).cast("long").as("n_paras"),
        (size(col("paras")) - size(col("kept"))).cast("long").as("n_dup_paras"),
        (length(array_join(col("paras"), ""))
          - length(array_join(col("kept"), ""))).cast("long")
          .as("removed_chars"),
        array_join(col("kept"), sep).as("text_clean")) ++ pass: _*)
  }

  /** The FULL composed curation pipeline — [[curationPipeline]] (c3)
    * with round-11's two new rungs slotted where a production crawl
    * pipeline runs them: WITHIN-DOC paragraph dedup FIRST (boilerplate
    * stripped before anything fingerprints, so a doc differing only in
    * repeated chrome dedups against its clean twin) and the PER-SOURCE
    * QUOTA LAST before the split (the C4/Gopher cap applied to what
    * SURVIVED cleaning, scored on the text that actually ships).
    * Stage order: paragraph-dedup → exact dedup on the CLEANED text →
    * t16 quality filter → t7 PII scrub → t2 quality score on the
    * SCRUBBED text → best-`quotaN`-per-source cap → t8 deterministic
    * split. One row per shipped doc: source, quota rank, lang, split,
    * quality, and the cleaning/redaction accounting.
    *
    * Declared as ONE job graph so Catalyst plans the chain whole: the
    * filter, scrub, score and split are all map-only on the survivor
    * stream; the corpus exchanges are exactly the d1 fingerprint
    * partial-agg + its canonical semi-join, the bounded `graft_topk`
    * quota agg (window fallback extension-less), and the slim rank
    * join-back — nothing else shuffles at any corpus size.
    *
    * The CLEANED corpus is MATERIALIZED once (persist, lazily filled
    * on first pass) as the deliberate stage boundary — NOT an
    * optimization knob: higher-order array functions never enter
    * whole-stage codegen, so leaving the strip lazy lets Catalyst
    * collapse every downstream stage's references into one interpreted
    * mega-expression that re-derives the strip per reference and per
    * lambda element (measured: the fused form ran >20 min on a 50 000-
    * doc shard where the materialized form takes seconds; the same
    * cliff §3 documents for lambda-embedded subtrees, one level up).
    * Every downstream consumer then reads text_clean as DATA. This is
    * the same one-materialization a multi-job pipeline has between its
    * cleaning and selection jobs; a caller that wants the boundary on
    * durable storage writes the cleaned corpus out between its own
    * jobs.
    */
  def curationPipelineFull(docs: DataFrame, textCol: String, idCol: String,
                           langCol: String, sourceCol: String,
                           quotaN: Int = 10, splitSalt: String = "graft",
                           fractions: Seq[(String, Double)] =
                             Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)))
      : DataFrame = {
    val cleaned = paragraphDedup(docs, textCol, idCol,
        passthrough = Seq(langCol, sourceCol))
      .select(col("doc_id").as(idCol), col("text_clean").as(textCol),
        col(langCol), col(sourceCol), col("n_dup_paras"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // exact dedup keyed on the CLEANED text's normalized fingerprint —
    // c3's canonical-min-id form (two slim corpus scans, one semi-join)
    val fpd = cleaned.select(col(idCol), col(langCol), col(sourceCol),
      col("n_dup_paras"), col(textCol),
      md5(Native.normOf(docs)(col(textCol))).as("graft_fp"))
    val canon = fpd.groupBy("graft_fp").agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    val unique = fpd.join(canon, Seq(idCol)).drop("graft_fp")
    val kept = qualityFilter(unique, textCol, idCol,
        passthrough = Seq(textCol, langCol, sourceCol, "n_dup_paras"))
      .filter(col("keep") === 1)
      .select(col("doc_id").as(idCol), col(textCol), col(langCol),
        col(sourceCol), col("n_dup_paras"))
    val scrubbed = scrubPii(kept, textCol, idCol,
      passthrough = Seq(langCol, sourceCol, "n_dup_paras"))
    // score what ships: quality over the scrubbed text
    val scored = TextAnalysis.withQualityScore(scrubbed, "clean_text", "quality")
    val capped = sourceCap(scored, idCol, sourceCol, "quality", quotaN)
      .select(col("id").as(idCol), col("rank"))
    deterministicSplit(scored.join(capped, Seq(idCol)), idCol,
        splitSalt, fractions)
      .select(col(idCol), col(sourceCol), col("rank"), col(langCol),
        col("split"), col("quality"), col("n_dup_paras"),
        col("n_emails"), col("n_phones"))
  }

  /** FIT [[nbQualityScore]]'s model alone, as ONE persistable table —
    * the train-offline half of the production loop (the apply half is
    * [[nbScoreWithModel]] / the streaming quality-gate sink): per
    * touched bucket a (b, tcnt, rcnt) row, plus the `b = -1` marker
    * row carrying the (target, rest) TRAIN DOC counts the +1 prior
    * needs. ≤ `buckets` + 2 rows — fixed-size at any corpus scale, so
    * the persisted model is a broadcast at apply time forever.
    * Zero-token docs contribute no features and are not counted in
    * the prior (the posts-derived count — [[nbQualityScore]]'s exact
    * semantics, asserted bit-identical in CurationSpec).
    *
    * The `b = -2` marker row records the `buckets` the model was FIT
    * with (`tcnt` = buckets, `rcnt` unused): buckets changes both the
    * md5-fold bucket assignment AND the α·B smoothing denominator, so
    * scoring against an apply-side `buckets` different from the fit
    * side would silently produce wrong log-odds — [[nbScoreWithModel]]
    * `require()`s the marker matches before it scores anything.
    * (α is NOT fit state — the stored counts are raw; smoothing is
    * applied at scoring time, so any apply-side α is valid against
    * the same counts.)
    */
  def nbFitModel(train: DataFrame, textCol: String, idCol: String,
                 targetFilter: Column, buckets: Int = 8192): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val postsPlan = nbPosts(train, textCol, idCol, buckets,
      Seq("is_target" -> targetFilter))
    val posts = postsPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tgt = posts.filter(col("is_target")).groupBy("b").agg(sum("tf").as("tcnt"))
    val rst = posts.filter(!col("is_target")).groupBy("b").agg(sum("tf").as("rcnt"))
    val merged = tgt.join(rst, Seq("b"), "full")
      .select(col("b"), coalesce(col("tcnt"), lit(0.0)).as("tcnt"),
        coalesce(col("rcnt"), lit(0.0)).as("rcnt"))
    val pri = nbDocCounts(posts)
      .select(lit(-1L).as("b"), col("nt").cast("double").as("tcnt"),
        col("nr").cast("double").as("rcnt"))
    // fit-config marker: the buckets this model hashes with (see
    // scaladoc — apply-side mismatch silently corrupts log-odds)
    val cfg = train.sparkSession.range(1)
      .select(lit(-2L).as("b"), lit(buckets.toDouble).as("tcnt"),
        lit(0.0).as("rcnt"))
    merged.unionByName(pri).unionByName(cfg)
  }

  /** Score documents against a PERSISTED [[nbFitModel]] table —
    * bit-identical to [[nbQualityScore]] run with the same train
    * split (CurationSpec asserts it: every sum the two forms take is
    * over integer-valued doubles, exact in any order, and every FP
    * step after that is the same single expression), but with the
    * model as an INPUT instead of refit per call. This is the shape
    * the streaming quality-gate sink needs: per micro-batch the cost
    * is the batch's own map-only feature pass + one broadcast join
    * against the fixed ≤ `buckets`+1-row model — history is never
    * rescanned and the model is never refit in the hot path.
    */
  def nbScoreWithModel(docs: DataFrame, textCol: String, idCol: String,
                       model: DataFrame, buckets: Int = 8192,
                       alpha: Double = 0.5,
                       threshold: Double = 0.0): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    require(alpha > 0.0, s"alpha must be positive, got $alpha")
    // fit-config guard: a model hashed with different `buckets` would
    // score SILENTLY wrong (both the fold and the α·B denominator
    // shift) — fail loud instead. The probe is one bounded job over
    // the ≤ buckets+2-row model table (already read per call).
    val marker = model.filter(col("b") === -2L)
      .select(col("tcnt").cast("double")).collect()
    require(marker.length == 1,
      s"nbScoreWithModel: model table carries ${marker.length} fit-config " +
        "marker rows (b = -2); expected exactly 1 — was this table " +
        "written by nbFitModel?")
    val fitBuckets = marker(0).getDouble(0)
    require(fitBuckets == buckets.toDouble,
      s"nbScoreWithModel: model was fit with buckets=${fitBuckets.toLong} " +
        s"but apply-side buckets=$buckets — the hash fold and smoothing " +
        "denominator would disagree; pass the fit-side value")
    val mb = model.filter(col("b") >= 0)
    val pri = model.filter(col("b") === -1L)
      .select(col("tcnt").as("nt"), col("rcnt").as("nr"))
    val stats = mb.agg(coalesce(sum("tcnt"), lit(0.0)).as("t_total"),
        coalesce(sum("rcnt"), lit(0.0)).as("r_total"))
      .crossJoin(broadcast(pri.select(graft.functions.num.fround(
        log((col("nt") + lit(1.0)) / (col("nr") + lit(1.0))), 6).as("prior"))))
    val ab = alpha * buckets
    nbPosts(docs, textCol, idCol, buckets, Nil)
      .join(broadcast(mb), Seq("b"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("lr", graft.functions.num.fround(log(
        ((coalesce(col("tcnt"), lit(0.0)) + lit(alpha)) / (col("t_total") + lit(ab))) /
          ((coalesce(col("rcnt"), lit(0.0)) + lit(alpha)) / (col("r_total") + lit(ab)))), 6))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_feats"),
        (sum(col("tf").cast("decimal(9,0)") * col("lr").cast("decimal(18,6)"))
          + first(col("prior")).cast("decimal(18,6)")).as("w"))
      .select(col("doc_id"), col("n_feats").cast("long").as("n_feats"),
        graft.functions.num.fround(col("w").cast("double"), 4).as("log_odds"))
      .withColumn("pred",
        when(col("log_odds") > threshold, 1).otherwise(0))
  }

  /** SEMANTIC (embedding-space) decontamination — the vector twin of
    * the n-gram forms ([[decontaminate]]/d6, bloom-prefiltered d13):
    * verdict every TRAIN vector by whether any EVAL vector sits within
    * cosine `threshold` of it. N-gram overlap misses paraphrases and
    * translations; an embedding space built for semantic similarity
    * is exactly where those leak through, so production pipelines run
    * BOTH surface- and embedding-level passes before training.
    *
    * Mechanism is d9's scale shape with SIDES: one shared
    * (id, is_eval, vector, norm, hyperplane signature) preparation
    * pass (persisted — it feeds both band-join sides and the verify
    * fetch), band keys explode to `bands` slim rows per vector, and
    * the candidate join is train-bands ⋈ eval-bands on the band key —
    * never train×eval. Exact-cosine verify touches candidates only;
    * per-train aggregation (matches, max cosine) and a left join back
    * give EVERY train row a verdict (untouched rows verdict clean —
    * the d12-style total-corpus contract). `numPlanes` <= 0 derives
    * banding bits from the corpus size (the d9/s4 scale knob; fixed
    * layouts measured 95-150× wall at 10× rows on this machinery).
    * Recall follows the LSH band curve exactly as d9 documents it —
    * callers needing guaranteed-recall decontamination at a fixed
    * surface form run d6/d13; this pass exists to catch what they
    * structurally cannot.
    *
    * Output: (doc_id, contaminated 0/1, n_eval_matches, max_cosine
    * 4dp — NULL for clean rows) over every train id.
    */
  def decontaminateByEmbedding(embs: DataFrame, vecCol: String, idCol: String,
                               evalFilter: Column, threshold: Double, dim: Int,
                               numPlanes: Int = 0, bands: Int = 6,
                               seed: Long = 42L): DataFrame = {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val nPlanes =
      if (numPlanes > 0) numPlanes
      else bands * graft.ops.Similarity.autoBandBits(embs.count(), bands)
    require(nPlanes % bands == 0 && nPlanes <= 63,
      s"numPlanes ($nPlanes) must be a multiple of bands ($bands) and <= 63")
    val planes = graft.ops.Similarity.hyperplanes(nPlanes, dim, seed)
    val bitsPerBand = nPlanes / bands
    val dotOf = Native.dotOf(embs)
    val sigOf = Native.hyperplaneSigOf(embs, planes, dim)
    val preparedPlan = embs.select(col(idCol).as("id"), evalFilter.as("is_eval"),
        col(vecCol).as("v"))
      .withColumn("nrm", sqrt(dotOf(col("v"), col("v"))))
      .withColumn("sig", sigOf(col("v")))
    val prepared = preparedPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandCols = (0 until bands).map { bn =>
      struct(lit(bn).as("b"),
        shiftrightunsigned(col("sig"), bn * bitsPerBand)
          .bitwiseAND((1L << bitsPerBand) - 1).as("v"))
    }
    // only (id, band) travels through the candidate join
    val banded = prepared.select(col("id"), col("is_eval"),
      explode(array(bandCols: _*)).as("band"))
    val candidates = banded.filter(!col("is_eval")).as("a")
      .join(banded.filter(col("is_eval")).as("b"), col("a.band") === col("b.band"))
      .select(col("a.id").as("train_id"), col("b.id").as("eval_id"))
      .dropDuplicates("train_id", "eval_id")
    val vecs = prepared.select(col("id"), col("v"), col("nrm"))
    val nn = col("h1.nrm") * col("h2.nrm")
    val hits = candidates
      .join(vecs.as("h1"), col("train_id") === col("h1.id"))
      .join(vecs.as("h2"), col("eval_id") === col("h2.id"))
      .withColumn("cosine",
        when(nn === 0.0, 0.0).otherwise(dotOf(col("h1.v"), col("h2.v")) / nn))
      .filter(col("cosine") >= threshold)
      .groupBy("train_id")
      .agg(count(lit(1)).as("n_eval_matches"),
        max(round(col("cosine"), 4)).as("max_cosine"))
    prepared.filter(!col("is_eval")).select(col("id").as("doc_id"))
      .join(hits, col("doc_id") === col("train_id"), "left")
      .select(col("doc_id"),
        when(col("n_eval_matches").isNotNull, 1).otherwise(0).as("contaminated"),
        coalesce(col("n_eval_matches"), lit(0L)).as("n_eval_matches"),
        col("max_cosine"))
  }
}
