package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.text
import org.apache.spark.sql.Column

/** Corpus-level text analysis: language profiling, quality scoring,
  * token statistics, fingerprints, heuristic language ID. All pure
  * column math + one aggregation shuffle each.
  */
object TextAnalysis {

  private def fround(c: Column, d: Int): Column =
    graft.functions.num.fround(c, d)

  /** Per-language corpus stats. Integer sums are exact in double, so
    * sum/count + fround is deterministic at any scale.
    */
  def langProfile(docs: DataFrame, textCol: String, langCol: String,
                  nCharsCol: String): DataFrame =
    docs.select(col(langCol).as("lang"), col(nCharsCol).as("n_chars"),
        text.tokenCount(col(textCol)).as("n_tokens"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        fround(sum("n_chars").cast("double") / count(lit(1)), 4).as("avg_chars"),
        fround(sum("n_tokens").cast("double") / count(lit(1)), 4).as("avg_tokens"))

  /** Per-document quality features + score, all read off ONE
    * [[Native.textStatsOf]] struct staged in its own column (the alias
    * is referenced multiple times, so CollapseProject keeps it in its
    * own projection — one evaluation per row). The coalesces replicate
    * `tokens(null) = []`; n_punct keeps the length(null) null.
    */
  def qualityScores(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .withColumn("graft_stats", Native.textStatsOf(docs)(col(textCol)))
      .select(col(idCol).as("doc_id"),
        coalesce(col("graft_stats.n_tokens"), lit(0L)).as("n_tokens"),
        col("graft_stats.n_punct").as("n_punct"),
        coalesce(col("graft_stats.hits_en"), lit(0L)).as("n_stopwords"),
        text.qualityScoreFromStats(col(textCol), col("graft_stats")).as("quality"))

  /** `docs` plus [[graft.functions.text.qualityScore]] of `textCol` as
    * `outCol`. The [[Native.textStatsOf]] struct is staged in its own
    * column, as in [[qualityScores]], so it is evaluated once per row
    * whether or not subexpression elimination runs.
    */
  def withQualityScore(docs: DataFrame, textCol: String, outCol: String): DataFrame =
    docs
      .withColumn("graft_stats", Native.textStatsOf(docs)(col(textCol)))
      .withColumn(outCol, text.qualityScoreFromStats(col(textCol), col("graft_stats")))
      .drop("graft_stats")

  /** Global token frequency top-k (explode → count → top-k). The
    * groupBy is partial-agg friendly; the final top-k sorts only the
    * grouped vocabulary, not the corpus.
    */
  def tokenTopK(docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs.select(explode(text.tokens(Native.normOf(docs)(col(textCol)))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)

  /** Exact frequent terms (heavy hitters) above a support threshold,
    * computed WITHOUT shuffling the vocabulary — the scale form of
    * [[tokenTopK]], whose groupBy shuffles every distinct term (fine
    * until the vocabulary itself is the problem; web-scale corpora
    * have billions of distinct tokens, and the interesting output is
    * the few thousand frequent ones).
    *
    * Two passes over the exploded token stream (both map-side-narrow;
    * tokenization never shuffles):
    *  1. per-partition Misra-Gries summaries of `capacity` counters
    *     (fixed memory), unioned into a candidate set. MG's guarantee:
    *     any term with partition frequency > n_p/(capacity+1) survives
    *     its partition, and a term with global frequency > N/(capacity+1)
    *     must exceed that bound in at least one partition (pigeonhole) —
    *     so the candidate union is a SUPERSET of every term with
    *     freq > N/(capacity+1), under ANY partitioning.
    *  2. exact recount of candidate postings only (broadcast semi
    *     join ≤ capacity·partitions terms), filtered to
    *     cnt·phiDenom ≥ N — pure integer compare, no FP threshold.
    *
    * Output is therefore EXACT (identical to the full groupBy +
    * HAVING) and partitioning-invariant, while the only vocabulary-
    * wide state anywhere is `capacity` counters per partition.
    * Requires capacity ≥ phiDenom so the sketch threshold N/(cap+1)
    * sits strictly below the report threshold N/phiDenom.
    */
  def heavyHitters(docs: DataFrame, textCol: String,
                   phiDenom: Long = 1000L, capacity: Int = 1024): DataFrame = {
    require(phiDenom >= 1, s"phiDenom must be >= 1, got $phiDenom")
    require(capacity >= phiDenom,
      s"capacity ($capacity) must be >= phiDenom ($phiDenom) for the superset guarantee")
    val spark = docs.sparkSession
    val toks = docs.select(
      explode(text.tokens(Native.normOf(docs)(col(textCol)))).as("term"))
    import org.apache.spark.sql.{Encoders, Row}
    val candidates = toks.mapPartitions { it =>
      // Misra-Gries: `capacity` counters; a new term arriving at a
      // full map decrements every counter (and implicitly the new
      // term's 1) instead of inserting. Amortized O(1)/item: each
      // decrement event destroys capacity+1 units of count mass, and
      // at most n mass ever enters, so events <= n/(capacity+1), each
      // O(capacity).
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { row =>
        val t = row.getString(0)
        counters.get(t) match {
          case Some(c) => counters.update(t, c + 1)
          case None if counters.size < capacity => counters.update(t, 1L)
          case None =>
            counters.toList.foreach { case (k, c) =>
              if (c == 1L) counters.remove(k) else counters.update(k, c - 1)
            }
        }
      }
      counters.keysIterator.map(Row(_))
    }(Encoders.row(toks.schema)).dropDuplicates("term")

    val total = toks.agg(count(lit(1)).as("n_total"))
    toks.join(broadcast(candidates), Seq("term"))
      .groupBy("term").agg(count(lit(1)).as("n_occ"))
      .crossJoin(broadcast(total))
      .filter(col("n_occ") * lit(phiDenom) >= col("n_total"))
      .select(col("term"), col("n_occ"))
      .orderBy(col("n_occ").desc, col("term"))
  }

  /** Per-document fingerprints (content hash + cheap stats). */
  def fingerprints(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val norm = Native.normOf(docs)
    docs.select(col(idCol).as("doc_id"),
      md5(norm(col(textCol))).as("fingerprint"),
      length(norm(col(textCol))).cast("long").as("norm_len"),
      text.tokenCount(col(textCol)).as("n_tokens"))
  }

  /** Heuristic language ID per document, read off the
    * [[Native.textStatsOf]] struct staged in its own column, as in
    * [[qualityScores]].
    */
  def languageId(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .withColumn("graft_stats", Native.textStatsOf(docs)(col(textCol)))
      .select(col(idCol).as("doc_id"),
        text.langIdFromStats(col("graft_stats")).as("lang_pred"))

  /** Per-group vocabulary stats: exact distinct-token count beside the
    * raw token count — the count-distinct aggregation family. Exact
    * `countDistinct` plans as a two-phase aggregation whose state is
    * O(distinct values) per group; a group whose vocabulary outgrows
    * executor memory needs a sketch (`approx_count_distinct`), which
    * no engine-exact oracle can check.
    */
  def vocabStats(docs: DataFrame, textCol: String, groupCol: String): DataFrame = {
    val tokens = docs.select(col(groupCol).as("grp"),
      explode(text.tokens(Native.normOf(docs)(col(textCol)))).as("token"))
    tokens.groupBy("grp")
      .agg(countDistinct(col("token")).as("n_vocab"), count(lit(1)).as("n_tokens"))
  }

  /** Windowed co-occurrence PMI: the top-N token pairs by pointwise
    * mutual information ln(p(a,b) / (p(a)·p(b))) over all unordered
    * pairs within `window` positions — the collocation/association
    * miner (phrase detection, domain-vocabulary discovery, the
    * "which terms travel together" audit of a corpus slice).
    *
    * Scale shape: pair formation is MAP-ONLY (nested array
    * transforms build the in-row pair list over the materialized
    * token column — no positional self-join, no per-token shuffle);
    * pair counts and unigram counts are partial aggs; the `minCount`
    * floor prunes the pair table BEFORE its two unigram joins (rare
    * pairs are PMI noise anyway — the classic estimator bias); the
    * corpus totals ride 1-row broadcasts. Top-N by (pmi desc, a, b)
    * plans TakeOrdered — never a global sort.
    *
    * Engine-exact: the PMI argument is ONE double expression over
    * exact integer counts, identically associated in the oracle
    * (`cp·N·N / (M·ca·cb)`), then the t18 6dp-floor-rounded ln.
    */
  def pmiPairs(docs: DataFrame, textCol: String, window: Int = 3,
               minCount: Long = 5L, topN: Int = 50): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(topN >= 1, s"topN must be >= 1, got $topN")
    // the tokenize pass feeds THREE consumers (pairs, unigram counts,
    // token total) — persist it or the regex normalization runs per
    // consumer (the Curation.seqPack precedent)
    val toksPlan = docs.select(
      text.tokens(Native.normOf(docs)(col(textCol))).as("toks"))
    val toksDf = toksPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nTok = size(col("toks"))
    val pairList = flatten(transform(
      sequence(lit(1), nTok - 1),
      i => transform(sequence(i + 1, least(i + lit(window), nTok)), j =>
        struct(
          least(element_at(col("toks"), i), element_at(col("toks"), j)).as("a"),
          greatest(element_at(col("toks"), i), element_at(col("toks"), j)).as("b")))))
    // sequence(1, 0) would DESCEND — short docs guard to the empty list
    val prs = toksDf.select(explode(when(nTok >= 2, pairList)
        .otherwise(array().cast("array<struct<a:string,b:string>>"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val cp = prs.groupBy("a", "b").agg(count(lit(1)).as("cp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cu = toksDf.select(explode(col("toks")).as("tk"))
      .groupBy("tk").agg(count(lit(1)).as("cu"))
    val totalToks = toksDf.agg(sum(nTok.cast("long")).as("n"))
    // M sums over ALL pairs (the denominator is the full pair mass,
    // not the surviving-pair mass), so it must aggregate before the
    // minCount prune
    val totalPairs = cp.agg(sum(col("cp")).as("m"))
    cp.filter(col("cp") >= minCount)
      .join(cu.withColumnRenamed("tk", "a").withColumnRenamed("cu", "ca"), "a")
      .join(cu.withColumnRenamed("tk", "b").withColumnRenamed("cu", "cb"), "b")
      .crossJoin(broadcast(totalToks))
      .crossJoin(broadcast(totalPairs))
      .select(col("a"), col("b"), col("cp").as("n_pair"),
        // denominator in DOUBLE from the first factor: the long
        // product m·ca·cb would overflow at corpus scale
        fround(log(col("cp").cast("double") * col("n") * col("n") /
          (col("m").cast("double") * col("ca") * col("cb"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("a"), col("b"))
      .limit(topN)
  }

  /** CROSS-GROUP n-gram overlap matrix: for every ordered pair of
    * groups (A, B), how much of A's distinct n-gram vocabulary also
    * appears in B — containment |G_A ∩ G_B| / |G_A|. The
    * source-versus-source contamination diagnostic a corpus audit
    * runs before mixing: a high A→B containment with a low B→A says
    * "A is mostly a subset of B" (a mirror or re-crawl — weight one
    * of them down in t26's mixture), and eval→train containment is
    * the corpus-level early-warning d6 then pins to specific doc
    * pairs.
    *
    * Shape: grams hash to longs once (d4's machinery), dedup to the
    * distinct (group, gram) set (one partial-agg shuffle), self-join
    * on the GRAM key — per-gram fan-out is bounded by #groups, so the
    * join is O(distinct grams × groups²) worst case, never
    * corpus-quadratic; pair counts and group totals are bounded-size
    * aggregates. The zero-overlap pairs are kept (a 0.0 cell is the
    * finding "these sources share nothing"), via a groups×groups
    * frame from the bounded totals table. Output: (grp_a, grp_b,
    * n_a = |G_A|, n_shared, containment 4dp) for every A ≠ B.
    */
  def sourceOverlap(docs: DataFrame, textCol: String, groupCol: String,
                    n: Int = 3): DataFrame = {
    val prepared = Native.ngramHashesOf(docs.select(col(groupCol).as("grp"),
      text.tokens(Native.normOf(docs)(col(textCol))).as("toks")), n)
    // gset feeds totals + BOTH sides of the overlap self-join:
    // unpersisted, the tokenize + gram-hash + distinct pass runs once
    // per consumer. Distinct (group, gram) is ≪ the corpus (grams
    // dedupe within group) — the d2-style staging persist
    val gsetPlan = prepared
      .select(col("grp"), explode(col("grams")).as("g")).distinct()
    val gset = gsetPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = gset.groupBy("grp").agg(count(lit(1)).as("n_a"))
    val shared = gset.as("a")
      .join(gset.as("b"), col("a.g") === col("b.g") && col("a.grp") =!= col("b.grp"))
      .groupBy(col("a.grp").as("grp_a"), col("b.grp").as("grp_b"))
      .agg(count(lit(1)).as("n_shared"))
    // groups×groups frame from the bounded totals table (broadcast
    // non-equi join on |groups| rows — same class as the 1-row stats
    // crossJoins elsewhere), so empty intersections surface as 0.0
    val frame = totals.as("ta")
      .join(broadcast(totals.as("tb")), col("ta.grp") =!= col("tb.grp"))
      .select(col("ta.grp").as("grp_a"), col("tb.grp").as("grp_b"),
        col("ta.n_a").as("n_a"))
    frame.join(shared, Seq("grp_a", "grp_b"), "left")
      .select(col("grp_a"), col("grp_b"), col("n_a"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        fround(coalesce(col("n_shared"), lit(0L)).cast("double") /
          col("n_a").cast("double"), 4).as("containment"))
  }

  /** Token-distribution drift between a corpus slice and the rest —
    * the Jensen-Shannon divergence a data pipeline watches between
    * ingest batches, sources, or time windows to catch a crawler or
    * upstream shift BEFORE it trains into a model. Distributions are
    * add-α smoothed bag-of-hashed-tokens over a FIXED `buckets`-wide
    * support (t24's DSIR feature hash), so model size — and the
    * everything-after-the-first-agg cost — is constant at any corpus
    * scale: one explode + partial-agg shuffle emitting ≤ `buckets`
    * rows, then fixed-size arithmetic. Empty buckets stay in support
    * (smoothed p ≠ q there whenever slice totals differ — dropping
    * them would understate the divergence).
    *
    * JS(P,Q) = (KL(P‖M) + KL(Q‖M))/2, M = (P+Q)/2, computed
    * engine-portably by the t18/t24 recipe: ln floor-rounded 6dp, each
    * bucket's contribution weighted by its smoothed COUNT (integer-ish
    * magnitude, so the 6dp round keeps ~10 significant digits — not
    * the 1e-5-scale probability terms), summed in exact decimal, one
    * IEEE division by the smoothed total at the very end. Output is a
    * single row: support size, per-side token totals, js_nats (6dp)
    * and js_bits (4dp; JS ≤ ln 2 nats = 1 bit).
    */
  def distributionDrift(docs: DataFrame, textCol: String, sliceFilter: Column,
                        buckets: Int = 4096, alpha: Double = 0.5): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val hb = docs
      .select(sliceFilter.as("is_a"),
        explode(text.tokens(Native.normOf(docs)(col(textCol)))).as("f"))
      .select(col("is_a"),
        pmod(Native.md5FoldOf(docs)(col("f")), lit(buckets.toLong)).as("b"))
    // counts (≤ buckets rows) feeds BOTH the support join and the
    // totals; unpersisted, the tokenize + explode pass — the only
    // corpus-sized work here — runs twice
    val countsPlan = hb.groupBy("b").agg(
      sum(when(col("is_a"), 1L).otherwise(0L)).as("a_cnt"),
      sum(when(col("is_a"), 0L).otherwise(1L)).as("r_cnt"))
    val counts = countsPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    jsDivergence(counts, docs.sparkSession, buckets, alpha,
      "slice_tokens", "rest_tokens")
  }

  /** The smoothed-JS core shared by [[distributionDrift]] and
    * [[driftAgainstHistogram]] (factored so the two can never compute
    * divergence differently): `counts` is the PARTIAL support table
    * (b, a_cnt, r_cnt) — ≤ `buckets` rows; untouched buckets re-enter
    * via the support join as (0, 0). All numeric behavior is
    * [[distributionDrift]]'s original (t18/t24 recipe: 6dp-ln,
    * count-weighted 6dp terms, exact-decimal sums, one trailing IEEE
    * division per side).
    */
  private def jsDivergence(counts: DataFrame,
                           spark: org.apache.spark.sql.SparkSession,
                           buckets: Int, alpha: Double,
                           aTotalName: String, rTotalName: String)
      : DataFrame = {
    val support = spark.range(buckets.toLong).toDF("b")
    val joined = support.join(counts, Seq("b"), "left")
      .select(coalesce(col("a_cnt"), lit(0L)).cast("double").as("a_cnt"),
        coalesce(col("r_cnt"), lit(0L)).cast("double").as("r_cnt"))
    // empty corpus (or empty slice) degrades to uniform-vs-uniform —
    // js 0 — not a null cascade
    val totals = counts.agg(
      coalesce(sum("a_cnt"), lit(0L)).cast("long").as("a_total"),
      coalesce(sum("r_cnt"), lit(0L)).cast("long").as("r_total"))
    val denomA = col("a_total").cast("double") + lit(alpha * buckets)
    val denomR = col("r_total").cast("double") + lit(alpha * buckets)
    val p = (col("a_cnt") + lit(alpha)) / denomA
    val q = (col("r_cnt") + lit(alpha)) / denomR
    val m = (p + q) / lit(2.0)
    def ln6(c: Column) = fround(log(c), 6)
    val termA = fround((col("a_cnt") + lit(alpha)) * (ln6(p) - ln6(m)), 6)
    val termR = fround((col("r_cnt") + lit(alpha)) * (ln6(q) - ln6(m)), 6)
    val sums = joined.crossJoin(broadcast(totals))
      .select(termA.as("ta"), termR.as("tr"))
      .agg(sum(col("ta").cast("decimal(28,6)")).cast("double").as("sa"),
        sum(col("tr").cast("decimal(28,6)")).cast("double").as("sr"))
    val js = (col("sa") / denomA + col("sr") / denomR) * lit(0.5)
    sums.crossJoin(broadcast(totals))
      .select(lit(buckets).as("buckets"),
        col("a_total").as(aTotalName), col("r_total").as(rTotalName),
        fround(js, 6).as("js_nats"),
        fround(js / lit(0.6931471805599453), 4).as("js_bits"))
  }

  /** Fixed-support hashed-token histogram — the PERSISTABLE half of
    * the drift family: (b, cnt) over [[distributionDrift]]'s exact
    * bucket hash (t24's md5 fold mod `buckets`), ≤ `buckets` rows at
    * any corpus scale. Fit it ONCE on the training/reference corpus
    * and store it next to the model; [[driftAgainstHistogram]] then
    * prices any arriving batch against it without ever touching the
    * reference corpus again — the same train-offline/apply-online
    * split as nbFitModel/nbScoreWithModel.
    */
  def tokenHistogram(docs: DataFrame, textCol: String,
                     buckets: Int = 4096): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    docs
      .select(explode(text.tokens(Native.normOf(docs)(col(textCol)))).as("f"))
      .select(pmod(Native.md5FoldOf(docs)(col("f")), lit(buckets.toLong)).as("b"))
      .groupBy("b").agg(count(lit(1)).as("cnt"))
  }

  /** JS divergence of `docs` against a PERSISTED reference histogram
    * ([[tokenHistogram]] output) — [[distributionDrift]] with one side
    * stored: the drift monitor a streaming gate runs per batch, where
    * the reference is the distribution the model was TRAINED on and
    * re-tokenizing the training corpus per batch would be absurd.
    * Identical numerics to [[distributionDrift]] by construction (the
    * shared [[jsDivergence]] core); the only difference is where the
    * second count column comes from. Per-batch cost: the batch's own
    * explode + one ≤ `buckets`-row partial agg + a full-outer join of
    * two ≤ `buckets`-row tables — fixed-size beyond the batch scan.
    * `buckets` must match the histogram's fit-side value (same hash
    * fold — a mismatch folds tokens into different buckets and the
    * divergence is meaningless; callers store buckets with the
    * histogram exactly as nbFitModel stores its marker).
    */
  def driftAgainstHistogram(docs: DataFrame, textCol: String,
                            refHist: DataFrame, buckets: Int = 4096,
                            alpha: Double = 0.5): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val batchHist = tokenHistogram(docs, textCol, buckets)
      .select(col("b"), col("cnt").as("a_cnt"))
    val counts = batchHist
      .join(refHist.select(col("b"), col("cnt").as("r_cnt")), Seq("b"), "full")
      .select(col("b"), coalesce(col("a_cnt"), lit(0L)).as("a_cnt"),
        coalesce(col("r_cnt"), lit(0L)).as("r_cnt"))
    jsDivergence(counts, docs.sparkSession, buckets, alpha,
      "batch_tokens", "ref_tokens")
  }

  /** Per-document unigram Shannon entropy over normalized whitespace
    * tokens — the within-doc diversity/repetitiveness signal beside
    * [[repetitionSignals]]' max-run and distinct-ratio (a doc looping
    * through 20 phrases has a high distinct ratio but low entropy;
    * template spam collapses here first). H = ln n − (Σ c·ln c)/n in
    * nats, 0 for empty and single-token docs.
    *
    * Scale shape: MAP-ONLY — no explode, no (doc, token) shuffle. The
    * naive form shuffles every token of the corpus twice (token
    * count agg, then doc agg); this computes each doc's counts with a
    * linear run-length `aggregate` fold over the SORTED token array
    * (equal tokens are adjacent, so state = (prev, run, acc) — one
    * pass, one array_sort per row), which keeps the whole operator in
    * the scan stage at any corpus size.
    *
    * Engine-portable FP (the t18/t28 recipe): each closed run
    * contributes c · ln₆(c) as EXACT DECIMAL (c integer × 6dp-rounded
    * ln — a double sum's order dependence could flip 6dp boundaries),
    * the per-doc total does ONE trailing IEEE division by n, and
    * H = round₆(ln₆(n) − Σ/n) reproduces bit-for-bit in DuckDB.
    */
  def docEntropy(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val dec = "decimal(38,6)"
    // Σ-contribution of a closed run of length c: c · ln₆(c); ln(1)=0
    // and the run=0 sentinel (fold start) contribute nothing
    def term(run: Column): Column =
      when(run <= 1L, lit(0).cast(dec))
        .otherwise((run.cast("decimal(14,0)") *
          fround(log(run.cast("double")), 6).cast("decimal(18,6)")).cast(dec))
    val toks = text.tokens(Native.normOf(docs)(col(textCol)))
    val base = docs.select(col(idCol).as("doc_id"),
      array_sort(toks).as("s"), size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"))
    val folded = aggregate(col("s"),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0).cast(dec).as("acc")),
      (st, x) => struct(
        x.as("prev"),
        when(x === st.getField("prev"), st.getField("run") + 1L)
          .otherwise(lit(1L)).as("run"),
        when(x === st.getField("prev"), st.getField("acc"))
          .otherwise((st.getField("acc") + term(st.getField("run"))).cast(dec))
          .as("acc")),
      st => (st.getField("acc") + term(st.getField("run"))).cast(dec))
    base.select(col("doc_id"), col("n_tokens"), col("n_distinct"),
      when(col("n_tokens") === 0L, lit(0.0))
        .otherwise(fround(fround(log(col("n_tokens").cast("double")), 6) -
          folded.cast("double") / col("n_tokens").cast("double"), 6))
        .as("entropy_nats"))
  }

  /** Rolling-hash fingerprints (Rabin-Karp polynomial fold over the
    * normalized text) alongside the md5 content hash — the
    * incremental-fingerprint family for pipelines that maintain
    * hashes under streaming append. Map-only column math.
    */
  def rollingFingerprints(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        Native.normOf(docs)(col(textCol)).as("norm"))
      .select(col("doc_id"),
        text.rollingHashOfNormalized(col("norm")).as("rolling_fp"),
        length(col("norm")).cast("long").as("norm_len"))

  /** Per-document repetition signals — the Gopher-style "is this doc
    * mostly the same thing over and over" diagnostics a quality
    * filter reads: duplicate-token fraction, duplicate-bigram
    * fraction, and the share of the doc taken by its single most
    * frequent token. All are pure per-row column math over a staged
    * token array (map-only, no shuffle); the most-frequent-token scan
    * is O(distinct·tokens) per doc, which is the right trade below
    * ~10⁴ tokens/doc — beyond that, explode + per-(doc,token) count
    * is the same answer with one extra shuffle.
    */
  def repetitionSignals(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val staged = docs
      .select(col(idCol).as("doc_id"), Native.normOf(docs)(col(textCol)).as("norm"))
      .select(col("doc_id"), text.tokens(col("norm")).as("toks"))
    val n = size(col("toks")).cast("double")
    val nDistinct = size(array_distinct(col("toks"))).cast("double")
    val nBigrams = greatest(size(col("toks")) - 1, lit(0)).cast("double")
    val nDistinctBigrams = size(text.wordNgramsOfTokens(col("toks"), 2)).cast("double")
    val topCount = array_max(transform(array_distinct(col("toks")),
      t => size(filter(col("toks"), x => x === t))))
    staged.select(
      col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"),
      fround(when(n === 0, 0.0).otherwise(lit(1.0) - nDistinct / n), 4)
        .as("dup_token_frac"),
      fround(when(nBigrams === 0, 0.0).otherwise(lit(1.0) - nDistinctBigrams / nBigrams), 4)
        .as("dup_bigram_frac"),
      fround(when(n === 0, 0.0).otherwise(topCount.cast("double") / n), 4)
        .as("top_token_frac"))
  }

  /** Winnowing fingerprints (the MOSS scheme): per-position k-gram
    * rolling hashes, then for every window of `w` consecutive hashes
    * keep the minimum (rightmost on ties), deduplicated by position.
    * Winnowing guarantees any match of length >= w+k-1 between two
    * docs shares a selected fingerprint, while storing only
    * ~2/(w+1) of the positions — the local-sampling fingerprint
    * family member beside t4 (whole-doc md5) and t12 (whole-doc
    * rolling hash).
    *
    * Hashes are the same engine-portable base-31 mod-1e9+7 polynomial
    * as [[text.rollingHashOfNormalized]], so a DuckDB oracle
    * reproduces every selected (pos, fp) digit-for-digit. Map-only:
    * each doc is processed independently (explode at the end), no
    * shuffle anywhere. Every HOF lambda reads staged attribute
    * columns (codes/gh/wins), never an embedded subtree — the
    * re-evaluation trap measured in round 1.
    */
  def winnowFingerprints(docs: DataFrame, textCol: String, idCol: String,
                         k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    val P = text.RollingMod
    // Native path: one compiled O(len) pass per doc (rolling hash +
    // monotonic-deque window min) emitting pos·P + fp packed longs —
    // the nested-HOF fallback below runs interpreted (HOFs don't
    // codegen) and is O(len·k·w), measured 35× slower at sf0.01.
    // Decode stays in exact integer math (`div`, `%`).
    if (Native.enabled(docs, "graft_winnow")) {
      return docs
        .select(col(idCol).as("doc_id"), Native.normOf(docs)(col(textCol)).as("norm"))
        .select(col("doc_id"),
          explode(call_function("graft_winnow", col("norm"), lit(k), lit(w))).as("enc"))
        .select(col("doc_id"),
          expr(s"enc div ${P}L").as("pos"),
          (col("enc") % lit(P)).as("fp"))
    }
    val codes = docs
      .select(col(idCol).as("doc_id"), Native.normOf(docs)(col(textCol)).as("norm"))
      .select(col("doc_id"),
        transform(split(col("norm"), ""), ch => ascii(ch).cast("long")).as("codes"))
    // per-position k-gram hash: fold over an O(k) slice of the staged
    // char-code array (slice of an array attribute is O(k), unlike
    // substr's O(i) boundary scan — round-1 rule)
    val gh = codes.select(col("doc_id"),
      when(size(col("codes")) < k, array().cast("array<long>"))
        .otherwise(transform(sequence(lit(1), size(col("codes")) - lit(k - 1)), i =>
          aggregate(slice(col("codes"), i, lit(k)), lit(0L),
            (acc, x) => (acc * lit(31L) + x) % lit(P)))).as("gh"))
    // windows of w consecutive hashes; a doc with 0 < |gh| < w gets a
    // single short window (slice clamps), so short docs still emit.
    // nw < 1 must short-circuit BEFORE sequence(): sequence(1, 0) is
    // a DESCENDING sequence in Spark, not empty.
    val nw = greatest(size(col("gh")) - lit(w - 1), least(size(col("gh")), lit(1)))
    val wins = gh.select(col("doc_id"), col("gh"), nw.as("nw"))
      .filter(col("nw") >= 1)
      .select(col("doc_id"),
        transform(sequence(lit(1), col("nw")), s => slice(col("gh"), s, lit(w))).as("wins"))
    // rightmost-min selection per window: pos = window start + offset
    // of the LAST occurrence of the min (first occurrence in the
    // reversed slice); dedup by (pos, fp) is winnowing's output set
    val sel = array_distinct(transform(sequence(lit(1), size(col("wins"))), s => {
      val sl = element_at(col("wins"), s)
      val m = array_min(sl)
      struct(
        (s + size(sl) - array_position(reverse(sl), m)).cast("long").as("pos"),
        m.as("fp"))
    }))
    wins.select(col("doc_id"), explode(sel).as("sf"))
      .select(col("doc_id"), col("sf.pos").as("pos"), col("sf.fp").as("fp"))
  }

  /** Per-group length-distribution quantiles (p25/p50/p75/p95) +
    * min/max/count — the corpus-shape profile a curation pipeline
    * reads before setting length filters.
    *
    * Exact `percentile` (linear interpolation at (n-1)·p, the same
    * definition as DuckDB's quantile_cont, so the oracle matches
    * bit-for-bit) buffers each group's values, so it is for
    * bounded-cardinality groups (languages, sources); past that a
    * sketch (`approx_percentile`) is the trade, with no exact oracle.
    */
  def lengthQuantiles(docs: DataFrame, groupCol: String, lenCol: String): DataFrame = {
    def q(p: Double): Column = percentile(col("len"), lit(p))
    docs.select(col(groupCol).as("grp"), col(lenCol).cast("double").as("len"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_docs"),
        min(col("len")).cast("long").as("min_len"),
        max(col("len")).cast("long").as("max_len"),
        fround(q(0.25), 4).as("p25"),
        fround(q(0.50), 4).as("p50"),
        fround(q(0.75), 4).as("p75"),
        fround(q(0.95), 4).as("p95"))
  }

  /** Per-group ROBUST normalization of a numeric quality signal:
    * norm = (x − median) / IQR within each group — the step that makes
    * per-language (or per-source) quality scores COMPARABLE before a
    * single global threshold, ranking, or mixing pass consumes them
    * (raw score distributions differ by language; a global cut
    * over-prunes whichever group scores low). Median/IQR rather than
    * mean/stddev so a heavy tail of spam can't drag the center.
    *
    * Degenerate groups (IQR = 0 — constant or near-constant scores)
    * normalize to 0.0 rather than NULL/∞: every doc sits AT the
    * center, which is what "no spread" means for a downstream ranker.
    *
    * Engine portability: median/quartiles are exact `percentile`
    * (linear interpolation — DuckDB's quantile_cont, the t10 recipe),
    * floor-rounded at 6dp; the normalized score derives in one double
    * expression from those rounded stats and floor-rounds at 4dp.
    *
    * Scale shape: stats are one partial-agg shuffle grouped by the
    * BOUNDED group key (exact percentile buffers per-group values —
    * fine for bounded groups; swap approx_percentile past that, the
    * t10 trade); the stats table is |groups| rows and broadcast-joins
    * back; the normalization itself is map-side.
    */
  def normalizeScores(scored: DataFrame, idCol: String, groupCol: String,
                      scoreCol: String): DataFrame = {
    val stats = scored.groupBy(col(groupCol).as("grp"))
      .agg(fround(percentile(col(scoreCol), lit(0.5)), 6).as("med"),
        fround(percentile(col(scoreCol), lit(0.75)) -
          percentile(col(scoreCol), lit(0.25)), 6).as("iqr"))
    scored.select(col(idCol).as("id"), col(groupCol).as("grp"),
        col(scoreCol).as("score"))
      .join(broadcast(stats), Seq("grp"))
      .select(col("id"), col("grp"), col("score"),
        when(col("iqr") <= 0.0, lit(0.0))
          .otherwise(fround((col("score") - col("med")) / col("iqr"), 4))
          .as("norm_score"))
  }

  /** Unigram-LM mean negative log-likelihood per document — the
    * CCNet/KenLM-style "how surprising is this text under an in-domain
    * language model" quality signal, with the model reduced to unigram
    * statistics so it is exactly reproducible by the SQL oracle.
    *
    * The model is trained on `train` (term counts + add-α smoothing):
    * P(t) = (cnt(t) + α) / (total + α·(V+1)), unseen terms get the
    * +α numerator. Each scored doc gets
    * mean_nll = −(Σ_t tf·ln P(t)) / Σ_t tf over its tokens — low =
    * in-domain fluent, high = out-of-domain/garbled, the usual
    * keep/drop axis. Docs with zero tokens produce no row.
    *
    * Scale shape: both sides reduce to (doc, term, tf) postings via
    * partial-agg groupBys; the model table is O(vocab) and joins the
    * scored postings broadcast (set `broadcastModel = false` past
    * broadcast size, where AQE plans the shuffle join on term);
    * corpus totals ride a 1-row broadcast cross join. ln P is
    * floor-rounded at 6dp per distinct term so libm differences
    * cannot leak into the 4dp doc scores.
    */
  def lmScore(train: DataFrame, docs: DataFrame, textCol: String, idCol: String,
              alpha: Double = 0.5, broadcastModel: Boolean = true): DataFrame = {
    val norm = Native.normOf(docs)
    def tokenStream(df: DataFrame) = df
      .withColumn("graft_norm", norm(col(textCol)))
      .select(col(idCol).as("doc_id"), explode(text.tokens(col("graft_norm"))).as("term"))
    def postings(df: DataFrame) = tokenStream(df)
      .groupBy("doc_id", "term").agg(count(lit(1)).cast("double").as("tf"))

    // counts straight off the token stream — Σ_doc count(doc, term) ==
    // count(term), so the per-doc pre-aggregation (a corpus-scale
    // (doc, term) exchange) is dropped from the train leg (§2.4)
    val model = tokenStream(train).groupBy("term")
      .agg(count(lit(1)).cast("double").as("cnt"))
    val stats = model.agg(sum("cnt").as("total"),
      count(lit(1)).cast("double").as("vocab"))

    postings(docs)
      .join(if (broadcastModel) broadcast(model) else model, Seq("term"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("logp", fround(log(
        (coalesce(col("cnt"), lit(0.0)) + lit(alpha)) /
          (col("total") + lit(alpha) * (col("vocab") + lit(1.0)))), 6))
      .groupBy("doc_id")
      // the log-likelihood sums in EXACT DECIMAL (q1/q5's recipe): the
      // 6dp-rounded logp recovers the identical decimal in any engine,
      // and decimal addition is order-independent — a plain double sum
      // here diverges by an ulp per partition-order difference, which
      // the sf1 (10×) gate measured as 4dp-boundary flips on 7 of 50 k
      // docs. tf sums exactly as integral doubles (< 2^53).
      .agg(sum(col("tf")).as("n_toks"),
        sum(col("tf").cast("decimal(9,0)") * col("logp").cast("decimal(18,6)")).as("ll"))
      .select(col("doc_id"), col("n_toks").cast("long").as("n_tokens"),
        fround(-col("ll").cast("double") / col("n_toks"), 4).as("mean_nll"))
  }

  /** Interpolated bigram language-model scoring — the next-order
    * perplexity signal above [[lmScore]] (reference analog: the same
    * keep/drop quality axis, with local word-order sensitivity that a
    * unigram model cannot see — "the the the" scores fluent under
    * unigrams but garbled here).
    *
    * P(w2|w1) = λ·P_ML(w2|w1) + (1−λ)·P_add-α(w2), where P_ML is the
    * maximum-likelihood bigram estimate over the train split (0 when
    * the context w1 never occurs in train) and the backoff unigram is
    * [[lmScore]]'s add-α model. Each scored doc with ≥ 2 tokens gets
    * mean_nll = −(Σ tf·ln P) / Σ tf over its bigram transitions; docs
    * with < 2 tokens produce no row.
    *
    * Scale shape: bigram formation is MAP-ONLY — a `transform` over
    * the sliced token array, never a positional self-join — so the
    * only shuffles are the (doc, w1, w2) partial-agg groupBy and the
    * model joins. The bigram model is O(bigram vocab) and joins
    * broadcast by default (`broadcastModel = false` past broadcast
    * size → AQE shuffle join on (w1, w2)); context totals and the
    * unigram table are strictly smaller; corpus stats ride a 1-row
    * broadcast cross join.
    *
    * FP determinism: counts and divisions are IEEE-exact-rounded and
    * engine-identical; only ln is libm-dependent, so ln P is
    * floor-rounded at 6dp per distinct (w1, w2) and the doc sum runs
    * in exact decimal (t18's recipe). λ and 1−λ are BOTH explicit
    * literals — deriving 1−λ in Scala (1.0 − 0.7 = 0.30000000000000004)
    * would diverge from an oracle's literal 0.3.
    */
  def lmScoreBigram(train: DataFrame, docs: DataFrame, textCol: String,
                    idCol: String, alpha: Double = 0.5, lam: Double = 0.7,
                    oneMinusLam: Double = 0.3,
                    broadcastModel: Boolean = true): DataFrame = {
    def staged(df: DataFrame): DataFrame =
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val norm = Native.normOf(docs)
    def toks(df: DataFrame) = df
      .withColumn("graft_norm", norm(col(textCol)))
      .select(col(idCol).as("doc_id"), text.tokens(col("graft_norm")).as("toks"))
    def bigramStream(df: DataFrame) = toks(df)
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(slice(toks, 1, size(toks) - 1), (w, i) -> struct(w AS w1, toks[i + 1] AS w2))"))
        .as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    def bigrams(df: DataFrame) = bigramStream(df)
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).cast("double").as("tf"))

    // both model tables feed TWO consumers each (the scoring joins +
    // their own rollups ctx/stats); unpersisted, the train-side
    // tokenize + explode subtree re-executes per consumer. Both are
    // vocabulary-bounded (they get broadcast below), so the persist
    // is model-sized, never corpus-sized.
    // The model counts straight off the bigram STREAM (one partial-agg
    // shuffle on (w1, w2)): the per-doc pre-aggregation the scoring
    // side needs is pure overhead here — Σ_doc count(doc, w1, w2) ==
    // count(w1, w2), and dropping it removes a corpus-scale
    // (doc, w1, w2) exchange from the train leg (§2.4).
    val bigramModel = staged(
      bigramStream(train).groupBy("w1", "w2")
        .agg(count(lit(1)).cast("double").as("cnt")))
    val ctx = bigramModel.groupBy("w1").agg(sum("cnt").as("ctx"))
    val uni = staged(toks(train)
      .select(explode(col("toks")).as("w2"))
      .groupBy("w2").agg(count(lit(1)).cast("double").as("ucnt")))
    val stats = uni.agg(sum("ucnt").as("total"),
      count(lit(1)).cast("double").as("vocab"))

    bigrams(docs)
      .join(if (broadcastModel) broadcast(bigramModel) else bigramModel,
        Seq("w1", "w2"), "left")
      .join(broadcast(ctx), Seq("w1"), "left")
      .join(broadcast(uni), Seq("w2"), "left")
      .crossJoin(broadcast(stats))
      // operand order mirrors the oracle SQL exactly: (λ·cnt)/ctx +
      // λ̄·((ucnt+α)/(total+α·(V+1))) — IEEE ops in the same order
      // yield bit-identical doubles in any engine; only ln needs the
      // 6dp floor-round.
      .withColumn("logp", fround(log(
        when(col("ctx").isNull, lit(0.0))
          .otherwise(lit(lam) * coalesce(col("cnt"), lit(0.0)) / col("ctx")) +
          lit(oneMinusLam) * ((coalesce(col("ucnt"), lit(0.0)) + lit(alpha)) /
            (col("total") + lit(alpha) * (col("vocab") + lit(1.0))))), 6))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_big"),
        sum(col("tf").cast("decimal(9,0)") * col("logp").cast("decimal(18,6)")).as("ll"))
      .select(col("doc_id"), col("n_big").cast("long").as("n_bigrams"),
        fround(-col("ll").cast("double") / col("n_big"), 4).as("mean_nll"))
  }

  /** BM25 ranked retrieval over an on-the-fly inverted index — the
    * keyword-search twin of the ANN operators (reference analog: the
    * ad-hoc analysis scans in `src/pipeline/temp.py`, generalized to
    * scored retrieval).
    *
    * score(q, D) = Σ_{t ∈ q} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|D|/avgdl))
    * with the Lucene idf  idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).
    *
    * Scale shape: the exploded token stream is filtered to the QUERY
    * vocabulary by a broadcast join BEFORE the tf aggregation, so the
    * only corpus-wide shuffle carries postings of query terms — at
    * 100 TB that is O(matched postings), not O(all tokens). Corpus
    * stats (N, avgdl) ride a broadcast 1-row cross join (no driver
    * collect); df and per-query term tables are broadcast (≤ query
    * vocabulary rows). The final per-query top-k is WRITTEN in the
    * row_number window idiom — the injected TopKRewriteRule replans it
    * as the bounded graft_topk aggregate (shuffle O(k·queries), not
    * O(scored docs)), and an extension-less session still runs the
    * window form unchanged.
    *
    * FP determinism: idf is floor-rounded to 6dp (ln may differ by an
    * ulp across libm implementations); per-(query, doc) contributions
    * sum ≤|q| doubles so the final 4dp floor-round is order-stable.
    * Query terms are deduplicated (set semantics, standard BM25).
    */
  def bm25Search(docs: DataFrame, textCol: String, idCol: String,
                 queries: Seq[(Long, String)], k: Int,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val norm = Native.normOf(docs)
    val lens = docs
      .withColumn("graft_norm", norm(col(textCol)))
      .select(col(idCol).as("doc_id"),
        text.tokens(col("graft_norm")).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    // corpus stats off the text-stats struct's n_tokens (it equals
    // size(tokens) for every input; null text coalesces to 0 exactly
    // as size(tokens(null)) = 0): with the kernel, one byte scan
    // instead of a second full tokenize just for avg(dl)
    val stats = docs
      .select(coalesce(Native.textStatsOf(docs)(norm(col(textCol)))
        .getField("n_tokens"), lit(0L)).cast("double").as("dl"))
      .agg(count(lit(1)).cast("double").as("n_docs"),
        avg(col("dl")).as("avgdl"))

    val (qterms, qvocab) = queryTerms(docs, queries)
    // postings of query terms only: broadcast-filter the exploded
    // stream BEFORE the tf groupBy so the shuffle is O(matched)
    val matched = lens
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .join(broadcast(qvocab), "term")
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).cast("double").as("tf"))
    scoreMatched(matched, stats, qterms, k, k1, b)
  }

  /** The persisted-index form of [[bm25Search]]: the corpus-dependent
    * work — tokenize, tf aggregation, doc lengths, corpus stats — is
    * factored into [[bm25Index]] and paid ONCE; each query workload
    * then reads the postings instead of re-scanning the corpus. Write
    * the postings with `Sources.writeBucketed(postings, table,
    * bucketCols = Seq("term"), ...)`: the per-term df aggregation (the
    * only corpus-sized shuffle left at query time) then plans with NO
    * exchange on the postings side — the batch analog of a search
    * engine's inverted index (RetrievalSpec asserts the exchange-free
    * plan and score-identity with the on-the-fly form).
    */
  def bm25SearchIndexed(postings: DataFrame, stats: DataFrame,
                        queries: Seq[(Long, String)], k: Int,
                        k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (qterms, qvocab) = queryTerms(postings, queries)
    val matched = postings.join(broadcast(qvocab), "term")
      .select(col("term"), col("doc_id"), col("dl"), col("tf"))
    scoreMatched(matched, stats, qterms, k, k1, b)
  }

  /** Builds the persistable BM25 inverted index: `postings`
    * (term, doc_id, tf, dl) and the 1-row `stats` (n_docs, avgdl).
    * Stats come from the full doc table (zero-token docs count toward
    * n_docs/avgdl exactly as in [[bm25Search]] even though they emit
    * no postings). One explode + one partial-agg shuffle — the index
    * build is the same cost as a single ad-hoc search's corpus pass.
    */
  def bm25Index(docs: DataFrame, textCol: String, idCol: String): (DataFrame, DataFrame) = {
    val norm = Native.normOf(docs)
    val lens = docs
      .withColumn("graft_norm", norm(col(textCol)))
      .select(col(idCol).as("doc_id"),
        text.tokens(col("graft_norm")).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    val stats = lens.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val postings = lens
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).cast("double").as("tf"))
      .select("term", "doc_id", "tf", "dl")
    (postings, stats)
  }

  /** Normalized, deduplicated query terms: (query_id, term) and the
    * distinct term vocabulary (both broadcast-sized by contract).
    */
  private def queryTerms(session: DataFrame,
                         queries: Seq[(Long, String)]): (DataFrame, DataFrame) = {
    val spark = session.sparkSession
    import spark.implicits._
    val qterms = queries.toDF("query_id", "qtext")
      .select(col("query_id"),
        explode(text.tokens(text.normalize(col("qtext")))).as("term"))
      .distinct()
    (qterms, qterms.select("term").distinct())
  }

  /** Shared BM25 scoring tail over matched postings (term, doc_id, dl,
    * tf): df per term, idf, per-(query, doc) contribution sum, top-k.
    * See [[bm25Search]] for the FP-determinism notes.
    */
  private def scoreMatched(matched: DataFrame, stats: DataFrame, qterms: DataFrame,
                           k: Int, k1: Double, b: Double): DataFrame = {
    val dfs = matched.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val contrib = matched
      .join(broadcast(dfs), "term")
      .join(broadcast(qterms), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf", fround(
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))), 6))
      .withColumn("contrib",
        col("idf") * col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
    val scores = contrib.groupBy("query_id", "doc_id")
      .agg(fround(sum("contrib"), 4).as("bm25"))

    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("id").asc)
    scores.select(col("query_id"),
        coalesce(col("bm25"), lit(0.0)).as("score"),
        coalesce(col("doc_id"), lit(-1L)).cast("long").as("id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("doc_id"), col("score"), col("rank"))
  }

  /** Per-document top-k TF-IDF terms — the keyword/salience extraction
    * pass of a curation pipeline (reference analog: the frequency
    * ranks of `src/db/incidents.py:66-73`, lifted from corpus-global
    * to per-document salience).
    *
    * tfidf(t, D) = tf · (idf(t) + 1),  idf = ln((N+1)/(df+1))
    * (the smoothed form — df=N terms still score, rare terms score
    * higher).
    *
    * Scale shape: postings aggregate once (partial-agg, one shuffle of
    * O(tokens)); df is a vocabulary-sized aggregate JOINED back on
    * term — a shuffle equi-join, NOT a window over term partitions
    * (hot terms would buffer entire postings lists) and NOT an
    * unconditional broadcast (vocabulary grows with the corpus).
    * Corpus size rides a 1-row broadcast. The final per-doc top-k is
    * a row_number window over doc_id — NOT rewritable to the bounded
    * `graft_topk` aggregate (the term tie-break is a STRING order
    * key; the aggregate carries numeric ids), but doc_id partitions
    * are bounded by the PER-DOCUMENT distinct-term count, so the
    * window buffer is small and the partition key is
    * high-cardinality — the scale-safe window case.
    *
    * The postings feed two consumers and are persisted
    * `MEMORY_AND_DISK`; they stay cached until `GraftSession.sweep`
    * releases them.
    *
    * FP determinism: idf floor-rounds to 6dp (ln ulp guard), the
    * tf·idf product floor-rounds to 4dp, and ranking orders by the
    * ROUNDED score with term-ASC tie-break — engine-portable.
    */
  def tfidfTopTerms(docs: DataFrame, textCol: String, idCol: String,
                    k: Int = 3): DataFrame = {
    val norm = Native.normOf(docs)
    // postings feeds TWO consumers (the df rollup + the scoring join):
    // unpersisted, the tokenize + explode + per-doc agg pass — the
    // operator's dominant cost — runs once per consumer (measured r15
    // at sf1: two ~2 s jobs for one logical pass). The persisted table
    // is the SLIM (doc, term, tf) postings — the d2-style staging
    // persist.
    val postingsPlan = docs
      .select(col(idCol).as("doc_id"),
        explode(text.tokens(norm(col(textCol)))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).cast("double").as("tf"))
    val postings = postingsPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfs = postings.groupBy("term")
      .agg(count(lit(1)).cast("double").as("df"))
    val stats = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val scored = postings
      .join(dfs, "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        fround(log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))), 6))
      .withColumn("tfidf", fround(col("tf") * (col("idf") + lit(1.0)), 4))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tfidf"), col("rank"))
  }

  /** Value-bucketed NLL histogram over [[lmScore]] output — the
    * perplexity-binned data-selection signal (CCNet-style quality
    * tiers). `scored` must carry (doc_id, mean_nll).
    *
    * Bucket definition (deliberately NOT ntile): all docs sharing a
    * 4dp mean_nll value land in ONE bucket,
    * bucket(v) = floor(|{rows < v}| · buckets / N) + 1 — deterministic
    * under ties and engine-portable, where ntile splits ties by
    * arbitrary row position.
    *
    * Scale shape: docs aggregate to DISTINCT 4dp score values first
    * (a bounded-cardinality table — the 4dp grid), so the global
    * cumulative window runs over the tiny value table, never the
    * corpus. Two shuffles: per-value count (partial-agg) + the
    * single-partition window over distinct values.
    */
  def nllBuckets(scored: DataFrame, buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = scored.groupBy("mean_nll").agg(count(lit(1)).as("c"))
    // tiny table (distinct 4dp values): whole-frame windows are fine
    val wBefore = Window.orderBy("mean_nll")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy()
    vals
      .withColumn("before", coalesce(sum(col("c")).over(wBefore), lit(0L)))
      .withColumn("n", sum(col("c")).over(wAll))
      .withColumn("bucket",
        (floor(col("before").cast("double") * buckets / col("n")) + 1)
          .cast("long"))
      .groupBy("bucket")
      .agg(sum(col("c")).as("n_docs"),
        min(col("mean_nll")).as("min_nll"), max(col("mean_nll")).as("max_nll"))
      .select(col("bucket"), col("n_docs"), col("min_nll"), col("max_nll"))
  }

  private val BpeSep = "\u0001"
  private val BpeSep2 = BpeSep + BpeSep

  /** The persisted (freq, seq) word table both BPE ops run on: ONE
    * corpus scan (token explode -> word-frequency shuffle), sequences
    * in the double-separator string form.
    */
  private def bpeWordTable(docs: DataFrame, textCol: String): DataFrame = {
    val plan = docs
      .select(explode(text.tokens(graft.ops.Native.normOf(docs)(col(textCol)))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("freq"),
        concat(lit(BpeSep2), array_join(split(col("w"), ""), BpeSep2),
          lit(BpeSep2)).as("seq"))
    plan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** One learned merge (a,b) as the separator-string `replace` both
    * engines implement identically (see [[bpeTrain]]).
    */
  private def bpeMergeOf(l: String, r: String): Column => Column =
    s => replace(s, lit(BpeSep + l + BpeSep2 + r + BpeSep),
      lit(BpeSep + l + r + BpeSep))

  private def bpeTrainOnWords(words: DataFrame,
                              merges: Int): Seq[(Int, String, String, Long)] = {
    var current = words
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var dry = false
    for (step <- 1 to merges if !dry) {
      val syms = filter(split(col("seq"), BpeSep2), s => length(s) > 0)
      val top = current
        .select(col("freq"), syms.as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("l"),
            element_at(col("syms"), i + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) dry = true
      else {
        val (l, r, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((step, l, r, cnt))
        current = current.withColumn("seq", bpeMergeOf(l, r)(col("seq")))
      }
    }
    learned.toSeq
  }

  /** BPE MERGE TRAINING (Sennrich et al., ACL 2016) — learn the first
    * `merges` byte-pair merges from the corpus itself, the tokenizer-
    * construction step every pretraining pipeline runs (t6 APPLIES a
    * BPE-ish segmentation; this LEARNS the merge table it would use).
    * Classic word-internal BPE: each distinct word is a symbol
    * sequence (initially characters); per round, the most frequent
    * adjacent symbol pair (corpus-weighted) merges everywhere, ties
    * broken (count desc, left asc, right asc) so the table is a pure
    * function of the corpus.
    *
    * Scale shape — the production trainer's: the CORPUS is touched
    * exactly ONCE (token explode -> word-frequency shuffle); every
    * round then runs on the persisted VOCABULARY table (distinct
    * words << corpus at any scale), one bounded pair-count partial agg
    * + a 1-row argmax collect per round; driver state = the merge
    * list itself (<= `merges` entries — the IVF/c1 bounded-collect
    * contract).
    *
    * Engine-exact merge application: sequences are STRINGS with
    * DOUBLE \u0001 separators at every boundary, and a merge (a,b) is
    * `replace(seq, \u0001 a \u0001\u0001 b \u0001 -> \u0001 ab \u0001)` —
    * leftmost non-overlapping replacement IS greedy BPE application,
    * each match consumes one separator from each side's pair so
    * neighbours keep theirs (adjacent merge sites all fire in one
    * pass; overlapping ones resolve leftmost, exactly the
    * sequential-scan semantics), and the full-token boundary match
    * means a symbol can never match a PREFIX of a longer symbol. Both
    * engines implement `replace` with identical semantics, so the
    * whole merge trajectory — not just counts — reproduces in the
    * DuckDB oracle.
    *
    * Output: (step 1.., left, right, pair_count) — the merge table,
    * possibly shorter than `merges` if the vocabulary runs dry.
    */
  def bpeTrain(docs: DataFrame, textCol: String, merges: Int): DataFrame = {
    require(merges >= 1 && merges <= 64,
      s"merges must be in [1, 64], got $merges")
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrainOnWords(bpeWordTable(docs, textCol), merges)
      .toDF("step", "left", "right", "pair_count")
  }

  /** BPE SEGMENTATION with the learned merge table — the APPLY side
    * of [[bpeTrain]] (train -> segment is the full tokenizer loop):
    * every word segments by replaying the merges in learned order
    * (the standard BPE inference rule), and the output is the
    * resulting PIECE VOCABULARY with corpus-weighted usage — (piece,
    * n_occurrences), the table a tokenizer report reads to see what
    * the merges actually bought (which subwords exist, how much of
    * the corpus they cover). The piece table is BOUNDED: at most
    * alphabet + `merges` distinct symbols.
    *
    * Scale shape: [[bpeTrain]]'s single corpus scan + vocabulary
    * rounds on the SAME persisted word table (built once, not per
    * op), then segmentation is ONE map-only pass — the k merges are
    * driver literals chained as k `replace`s — and the piece rollup
    * is a partial agg on a bounded key space. The corpus is never
    * re-touched.
    */
  def bpeSegment(docs: DataFrame, textCol: String, merges: Int): DataFrame = {
    val words = bpeWordTable(docs, textCol)
    val table = bpeTrainOnWords(words, merges)
    val segmented = table.foldLeft(col("seq")) { case (s, (_, l, r, _)) =>
      bpeMergeOf(l, r)(s)
    }
    words
      .select(col("freq"), explode(filter(split(segmented, BpeSep2),
        s => length(s) > 0)).as("piece"))
      .groupBy("piece")
      .agg(sum(col("freq")).as("n_occurrences"))
  }

  /** The `step = 0` fit-config marker row's `left` value in a
    * [[bpeFitModel]] table. Normalized pieces are `[a-z0-9]+`, so a
    * NUL-prefixed marker can never collide with a learned symbol.
    */
  private val BpeCfgMarker = "\u0000cfg"

  /** FIT the BPE merge table alone, as ONE persistable DataFrame —
    * the train-offline half of the production tokenizer loop (the
    * apply half is [[bpeSegmentWithModel]]): a real tokenizer is
    * trained ONCE and then applied to every later corpus and batch;
    * [[bpeSegment]] can only retrain-and-apply on one corpus. Same
    * training trajectory as [[bpeTrain]] (identical merge table),
    * plus a `step = 0` marker row recording how many merges were
    * actually LEARNED (`pair_count` — possibly fewer than requested
    * if the vocabulary ran dry): [[bpeSegmentWithModel]] `require()`s
    * the row count matches the marker, so a truncated or filtered
    * model table fails loud instead of silently under-merging. The
    * table is bounded (≤ `merges` + 1 ≤ 65 rows) — a broadcast-sized
    * artifact at any corpus scale.
    */
  def bpeFitModel(train: DataFrame, textCol: String, merges: Int): DataFrame = {
    // the same bound bpeTrain enforces — without it merges > 64 breaks
    // the documented <= 65-row bounded-model contract and merges = 0
    // silently yields a no-op model the apply side accepts
    require(merges >= 1 && merges <= 64,
      s"merges must be in [1, 64], got $merges")
    val spark = train.sparkSession
    import spark.implicits._
    val table =
      bpeTrainOnWords(bpeWordTable(train, textCol), merges)
    ((0, BpeCfgMarker, "", table.size.toLong) +: table)
      .toDF("step", "left", "right", "pair_count")
  }

  /** Segment a corpus with a PERSISTED [[bpeFitModel]] table — the
    * apply-online half: replay the learned merges in step order over
    * THIS corpus's word table and roll up the resulting piece
    * vocabulary corpus-weighted, exactly [[bpeSegment]]'s output
    * shape. Bit-identical to [[bpeSegment]] when the model was fit on
    * the same corpus (TokenizerModelSpec asserts it: the merge table
    * is the only state, and the replay is the same chained-`replace`
    * expression), but the model is an INPUT — train on corpus A,
    * segment corpus B/C/every later batch without re-touching A.
    *
    * Cross-corpus semantics: character-level BPE has NO UNK — a
    * corpus-B character never seen in training simply stays a
    * single-character piece (byte-fallback semantics), and trained
    * merges fire only where their pair occurs, so unseen words
    * segment into the longest trained subwords they contain.
    *
    * Cost: the model is driver-bounded (≤ 65 rows — collected, with a
    * loud require on oversized input); the corpus is touched ONCE
    * (the word-table scan); segmentation is map-only over the
    * DISTINCT-word table; the piece rollup is a partial agg on a
    * bounded key space (≤ alphabet + merges symbols).
    */
  def bpeSegmentWithModel(docs: DataFrame, textCol: String, model: DataFrame): DataFrame = {
    val rows = model
      .select(col("step").cast("int"), col("left"), col("right"),
        col("pair_count").cast("long"))
      .limit(4098).collect()
    require(rows.length <= 4097,
      "bpeSegmentWithModel: model table exceeds 4097 rows — BPE merge " +
        "tables are bounded at 64 merges + 1 marker; was this table " +
        "written by bpeFitModel?")
    val markers = rows.filter(_.getInt(0) == 0)
    require(markers.length == 1 && markers(0).getString(1) == BpeCfgMarker,
      s"bpeSegmentWithModel: model table carries ${markers.length} fit-config " +
        "marker rows (step = 0); expected exactly 1 — was this table " +
        "written by bpeFitModel?")
    val declared = markers(0).getLong(3)
    val merges = rows.filter(_.getInt(0) > 0).sortBy(_.getInt(0))
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    require(merges.map(_._1) == (1 to merges.length),
      s"bpeSegmentWithModel: merge steps must be contiguous 1..n, got " +
        merges.map(_._1).mkString("[", ",", "]"))
    require(merges.length == declared,
      s"bpeSegmentWithModel: model table carries ${merges.length} merges " +
        s"but the fit marker records $declared — truncated or filtered table")
    val segmented = merges.foldLeft(col("seq")) { case (s, (_, l, r)) =>
      bpeMergeOf(l, r)(s)
    }
    bpeWordTable(docs, textCol)
      .select(col("freq"), explode(filter(split(segmented, BpeSep2),
        s => length(s) > 0)).as("piece"))
      .groupBy("piece")
      .agg(sum(col("freq")).as("n_occurrences"))
  }

  /** Viterbi best-segmentation of `word` under the piece → logp map
    * `pmap`: standard subword-tokenizer inference (maximize the sum of
    * piece log-probs) as ONE fold over character positions — dp[j] =
    * best over piece lengths l = 1..`maxPieceLen` of dp[j−l] +
    * logp(word[j−l+1..j]), carried as (score, pieces) structs so the
    * final state IS the segmentation. Deterministic in both engines:
    * candidates scan l ascending and replace only on STRICTLY greater
    * score (ties keep the shorter final piece), every score is a sum
    * of 6dp-rounded logps accumulated in the same association, and
    * unreachable positions carry a −1e18 sentinel (a position is
    * unreachable when a pruned vocabulary covers no piece ending
    * there; the single-character alphabet is never pruned, so the
    * FINAL position always resolves). `greatest(…, 1)` clamps the
    * prefix index so no branch ever evaluates an out-of-range
    * element_at, reachable or not (the validity conjunct gates the
    * value; the clamp only keeps ANSI mode quiet on the dead branch).
    */
  private def viterbiPieces(word: Column, pmap: Column,
                            maxPieceLen: Int): Column = {
    val emptyP = array().cast("array<string>")
    val folded = aggregate(
      sequence(lit(1), length(word)),
      array(struct(lit(0.0).as("s"), emptyP.as("p"))),
      (acc, j) => {
        val sentinel = struct(lit(-1e18).as("s"), emptyP.as("p"))
        val best = (1 to maxPieceLen).foldLeft(sentinel: Column) { (b, l) =>
          val piece = word.substr(j - lit(l) + lit(1), lit(l))
          val lp = element_at(pmap, piece)
          val prev = element_at(acc, greatest(j - lit(l) + lit(1), lit(1)))
          val candS = prev.getField("s") + lp
          when((j >= lit(l)) && lp.isNotNull &&
              (prev.getField("s") > lit(-1e17)) && (candS > b.getField("s")),
            struct(candS.as("s"),
              array_append(prev.getField("p"), piece).as("p")))
            .otherwise(b)
        }
        array_append(acc, best)
      })
    element_at(folded, length(word) + lit(1)).getField("p")
  }

  /** UNIGRAM-LM subword tokenizer trainer (the SentencePiece family,
    * Kudo 2018) in a deterministic Viterbi hard-EM form — the other
    * production tokenizer next to [[bpeTrain]]'s BPE (VERDICT r08 #7):
    * where BPE grows a vocabulary bottom-up by merging, the unigram
    * trainer starts from an over-complete substring seed and lets EM
    * re-estimate piece probabilities, pruning what the best
    * segmentations stop using.
    *
    * Recipe (every step engine-replicable):
    *  1. Word table: normalized whitespace tokens of the corpus with
    *     frequencies; words longer than `maxWordLen` chars are dropped
    *     (they are vanishingly rare post-normalization and would only
    *     deepen the dp).
    *  2. Seed: every substring of length 1..`maxPieceLen`, counted
    *     with corpus multiplicity; vocabulary = ALL single characters
    *     (coverage — never pruned) ∪ the top `seedSize` multi-char
    *     pieces by (count desc, piece asc). logp = 6dp-ln of
    *     count/total.
    *  3. `iters` hard-EM rounds: Viterbi-segment every DISTINCT word
    *     under the current logps ([[viterbiPieces]]), recount pieces
    *     with word frequencies, drop multi-char pieces with count 0,
    *     re-normalize with +0.5 smoothing on the alphabet only (an
    *     unused character keeps a finite floor logp, so coverage
    *     survives any pruning trajectory), logp = 6dp-ln over the
    *     exact-decimal smoothed total.
    *  4. TARGET-VOCABULARY pruning (`vocabSize` > 0 — Kudo's actual
    *     shrink step, the knob a real tokenizer build sets first):
    *     each round additionally keeps only the top
    *     max(`vocabSize`, ceil(n_multis·`shrinkFactor`)) multi-char
    *     pieces by (cnt desc, piece asc) — geometric shrink toward
    *     `vocabSize` multi-char pieces, never below it, alphabet
    *     always exempt — and the +0.5/normalize runs over the
    *     SURVIVORS, so the pruning trajectory (not just the final
    *     table) is what the oracle replicates (the d21 principle).
    *     `vocabSize` counts multi-char pieces; the alphabet rides on
    *     top. Reaching the target needs iters ≥
    *     log(seedSize/vocabSize)/log(1/shrinkFactor) rounds.
    *     Default 0 = no target (prune only usage-0 pieces).
    *
    * Determinism/portability: integer counts sum exactly; smoothed
    * counts live in decimal(18,1); each logp is ONE 6dp-floor-rounded
    * ln of a ratio of exact values; dp sums replay in one fixed
    * association with strict-greater tie-breaks (t18/t34's recipe) —
    * so a fixed-iteration EM TRAJECTORY, not just the final table, is
    * oracle-checkable (the d21 principle: the knob's derivation is
    * itself under the gate).
    *
    * Scale shape: the corpus is touched ONCE (the word-table groupBy —
    * same single scan as BPE's); everything downstream runs at
    * DICTIONARY size (distinct words and piece tables ≤ alphabet +
    * `seedSize` rows for pieces — the e1/e2 dictionary contract).
    * Per round: one broadcast piece-key join against the BOUNDED
    * vocabulary, one per-word map rollup, the map-only Viterbi pass,
    * one bounded recount shuffle, then ONE driver collect of the
    * ≤ alphabet + `seedSize`-row piece table (the BPE merge-list /
    * centroid class of bounded model state — r14: the former
    * per-round localCheckpoint + window-prune + 1-row-broadcast
    * chain cost 5+ Spark jobs per round of pure scheduling at any
    * scale; prune + exact decimal normalization now run on the
    * collected rows and the next round's model is a LocalRelation,
    * which Catalyst folds and broadcasts with NO job). The
    * word-frequency table is dictionary-scale but NOT bounded —
    * distinct normalized words grow with the corpus (Heaps' law) — so
    * it is never broadcast: its `freq` rides the (word, piece)
    * candidate table, which is always the PROBE side of the
    * vocabulary broadcast join (the `broadcastModel` knob lives on the
    * apply side — [[tokenizerCost]]'s word-stat join-back — where the
    * unbounded table is the build side). Seed selection is a
    * TakeOrdered top-k, never a global sort.
    *
    * Output: (piece, cnt, logp) after round `iters` — cnt the raw
    * final Viterbi count (0 for never-used alphabet chars), logp the
    * smoothed model the next round would use.
    */
  def unigramLmTrain(docs: DataFrame, textCol: String,
                     seedSize: Int = 512, maxPieceLen: Int = 4,
                     maxWordLen: Int = 16, iters: Int = 2,
                     vocabSize: Int = 0,
                     shrinkFactor: Double = 0.75): DataFrame = {
    // upper bound = the broadcast-relation class the driver-side model
    // state is justified by (the DriverCcEdgeThreshold rule): every EM
    // round collects alphabet + seedSize rows, so an unbounded seedSize
    // would turn the bounded-model contract into an arbitrary driver
    // collect.
    require(seedSize >= 1 && seedSize <= 65536,
      s"seedSize must be in [1, 65536], got $seedSize")
    require(maxPieceLen >= 2 && maxPieceLen <= 8,
      s"maxPieceLen must be in [2, 8], got $maxPieceLen")
    require(maxWordLen >= maxPieceLen && maxWordLen <= 64,
      s"maxWordLen must be in [$maxPieceLen, 64], got $maxWordLen")
    require(iters >= 1 && iters <= 8, s"iters must be in [1, 8], got $iters")
    require(vocabSize >= 0, s"vocabSize must be >= 0, got $vocabSize")
    require(shrinkFactor > 0.0 && shrinkFactor < 1.0,
      s"shrinkFactor must be in (0, 1), got $shrinkFactor")
    def persist(df: DataFrame): DataFrame =
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the ONE corpus scan; dictionary-sized from here on
    val words = persist(docs
      .select(explode(text.tokens(
        graft.ops.Native.normOf(docs)(col(textCol)))).as("word"))
      .where(length(col("word")).between(1, maxWordLen))
      .groupBy("word").agg(count(lit(1)).as("freq")))
    // an all-empty (or fully length-filtered) train split would
    // otherwise train a silent EMPTY vocabulary that verdicts every
    // downstream word UNK with no signal — fail loud instead (the
    // semDedupPairsAuto degenerate-input contract). NOTE this makes
    // CONSTRUCTION eager: the isEmpty probe runs one bounded Spark
    // job (a limit-1 on the persisted word table) at operator-call
    // time, even if the returned plan is never acted on — the priced
    // cost of failing loud here instead of deep in round 1's join.
    require(!words.isEmpty,
      "unigramLmTrain: the train corpus produced ZERO words after " +
        s"normalization and the 1..$maxWordLen length filter — an empty " +
        "vocabulary would silently verdict every word UNK downstream")
    // all substring occurrences; feeds seed counts AND the per-round
    // candidate join (distinct form)
    val subs = persist(words
      .select(col("word"), col("freq"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(col("word"), col("freq"), col("i"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("word")) - col("i") + 1))).as("l"))
      .select(col("word"), col("freq"),
        col("word").substr(col("i"), col("l")).as("piece")))
    val sc = persist(subs.groupBy("piece").agg(sum("freq").as("cnt")))
    val spark = docs.sparkSession
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructType, StructField, StringType,
      LongType, DecimalType}
    // The model tables here are BOUNDED — alphabet + ≤ seedSize rows —
    // the same driver-state class as BPE's collected merge list and
    // the k-means centroid tables (§5's bounded-collect contract).
    // Holding the per-round vocabulary as driver rows / LocalRelations
    // removes every per-round scheduling job the distributed form paid
    // (broadcast builds, 1-row total exchanges, window prune,
    // localCheckpoint writes): a LocalRelation model is folded by
    // Catalyst at plan time and broadcast without running a job.
    val pcSchema = StructType(Seq(StructField("piece", StringType),
      StructField("cnt", LongType)))
    def localPc(rows: Seq[(String, Long)]): DataFrame =
      spark.createDataFrame(
        rows.map { case (p, c) => Row(p, c): Row }.asJava, pcSchema)
    val charRows: Seq[(String, Long)] = sc
      .where(length(col("piece")) === 1).select("piece", "cnt")
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
    val multiRows: Seq[(String, Long)] = sc
      .where(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece")).limit(seedSize)
      .select("piece", "cnt")
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
    val seedRows = charRows ++ multiRows
    // Long sum then one double cast — exactly sum("cnt").cast("double")
    val tot0 = seedRows.iterator.map(_._2).sum.toDouble
    // logp stays a CATALYST expression over the LocalRelation (folded
    // at plan time), so the log/floor-round bits are computed by the
    // same expression evals as before — nothing numeric is re-derived
    // in Scala except exact integer/decimal sums
    val v0 = localPc(seedRows)
      .select(col("piece"),
        fround(log(col("cnt").cast("double") / lit(tot0)), 6).as("logp"))
      .withColumn("cnt", lit(0L))
    // alphabet floor rows for the per-round recount union
    val charsZero = localPc(charRows.map { case (p, _) => (p, 0L) })
    // distinct (word, piece) feeds EVERY round's candidate join —
    // persisted so the distinct shuffle runs once, not per round.
    // `freq` rides along (functionally dependent on word — same row
    // count, 8 bytes wider) so the round needs NO second join against
    // the unbounded word-frequency table: the bounded vocabulary is
    // always the BUILD side, the dictionary-scale candidate table
    // always the probe side, at any corpus size.
    val wp = persist(subs.select("word", "freq", "piece").distinct())
    // per-round exchanges are the price at many slots (the t34
    // scheduling-floor class), so the round is built lean: one
    // broadcast candidate join, ONE word-key rollup, one bounded
    // piece agg, one driver collect.
    def emRound(v: DataFrame): DataFrame = {
      val pm = wp.join(broadcast(v.select("piece", "logp")), Seq("piece"))
        .groupBy("word")
        .agg(first(col("freq")).as("freq"),
          map_from_entries(collect_list(
            struct(col("piece"), col("logp")))).as("m"))
      val seg = pm.select(col("freq"),
        explode(viterbiPieces(col("word"), col("m"), maxPieceLen))
          .as("piece"))
      val cnt = seg.groupBy("piece").agg(sum("freq").cast("long").as("cnt"))
      // alphabet floor rows via union + re-agg (chars used in the
      // segmentation merge with their counts; unused ones surface at
      // 0) — one partial agg where a full-outer join would shuffle
      // both sides
      val sm = cnt.unionByName(charsZero)
        .groupBy("piece").agg(sum("cnt").as("cnt"))
        .where(col("cnt") > 0 || length(col("piece")) === 1)
        .withColumn("cs", col("cnt").cast("decimal(18,1)") +
          when(length(col("piece")) === 1, lit(0.5)).otherwise(lit(0.0))
            .cast("decimal(18,1)"))
      // ONE action per round: the bounded piece table comes back to
      // the driver; prune and the exact decimal total run on the
      // collected rows (integer/decimal arithmetic — engine-exact by
      // construction), and the next round's model is a LocalRelation.
      val smRows: Seq[(String, Long, java.math.BigDecimal)] =
        sm.select("piece", "cnt", "cs").collect().toSeq
          .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
      val keptRows = if (vocabSize <= 0) smRows else {
        // Kudo's vocabulary-shrink step in a deterministic form: keep
        // the TOP max(vocabSize, ceil(n_multis·shrinkFactor))
        // multi-char pieces by (cnt desc, piece asc) — count IS the
        // probability rank here (logp is monotone in cnt under the
        // shared normalization), so this is the likelihood-
        // contribution order with an engine-exact integer tie-break,
        // replicable as row_number + a scalar-count filter in any
        // engine. The alphabet rides on top unconditionally
        // (coverage). Piece-length and ordering semantics match the
        // engine exactly: length() counts code points
        // (codePointCount, not String.length) and the ascending piece
        // tie-break is UTF8String binary order (= code-point order,
        // which Java's UTF-16 compareTo is NOT beyond the BMP).
        def nChars(s: String) = s.codePointCount(0, s.length)
        val (chars1, multis) = smRows.partition(t => nChars(t._1) == 1)
        val keep = math.max(vocabSize.toLong,
          math.ceil(multis.size.toDouble * shrinkFactor).toLong)
        val ord = new Ordering[(String, Long, java.math.BigDecimal)] {
          def compare(a: (String, Long, java.math.BigDecimal),
                      b: (String, Long, java.math.BigDecimal)): Int = {
            val c = java.lang.Long.compare(b._2, a._2)
            if (c != 0) c
            else org.apache.spark.unsafe.types.UTF8String.fromString(a._1)
              .compareTo(
                org.apache.spark.unsafe.types.UTF8String.fromString(b._1))
          }
        }
        multis.sorted(ord)
          .take(math.min(keep, Int.MaxValue.toLong).toInt) ++ chars1
      }
      // exact decimal total (BigDecimal add ≡ Spark's Decimal sum),
      // then the same single double cast the engine form applied
      var tot = java.math.BigDecimal.ZERO
      keptRows.foreach(t => tot = tot.add(t._3))
      val totD = tot.doubleValue
      val csSchema = StructType(Seq(StructField("piece", StringType),
        StructField("cnt", LongType), StructField("cs", DecimalType(19, 1))))
      spark.createDataFrame(
        keptRows.map { case (p, c, s) => Row(p, c, s): Row }.asJava, csSchema)
        .select(col("piece"), col("cnt"),
          fround(log(col("cs").cast("double") / lit(totD)), 6).as("logp"))
    }
    (1 to iters).foldLeft(v0)((v, _) => emRound(v))
      .select("piece", "cnt", "logp")
  }

  /** TOKENIZER COST report — the APPLY side of [[unigramLmTrain]],
    * closing the train → apply loop exactly as t35 does for t34's
    * BPE: train the unigram-LM vocabulary on the `trainFilter` split,
    * then Viterbi-segment EVERY document's words (held-out included)
    * under the trained model and account per doc: (n_words, n_pieces,
    * n_unk_words, pieces_per_word 4dp) — "what does this corpus cost
    * in tokens", the number every pretraining-budget and packing
    * decision (t9) starts from, measured under a REAL trained
    * tokenizer instead of whitespace counts.
    *
    * Held-out words segment with the trained pieces (the model
    * generalizes by construction — every trained character reaches
    * any position); a word is UNK when the trained vocabulary cannot
    * cover it at all — it contains a character never seen in
    * training, or exceeds `maxWordLen` (the trainer's own word
    * bound) — and contributes 0 pieces. `pieces_per_word` is the 4dp
    * ratio over the segmentable words only (NULL when a doc has
    * none). Docs with zero tokens produce no row (t24's contract).
    *
    * Scale shape: the train corpus is touched once (inside the
    * trainer); the FULL corpus is scanned twice — once for the
    * distinct-word leg, once for the per-doc join-back — a deliberate
    * trade: the (doc, word) explode is corpus-scale, and persisting
    * it (the r09 form) swaps the second map-only columnar scan for
    * corpus-sized cache state, which at 100 TB is the expensive side
    * (the persist spills ~the corpus to executor disk; the rescan is
    * a pruned-column parquet read). Only the DICTIONARY-sized
    * intermediates (`wdist`, the trainer's tables) persist.
    * Segmentation runs per DISTINCT word at dictionary size; the
    * join-back of the per-word stats is broadcast only behind
    * `broadcastModel` — NAME CAVEAT: on this path the knob broadcasts
    * the DISTINCT-WORD stat table (`wstat`), not the bounded piece
    * vocabulary (which is always broadcast-safe); the word table
    * GROWS with the corpus (Heaps' law — 10^8–10^9 distinct "words"
    * at web scale), so the 100 TB path is `broadcastModel = false`: a
    * plain doc-word equi-join, which Spark's own size-gated
    * auto-broadcast (AQE + autoBroadcastJoinThreshold) still converts
    * to a broadcast at runtime whenever the word table actually fits
    * (both legs row-identical, RobustSpec). The per-doc rollup is one
    * partial agg.
    */
  def tokenizerCost(docs: DataFrame, textCol: String, idCol: String,
                    trainFilter: Column, seedSize: Int = 512,
                    maxPieceLen: Int = 4, maxWordLen: Int = 16,
                    iters: Int = 2,
                    broadcastModel: Boolean = true): DataFrame = {
    // the trained model — localCheckpointed by the trainer, so this
    // subtree is a bounded table, not a replay of the EM rounds
    val vocab = unigramLmTrain(docs.filter(trainFilter), textCol, seedSize,
        maxPieceLen, maxWordLen, iters)
      .select("piece", "logp")
    segmentCostWithVocab(docs, textCol, idCol, vocab, maxPieceLen,
      maxWordLen, broadcastModel)
  }

  /** The APPLY half [[tokenizerCost]] and [[unigramSegmentWithModel]]
    * share — ONE definition so the refit-inline and persisted-model
    * paths can never segment differently: distinct-word leg, bounded
    * piece-candidate join against `vocab` (piece, logp), per-word
    * Viterbi, per-doc rollup. See [[tokenizerCost]] for the scale
    * shape (the corpus-scale (doc, word) explode is deliberately NOT
    * persisted; only dictionary-sized intermediates are).
    */
  private def segmentCostWithVocab(docs: DataFrame, textCol: String,
                                   idCol: String, vocab: DataFrame,
                                   maxPieceLen: Int, maxWordLen: Int,
                                   broadcastModel: Boolean): DataFrame = {
    // deliberately NOT persisted: corpus-scale — see "Scale shape".
    val aw = docs.select(col(idCol).as("doc_id"),
      explode(text.tokens(
        graft.ops.Native.normOf(docs)(col(textCol)))).as("word"))
    // single consumer since the r14 left-join-miss rework — a persist
    // here would only add a cache write to the one pass that reads it
    val wdist = aw.select("word").distinct()
    val wsub = wdist.where(length(col("word")) <= maxWordLen)
      .select(col("word"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(col("word"), col("i"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("word")) - col("i") + 1))).as("l"))
      .select(col("word"), col("word").substr(col("i"), col("l")).as("piece"))
      .distinct()
    // Per-word stats for the words that HAVE candidate pieces only
    // (r14): a word outside `wpm` — over-long (filtered from wsub) or
    // containing no trained piece — had `pieces = []`, np = 0,
    // unk = 1; that is exactly the LEFT-JOIN MISS of the final
    // join-back, so the former dictionary-scale `wdist ⋈ wpm` join
    // that materialized those zero rows is dropped and the misses are
    // coalesced at the doc join instead (one less dictionary join,
    // identical accounting — note a word whose dp fails has np = 0
    // through the size() of the empty Viterbi array, same as a miss).
    val wstat = wsub.join(broadcast(vocab), Seq("piece"))
      .groupBy("word").agg(map_from_entries(collect_list(
        struct(col("piece"), col("logp")))).as("m"))
      .select(col("word"),
        size(viterbiPieces(col("word"), col("m"), maxPieceLen))
          .cast("long").as("np"))
    aw.join(if (broadcastModel) broadcast(wstat) else wstat, Seq("word"), "left")
      .select(col("doc_id"), coalesce(col("np"), lit(0L)).as("np"),
        when(coalesce(col("np"), lit(0L)) === 0, 1L).otherwise(0L).as("unk"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("np").as("np"),
        sum("unk").as("unk"))
      .select(col("doc_id"), col("n_words"),
        col("np").cast("long").as("n_pieces"),
        col("unk").cast("long").as("n_unk_words"),
        when(col("n_words") - col("unk") > 0,
          fround(col("np").cast("double")
            / (col("n_words") - col("unk")).cast("double"), 4))
          .as("pieces_per_word"))
  }

  /** The `piece` prefix of [[unigramFitModel]]'s fit-config marker
    * rows. Trained pieces are substrings of normalized words
    * (`[a-z0-9]+`), so a NUL-prefixed marker can never collide.
    */
  private val UniCfgPrefix = "\u0000cfg:"

  /** FIT [[unigramLmTrain]]'s vocabulary alone, as ONE persistable
    * table — the train-offline half of the unigram tokenizer loop
    * (the apply half is [[unigramSegmentWithModel]]), mirroring
    * [[bpeFitModel]]'s role for BPE and copying the
    * nbFitModel/nbScoreWithModel construction. Output = the trainer's
    * (piece, cnt, logp) rows plus TWO marker rows (`piece` =
    * NUL-prefixed, `cnt` carries the value) recording the fit-side
    * `maxPieceLen` and `maxWordLen`: maxPieceLen bounds both the
    * candidate substring lengths AND the Viterbi dp depth, maxWordLen
    * decides which words are UNK by length — an apply side
    * disagreeing on either would silently mis-segment, so
    * [[unigramSegmentWithModel]] `require()`s the markers match
    * before it segments anything. (seedSize/iters/vocabSize are NOT
    * apply state — they shape which pieces exist, already fully
    * encoded in the rows.) The table is bounded: ≤ alphabet +
    * `seedSize` + 2 rows, a broadcast-sized artifact at any corpus
    * scale.
    */
  def unigramFitModel(train: DataFrame, textCol: String,
                      seedSize: Int = 512, maxPieceLen: Int = 4,
                      maxWordLen: Int = 16, iters: Int = 2,
                      vocabSize: Int = 0,
                      shrinkFactor: Double = 0.75): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    val v = unigramLmTrain(train, textCol, seedSize, maxPieceLen,
      maxWordLen, iters, vocabSize, shrinkFactor)
    val cfg = Seq(
      (UniCfgPrefix + "max_piece_len", maxPieceLen.toLong, 0.0),
      (UniCfgPrefix + "max_word_len", maxWordLen.toLong, 0.0))
      .toDF("piece", "cnt", "logp")
    v.unionByName(cfg)
  }

  /** Per-doc token-cost accounting against a PERSISTED
    * [[unigramFitModel]] table — bit-identical to [[tokenizerCost]]
    * run with the same train split (TokenizerModelSpec asserts it:
    * both paths segment through the ONE shared
    * [[segmentCostWithVocab]] and the trained rows ARE the model),
    * but with the model as an INPUT instead of refit per call: train
    * on corpus A once, price corpus B / every later batch under
    * corpus A's vocabulary — the shape the streaming token-cost
    * monitor needs (per batch: the batch's own map-only passes + one
    * broadcast join against the bounded model; history never
    * rescanned, the model never refit in the hot path).
    *
    * Corpus-B semantics: a word containing a character the model
    * never trained (no single-char piece covers it) or exceeding the
    * fit-side `maxWordLen` is UNK — counted, contributing 0 pieces —
    * exactly [[tokenizerCost]]'s held-out rule, now across corpora.
    */
  def unigramSegmentWithModel(docs: DataFrame, textCol: String, idCol: String,
                              model: DataFrame,
                              maxPieceLen: Int = 4, maxWordLen: Int = 16,
                              broadcastModel: Boolean = true): DataFrame = {
    // fit-config guard: a model fit with different piece/word bounds
    // would segment SILENTLY differently — fail loud. The probe is
    // one bounded job (prefix-filtered limit-collect over the
    // ≤ alphabet + seedSize + 2-row model table).
    val markers = model.filter(col("piece").startsWith(UniCfgPrefix))
      .select(col("piece"), col("cnt").cast("long"))
      .limit(10).collect()
      .map(r => (r.getString(0).stripPrefix(UniCfgPrefix), r.getLong(1)))
      .toMap
    require(markers.contains("max_piece_len") && markers.contains("max_word_len"),
      "unigramSegmentWithModel: model table carries no fit-config marker " +
        "rows — was this table written by unigramFitModel?")
    require(markers("max_piece_len") == maxPieceLen.toLong,
      s"unigramSegmentWithModel: model was fit with " +
        s"maxPieceLen=${markers("max_piece_len")} but apply-side " +
        s"maxPieceLen=$maxPieceLen — the candidate substrings and dp depth " +
        "would disagree; pass the fit-side value")
    require(markers("max_word_len") == maxWordLen.toLong,
      s"unigramSegmentWithModel: model was fit with " +
        s"maxWordLen=${markers("max_word_len")} but apply-side " +
        s"maxWordLen=$maxWordLen — the UNK-by-length rule would disagree; " +
        "pass the fit-side value")
    val vocab = model.filter(!col("piece").startsWith(UniCfgPrefix))
      .select("piece", "logp")
    segmentCostWithVocab(docs, textCol, idCol, vocab, maxPieceLen,
      maxWordLen, broadcastModel)
  }
}
