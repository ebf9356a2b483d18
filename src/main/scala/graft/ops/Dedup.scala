package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{hashing, text}

/** Document deduplication operators for LLM-training-data pipelines.
  *
  * Exact dedup generalizes the reference's idempotent keyed insert
  * (`src/db/incidents.py:41-46`) to content-addressed keys; the
  * near-dup family (MinHash+LSH, SimHash, n-gram Jaccard, embedding
  * cosine) is the standard web-scale dedup toolkit. All are one or two
  * shuffles on bounded keys — never an unblocked cross join.
  *
  * The pairwise-verify joins (candidates ⋈ doc→hashes) carry no join
  * hint: the doc table is O(corpus), so an unconditional broadcast
  * dies at Spark's 8 GB exchange cap past ~tens of millions of docs.
  * AQE plans each from RUNTIME size stats and converts it to a
  * broadcast only when the table actually fits the threshold — the
  * size gate is Spark's own measured size, not a guess.
  */
object Dedup {

  /** Exact dedup groups: normalized-content md5 → (fingerprint,
    * n_dups, canonical = min id). One shuffle on the fingerprint.
    */
  def exactGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(md5(Native.normOf(docs)(col(textCol))).as("fingerprint"), col(idCol))
      .groupBy("fingerprint")
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("canonical_id"))

  /** Incremental (delta-vs-index) exact dedup — the production shape
    * for a corpus that grows in batches: today's crawl dedups against
    * the ACCUMULATED index, not just against itself. Each delta row
    * gets a verdict:
    *  - `dup_index`: its normalized-content fingerprint already exists
    *    in the index (wins over a within-delta dup — the row is a dup
    *    regardless of what else this batch holds);
    *  - `dup_delta`: first seen in THIS batch, but a smaller-id delta
    *    row carries the same fingerprint;
    *  - `new`: the batch's canonical first occurrence — the rows that
    *    (and only the rows that) would extend the index.
    *
    * All three legs — the index fingerprint set, the within-delta
    * first-id, and the verdict joins — key on `fingerprint`, so
    * Catalyst reuses ONE hash exchange per side and the whole verdict
    * costs a single shuffle round (plan-asserted in CurationSpec). At
    * 100 TB the index side is the persisted fingerprint table built by
    * prior batches (pass `indexIsFingerprints = true` and this op
    * never rescans history — per-batch cost is O(delta) + one join
    * against the index partitions); deriving it from raw index text,
    * as the declared query does, is the bootstrap path.
    */
  def incrementalDedup(index: DataFrame, delta: DataFrame,
                       textCol: String, idCol: String,
                       indexIsFingerprints: Boolean = false): DataFrame = {
    val idx =
      (if (indexIsFingerprints) index.select(col("fingerprint"))
       else index.select(md5(Native.normOf(index)(col(textCol))).as("fingerprint")))
        .distinct()
    val del = delta.select(col(idCol),
      md5(Native.normOf(delta)(col(textCol))).as("fingerprint"))
    val first = del.groupBy("fingerprint").agg(min(col(idCol)).as("first_id"))
    del
      .join(first, Seq("fingerprint"))
      .join(idx.withColumn("in_index", lit(1)), Seq("fingerprint"), "left")
      .select(col(idCol), col("fingerprint"),
        when(col("in_index").isNotNull, lit("dup_index"))
          .when(col(idCol) =!= col("first_id"), lit("dup_delta"))
          .otherwise(lit("new")).as("verdict"))
  }

  /** Sampled duplicate-rate estimation: what fraction of the corpus is
    * an exact duplicate, measured on a deterministic sample — the
    * number you want BEFORE paying for a full 100 TB dedup (is the job
    * worth running?) and the per-batch health metric after (did the
    * crawler start re-fetching?).
    *
    * The sample is CLUSTER-COHERENT: the sampling key is the
    * normalized-content fingerprint itself (keep iff the first 4 hex
    * chars of md5(fingerprint:salt) < `sampleHex`), so every copy of a
    * document makes the same in/out decision and a duplicate group is
    * sampled whole or not at all. A row-id sample would split groups
    * and systematically UNDERCOUNT (a pair survives only if both copies
    * land in the sample — rate², not rate), which is exactly the bias
    * this keying removes: the sampled groups are an unbiased draw of
    * all groups, so in-sample dup fraction estimates the corpus dup
    * fraction.
    *
    * Cost: map-side fingerprint + filter, then ONE partial-agg shuffle
    * carrying only the sampled fingerprints (sampleHex/0x10000 of the
    * corpus); count_distinct is the standard two-phase exact agg.
    * RNG-free and partitioning-invariant like every sampling op here
    * (t8/t11/t13 contract). dup_rate is 4dp-rounded; an empty sample
    * yields NULL rather than 0/0.
    */
  def dupRateSample(docs: DataFrame, textCol: String,
                    salt: String = "graft",
                    sampleHex: String = "2000"): DataFrame = {
    // "g000" (g > any hex digit) keeps every fingerprint — the same
    // keep-all convention as stratifiedSample's hex4; the pattern
    // admits only pure hex or the g-prefixed keep-all form, never
    // mixed strings like "0g0g"
    require(sampleHex.matches("(?:[0-9a-f]{4}|g[0-9a-f]{3})"),
      s"sampleHex must be 4 lowercase hex chars (or gNNN for keep-all), got '$sampleHex'")
    val sampled = docs
      .select(md5(Native.normOf(docs)(col(textCol))).as("fingerprint"))
      .where(substring(md5(concat(col("fingerprint"), lit(":"), lit(salt))), 1, 4)
        < lit(sampleHex))
    sampled
      .agg(count(lit(1)).as("sample_docs"),
        countDistinct(col("fingerprint")).as("sample_distinct"))
      .select(col("sample_docs"), col("sample_distinct"),
        (col("sample_docs") - col("sample_distinct")).as("dup_docs"),
        when(col("sample_docs") === 0, lit(null).cast("double"))
          .otherwise(graft.functions.num.fround(
            (col("sample_docs") - col("sample_distinct")).cast("double")
              / col("sample_docs").cast("double"), 4)).as("dup_rate"))
  }

  /** Default LSH banding derived from the Jaccard threshold: the
    * FEWEST bands (longest rows-per-band — steepest, furthest-right
    * s-curve) whose collision-probability midpoint (1/b)^(b/numPerm)
    * still sits at least `margin` below the threshold, so pairs AT the
    * threshold collide with well over 0.5 probability per the s-curve
    * and measured recall stays 1.0 (RobustSpec). A fixed bands=32 is
    * tuned for t=0.5 (midpoint 0.42); at t=0.8 it makes every pair
    * above 0.42 a candidate — quadratic candidate volume the caller
    * never asked for. Derived: t=0.5 → 32 (unchanged), t=0.8 → 16
    * (midpoint 0.71), so high-threshold callers get ~an order of
    * magnitude fewer candidates by default.
    */
  def defaultBands(numPerm: Int, threshold: Double, margin: Double = 0.05): Int =
    (1 to numPerm).filter(numPerm % _ == 0)
      .find(b => math.pow(1.0 / b, b.toDouble / numPerm) <= threshold - margin)
      .getOrElse(numPerm)

  /** MinHash+LSH candidate pairs, verified with exact shingle Jaccard.
    *
    * Scale shape: map (shingle → minhash sig → band keys) is pure
    * codegen; `explode` over `bands` keys; one shuffle to co-locate
    * band buckets; within-bucket self-join emits candidates; exact
    * verify touches only candidates. No full cross join anywhere.
    *
    * `bands` <= 0 (the default) derives the banding from
    * `jaccardThreshold` via [[defaultBands]] — at the 0.5 default
    * threshold this is the long-standing 32; higher thresholds get
    * fewer bands and so avoid paying t=0.5-sized candidate volume.
    *
    * The doc→hashes and band tables are pinned (MEMORY_AND_DISK) for
    * the session lifetime — the result is lazy, so the op cannot know
    * when its consumer is done with them; [[graft.GraftSession.sweep]]
    * releases them.
    */
  def minhashPairs(docs: DataFrame, textCol: String, idCol: String,
                   numPerm: Int = 128, bands: Int = 0, shingleK: Int = 5,
                   jaccardThreshold: Double = 0.5): DataFrame = {
    val (hashed, candidates) = minhashStaged(docs, textCol, idCol, numPerm,
      bands, shingleK, jaccardThreshold)
    // The verify joins bring the doc→hashes table to the candidate
    // pairs; strategy is size-gated (see the object scaladoc).
    candidates
      .join(hashed.as("h1"), col("id1") === col("h1.id"))
      .join(hashed.as("h2"), col("id2") === col("h2.id"))
      .select(col("id1"), col("id2"),
        col("h1.hs").as("sh1"), col("h2.hs").as("sh2"))
      .withColumn("inter", Dedup.intersectSize(docs, col("sh1"), col("sh2")).cast("double"))
      // floor-round (num.fround), NOT round(): integer-ratio jaccards
      // land exactly on .xxxx5 boundaries where engine round()
      // semantics diverge from the DuckDB oracle's floor form (same
      // rule as d4)
      .withColumn("jaccard", graft.functions.num.fround(
        when(size(col("sh1")) + size(col("sh2")) === 0, 0.0)
          .otherwise(col("inter") /
            (size(col("sh1")).cast("double") + size(col("sh2")).cast("double") - col("inter"))), 4))
      .filter(col("jaccard") >= jaccardThreshold)
      .select("id1", "id2", "jaccard")
  }

  /** The (id1, id2) LSH candidate set [[minhashPairs]] verifies —
    * exposed because candidate volume IS the dominant cost of the op
    * (d2's sf0.1 profile: band join 0.45 s of 1.9 s total, verify
    * 0.12 s), so banding policies are judged by measuring it
    * (RobustSpec asserts the threshold-derived default cuts candidates
    * >= 4x at t=0.8 vs the fixed t=0.5 banding).
    */
  def minhashCandidates(docs: DataFrame, textCol: String, idCol: String,
                        numPerm: Int = 128, bands: Int = 0, shingleK: Int = 5,
                        jaccardThreshold: Double = 0.5): DataFrame =
    minhashStaged(docs, textCol, idCol, numPerm, bands, shingleK,
      jaccardThreshold)._2

  /** Shared staging for [[minhashPairs]]/[[minhashCandidates]]:
    * returns (doc→sorted-shingle-hashes, deduped candidate pairs).
    */
  private def minhashStaged(docs: DataFrame, textCol: String, idCol: String,
                            numPerm: Int, bands: Int, shingleK: Int,
                            jaccardThreshold: Double): (DataFrame, DataFrame) = {
    val nBands = if (bands > 0) bands else defaultBands(numPerm, jaccardThreshold)
    require(numPerm % nBands == 0,
      s"numPerm ($numPerm) must be a multiple of bands ($nBands)")
    val rowsPerBand = numPerm / nBands
    val (hashed, banded) = persisted(hashedBanded(docs, textCol, idCol,
      numPerm, nBands, rowsPerBand, shingleK))
    // Lossless prefilter: J >= t requires min(|A|,|B|) >= t*max(|A|,|B|)
    // — prunes most low-similarity band collisions before the
    // dedup shuffle and the exact verify.
    val candidates = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.id") < col("b.id") &&
          least(col("a.n"), col("b.n")).cast("double") >=
          greatest(col("a.n"), col("b.n")).cast("double") * jaccardThreshold)
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      // Pin the dedup shuffle at the session's configured parallelism
      // (r14): the candidate table is BYTE-slim but each surviving row
      // pays a 128-slot signature intersect downstream, and AQE sizes
      // post-shuffle partitions by bytes — measured at sf0.1 it
      // coalesced the verify stage to 3 tasks of ~0.6 s each on a
      // 32-slot session (the whole op's dominant wall). An explicit
      // REPARTITION_BY_NUM on the dedup keys is exempt from AQE
      // coalescing, satisfies the dedup aggregate's clustering (so it
      // ADDS no exchange — it replaces the ENSURE_REQUIREMENTS one),
      // and at cluster scale reproduces exactly what static planning
      // did before AQE: numShufflePartitions verify tasks.
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("id1"), col("id2"))
      .dropDuplicates("id1", "id2")
    (hashed, candidates)
  }

  /** MinHash staging for ONE table: (doc→sorted-shingle-hashes,
    * (id, n, band-key) table). Factored out of [[minhashStaged]] so
    * [[minhashIncremental]] can band its two inputs with the SAME
    * seeds/layout — a cross-side pair then collides on band keys with
    * exactly the within-corpus probability, carrying the banding
    * recall guarantee across the index/delta boundary.
    *
    * Both plans come back UNPERSISTED: the hash table feeds banding and
    * both verify sides, and both sides of the band self-join read the
    * band table, so multi-consumer callers pin them with [[persisted]];
    * [[minhashPrepare]] hands them to a caller that owns their storage.
    */
  private def hashedBanded(docs: DataFrame, textCol: String, idCol: String,
                           numPerm: Int, nBands: Int, rowsPerBand: Int,
                           shingleK: Int): (DataFrame, DataFrame) = {
    // Staged: normalize → shingle → hash, each as its own column, so
    // the per-element lambdas see attributes (see wordNgramsOfTokens
    // scaladoc). One string-hash pass per shingle; signatures and the
    // exact verify both work on the resulting longs (set-isomorphic
    // to the shingle sets modulo 64-bit collisions).
    val shingles =
      if (Native.enabled(docs, "graft_shingle_hashes"))
        call_function("graft_shingle_hashes", col("norm"), lit(shingleK))
      else hashing.charShingleHashes(col("norm"), shingleK)
    // Hash arrays are sorted once per doc so the pairwise verify can
    // use the allocation-free two-pointer intersect kernel.
    val hashed = docs
      .select(col(idCol).as("id"), Native.normOf(docs)(col(textCol)).as("norm"))
      .select(col("id"), array_sort(shingles).as("hs"))
    // Signature per doc. Native path: one compiled O(shingles·perms)
    // pass, pure map stage, no shuffle. Fallback: explode +
    // hash-aggregate with numPerm codegen'd min(xxhash64(seed, h))
    // columns (map-side partial mins; one shuffle on id). Docs with
    // no shingles are dropped: they could only ever pair at jaccard
    // 0, below any positive threshold, so the result is unchanged.
    // Band key = one hash over rowsPerBand signature slots; only
    // (band, id, setsize) goes through the band explode/shuffle —
    // never the shingle arrays.
    val banded =
      if (Native.enabled(docs, "graft_minhash")) {
        val sigs = hashed.filter(size(col("hs")) > 0)
          .select(col("id"), size(col("hs")).as("n"),
            call_function("graft_minhash", col("hs"), lit(numPerm)).as("sig"))
        sigs.select(col("id"), col("n"),
          explode(hashing.bandKeys(col("sig"), nBands, rowsPerBand)).as("band"))
      } else {
        val sigCols = count(lit(1)).as("n") +: (0 until numPerm).map { seed =>
          min(xxhash64(lit(seed), col("h"))).as(s"m$seed")
        }
        val sigs = hashed.select(col("id"), explode(col("hs")).as("h"))
          .groupBy("id").agg(sigCols.head, sigCols.tail: _*)
        val bandKeyCols = (0 until nBands).map { b =>
          xxhash64((lit(b) +: (0 until rowsPerBand).map(r =>
            col(s"m${b * rowsPerBand + r}"))): _*)
        }
        sigs.select(col("id"), col("n"),
          explode(array(bandKeyCols: _*)).as("band"))
      }
    (hashed, banded)
  }

  /** Pins a [[hashedBanded]] pair, hash table first so the band table's
    * cached plan reads the cached hashes. Persisting the doc→hashes
    * table runs the normalize+shingle pass once for its three
    * consumers; without the band-table persist the signature
    * computation runs once PER self-join side (the plan shows no
    * ReusedExchange across the inputs). The slim (id, n, band) table
    * is bands rows per doc — tiny relative to the hash arrays.
    */
  private def persisted(hb: (DataFrame, DataFrame)): (DataFrame, DataFrame) =
    (hb._1.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      hb._2.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Incremental (delta-vs-index) NEAR-duplicate dedup — the
    * [[incrementalDedup]] shape for near-dups: today's crawl is
    * verdicted against the accumulated corpus without re-pairing the
    * index against itself. Each delta doc gets:
    *  - `dup_index`: a verified near-dup (exact shingle Jaccard >=
    *    `jaccardThreshold`) of some INDEX doc — wins over any
    *    within-batch match, as in d14;
    *  - `dup_delta`: no index match, but a verified near-dup of a
    *    SMALLER-id delta doc;
    *  - `new`: no verified match — the rows that extend the index.
    * Verdicts are direct-evidence (a matching partner exists), not
    * transitive: two `new` docs may still be near-dups of a common
    * third below threshold. Callers needing cluster-level resolution
    * chain [[Graph.connectedComponents]] over the pair legs (d7).
    *
    * Scale shape: both sides band with the same seeds via
    * [[hashedBanded]]; candidates come from TWO band equi-joins —
    * delta⋈index and delta⋈delta (smaller id) — so nothing ever pairs
    * index×index; the exact verify touches candidates only, with the
    * same lossless size prefilter and size-gated join strategy as
    * [[minhashPairs]]. Per-batch cost is O(delta bands) + the band
    * join against the index band table — at 100 TB that table is
    * persisted/bucketed by prior batches (this bootstrap form derives
    * it from index text) and history is never re-paired. Zero-shingle
    * docs (norm shorter than `shingleK`) can never reach a positive
    * Jaccard and verdict `new` — exact-dup short docs are d14's job.
    */
  def minhashIncremental(index: DataFrame, delta: DataFrame,
                         textCol: String, idCol: String,
                         numPerm: Int = 128, bands: Int = 0, shingleK: Int = 5,
                         jaccardThreshold: Double = 0.5): DataFrame = {
    val nBands = if (bands > 0) bands else defaultBands(numPerm, jaccardThreshold)
    require(numPerm % nBands == 0,
      s"numPerm ($numPerm) must be a multiple of bands ($nBands)")
    val rowsPerBand = numPerm / nBands
    val (hIdx, bIdx) = persisted(hashedBanded(index, textCol, idCol, numPerm,
      nBands, rowsPerBand, shingleK))
    minhashIncrementalPrepared(hIdx, bIdx, delta, textCol, idCol, numPerm,
      nBands, shingleK, jaccardThreshold)
  }

  /** The (id, hs) hash table + (id, n, band) band table for
    * [[minhashIncrementalPrepared]] — what a batch PERSISTS so later
    * batches verdict against it without ever touching its text again
    * (the streaming sink's accumulation contract,
    * [[graft.streaming.EventStream.neardupIncrementalSink]]). All
    * batches of one index MUST share (numPerm, bands, shingleK): band
    * keys only collide within one banding layout. Nothing is persisted:
    * the caller owns both tables' storage.
    */
  def minhashPrepare(docs: DataFrame, textCol: String, idCol: String,
                     numPerm: Int = 128, bands: Int = 0, shingleK: Int = 5,
                     jaccardThreshold: Double = 0.5): (DataFrame, DataFrame) = {
    val nBands = if (bands > 0) bands else defaultBands(numPerm, jaccardThreshold)
    require(numPerm % nBands == 0,
      s"numPerm ($numPerm) must be a multiple of bands ($nBands)")
    hashedBanded(docs, textCol, idCol, numPerm, nBands, numPerm / nBands,
      shingleK)
  }

  /** [[minhashIncremental]] with the index side given as PREPARED
    * tables ([[minhashPrepare]]'s output, accumulated by prior
    * batches) — the true per-batch production shape: history is never
    * re-shingled or re-banded; per-batch cost is O(delta) prep + the
    * two band joins. The text-bootstrap form above derives the prep
    * from index text and delegates here, so both paths verdict
    * identically (StreamParitySpec proves it across replayed batches).
    */
  def minhashIncrementalPrepared(hIdx: DataFrame, bIdx: DataFrame,
                                 delta: DataFrame,
                                 textCol: String, idCol: String,
                                 numPerm: Int = 128, bands: Int = 0,
                                 shingleK: Int = 5,
                                 jaccardThreshold: Double = 0.5): DataFrame = {
    val nBands = if (bands > 0) bands else defaultBands(numPerm, jaccardThreshold)
    require(numPerm % nBands == 0,
      s"numPerm ($numPerm) must be a multiple of bands ($nBands)")
    val rowsPerBand = numPerm / nBands
    val (hDel, bDel) = persisted(hashedBanded(delta, textCol, idCol, numPerm,
      nBands, rowsPerBand, shingleK))
    val sizeOk = least(col("a.n"), col("b.n")).cast("double") >=
      greatest(col("a.n"), col("b.n")).cast("double") * jaccardThreshold
    // p_idx rides the candidate so one verify pass serves both legs;
    // index/delta ids are disjoint when the inputs partition a corpus,
    // but the flag keeps the verdict correct even if a caller reuses
    // ids across sides.
    val cross = bDel.as("a").join(bIdx.as("b"),
        col("a.band") === col("b.band") && sizeOk)
      .select(col("a.id").as("did"), col("b.id").as("pid"), lit(1L).as("p_idx"))
    val within = bDel.as("a").join(bDel.as("b"),
        col("a.band") === col("b.band") && col("b.id") < col("a.id") && sizeOk)
      .select(col("a.id").as("did"), col("b.id").as("pid"), lit(0L).as("p_idx"))
    val candidates = cross.unionByName(within)
      .dropDuplicates("did", "pid", "p_idx")
    val partners = hIdx.unionByName(hDel)
    val verified = candidates
      .join(hDel.as("h1"), col("did") === col("h1.id"))
      .join(partners.as("h2"), col("pid") === col("h2.id"))
      .select(col("did"), col("p_idx"),
        col("h1.hs").as("sh1"), col("h2.hs").as("sh2"))
      .withColumn("inter", Dedup.intersectSize(delta, col("sh1"), col("sh2")).cast("double"))
      .withColumn("jaccard", graft.functions.num.fround(
        when(size(col("sh1")) + size(col("sh2")) === 0, 0.0)
          .otherwise(col("inter") /
            (size(col("sh1")).cast("double") + size(col("sh2")).cast("double") - col("inter"))), 4))
      .filter(col("jaccard") >= jaccardThreshold)
    val matches = verified.groupBy("did").agg(
      sum(col("p_idx")).as("ni"), sum(lit(1L) - col("p_idx")).as("nd"))
    delta.select(col(idCol).as("doc_id"))
      .join(matches.withColumnRenamed("did", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(coalesce(col("ni"), lit(0L)) > 0, lit("dup_index"))
          .when(coalesce(col("nd"), lit(0L)) > 0, lit("dup_delta"))
          .otherwise(lit("new")).as("verdict"),
        coalesce(col("ni"), lit(0L)).as("n_index_matches"),
        coalesce(col("nd"), lit(0L)).as("n_delta_matches"))
  }

  /** Intersection size of two sorted hash arrays: native two-pointer
    * kernel when the session has GraftExtensions, array_intersect
    * otherwise (same value either way — sets are unchanged by order).
    */
  private[ops] def intersectSize(docs: DataFrame, a: Column, b: Column): Column =
    if (Native.enabled(docs, "graft_sorted_intersect_size"))
      call_function("graft_sorted_intersect_size", a, b)
    else size(array_intersect(a, b))

  /** SimHash near-dup pairs: 64-bit fingerprint per doc, block-key
    * candidate generation, verified by exact hamming distance.
    *
    * Banding scheme (scale-bounded): the 64 bits split into 6 blocks
    * (11,11,11,11,10,10); a pair within hamming <= h differs in at
    * most h blocks, so at least 6-h blocks are identical on both
    * sides — pigeonhole guarantees the pair collides on at least one
    * of the C(6, 6-h) block-combination keys (recall 1.0, same as the
    * textbook 4x16-bit scheme for h=3). Each key spans >= 21 bits
    * (vs 16), so bucket population at a given corpus size shrinks by
    * >= 2^5-2^16x and the within-bucket self-join stays near-linear on
    * billion-doc corpora; the cost is C(6,3)=20 slim explode rows per
    * doc instead of 4. Keys are xxhash64(comboId, blocks...) — a hash
    * collision only ADDs a candidate (exact verify filters it), never
    * loses a pair.
    */
  /** (id, simhash) per doc. Native compiled vote loop when available;
    * otherwise staged so the 64 per-bit probes in votesToSimhash read
    * a materialized votes column instead of re-running the aggregate.
    *
    * Token hashes are the PORTABLE md5-fold (60-bit), not xxhash64:
    * simhash output depends on hash values directly, so a portable
    * hash is what makes the d3 fingerprints (and its pair set)
    * reproducible by the DuckDB oracle digit-for-digit. The cost is
    * an md5 per token on the map side; bits 60-63 of every
    * fingerprint are constant 0, which only thins the last banding
    * block (exact hamming verify is unaffected).
    */
  def simhashSigs(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    // zero-token docs are dropped, not fingerprinted: an all-zero-vote
    // simhash (0L) would pair every contentless doc with every other,
    // which is evidence-free — same rationale as minhash's
    // empty-shingle drop
    // per-token portable md5 fold: one digest call per token behind
    // the kernel vs the hex-string conv chain of the expression form —
    // values identical either way (same fingerprints, oracle unchanged)
    val fold = Native.md5FoldOf(docs)
    val hashed = docs.select(col(idCol).as("id"),
        transform(text.tokens(Native.normOf(docs)(col(textCol))),
          e => fold(e)).as("th"))
      .filter(size(col("th")) > 0)
    if (Native.enabled(docs, "graft_simhash64"))
      hashed.select(col("id"), call_function("graft_simhash64", col("th")).as("simhash"))
    else hashed
      .select(col("id"), hashing.simhashVotesFromHashes(col("th")).as("votes"))
      .select(col("id"), hashing.votesToSimhash(col("votes")).as("simhash"))
  }

  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 4,
      s"maxHamming must be in [1,4] for the 6-block banding scheme, got $maxHamming")
    // both self-join sides reference sigs: persist the (id, simhash)
    // table (16 bytes/doc) or the normalize+tokenize+hash pipeline
    // runs once per side
    val sigsPlan = simhashSigs(docs, textCol, idCol)
    val sigs = sigsPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val blockSizes = Seq(11, 11, 11, 11, 10, 10)
    val blockOffsets = blockSizes.scanLeft(0)(_ + _).init
    def blockOf(i: Int): Column =
      shiftrightunsigned(col("simhash"), blockOffsets(i))
        .bitwiseAND((1L << blockSizes(i)) - 1)
    val combos = (0 until blockSizes.size).combinations(blockSizes.size - maxHamming)
    val keyCols = combos.zipWithIndex.map { case (combo, ci) =>
      xxhash64((lit(ci) +: combo.map(blockOf)): _*)
    }.toSeq
    val banded = sigs.withColumn("band", explode(array(keyCols: _*)))
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        col("a.simhash").as("s1"), col("b.simhash").as("s2"))
      .dropDuplicates("id1", "id2")
    pairs.withColumn("hamming", hashing.hamming64(col("s1"), col("s2")))
      .filter(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }

  /** (id, block, grams): each doc's distinct word n-grams as SORTED
    * xxhash64 longs ([[Native.ngramHashesOf]] over the staged
    * normalize → tokens column — per-element lambdas must see
    * attributes, see the wordNgramsOfTokens scaladoc). Hashing is
    * set-isomorphic, so Jaccard and containment are unchanged; the
    * pairwise intersect then runs on longs and the shuffle carries
    * 8-byte elements, not strings.
    */
  private def sortedGramHashes(docs: DataFrame, textCol: String, idCol: String,
                               blockCol: Column, n: Int): DataFrame =
    Native.ngramHashesOf(docs.select(col(idCol).as("id"), blockCol.as("block"),
        text.tokens(Native.normOf(docs)(col(textCol))).as("toks")), n)
      .select(col("id"), col("block"), array_sort(col("grams")).as("grams"))

  /** Exact word-n-gram Jaccard within a blocking key — result pairs
    * only form inside a block, and EVERY within-block pair with
    * rounded Jaccard >= threshold is returned (recall 1.0; this is an
    * exact operator, not an LSH approximation).
    *
    * Candidate generation (the scale story) is the df-ordered PREFIX
    * FILTER of the set-similarity-join literature (Chaudhuri et al.,
    * ICDE 2006; Bayardo et al., WWW 2007; Xiao et al., WWW 2008 —
    * all public), NOT a full within-block pair join: order each
    * doc's gram set by ascending global document frequency (ties by
    * gram hash — a total order), index only each doc's first
    * |X| − ⌈t·|X|⌉ + 1 grams, and join on (block, gram). The prefix
    * lemma guarantees two sets with J >= t share a prefix gram, so
    * recall stays 1.0 BY CONSTRUCTION while the join touches only
    * RARE grams — a hot boilerplate gram sorts to the back of every
    * prefix and never explodes the join. A within-block full pair
    * join is quadratic in block size: the sf1 board priced it at ×21
    * wall for 10× rows, while the prefix path's candidate volume
    * tracks the TRUE pair count.
    * The prefix length uses t − 5e-5 (the 4dp rounding margin), so a
    * pair whose exact Jaccard sits just under t but ROUNDS to t is
    * still generated — the output is identical to the full join's
    * for any doc under ~2M grams.
    *
    * Cost: two extra shuffles of the exploded gram table (the df
    * count and the per-doc rank), both linear in corpus gram volume —
    * the price that replaces the n²/blocks candidate join. The size
    * prefilter (J <= min/max of gram counts) still rides the
    * candidate join unchanged.
    */
  def ngramJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
                        blockCol: Column, n: Int = 3,
                        threshold: Double = 0.4): DataFrame = {
    // prepared feeds three subplans (candidate join sides + the verify
    // broadcast) — persist it.
    val grams = sortedGramHashes(docs, textCol, idCol, blockCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Candidates carry the lossless size prefilter in the join
    // condition — J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so pairs whose
    // gram counts differ by more than 1/threshold can never pass. The
    // gram arrays only travel in the verify join, never through the
    // candidate join.
    val sizeOk =
      least(col("a.n"), col("b.n")).cast("double") >=
        greatest(col("a.n"), col("b.n")).cast("double") * threshold
    // df-ordered prefix filter (see the method scaladoc): only each
    // doc's |X| − ⌈t'·|X|⌉ + 1 globally-rarest grams enter the
    // candidate equi-join on (block, gram). Within a doc the grams
    // are distinct, so (df, gram) strictly orders them and the rank —
    // hence the candidate set — is deterministic under any
    // partitioning.
    val occ = grams.select(col("id"), col("block"),
      size(col("grams")).as("n"), explode(col("grams")).as("g"))
    val gramDf = occ.groupBy("g").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("g"))
    val prefixPlan = occ.join(gramDf, Seq("g"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <=
        col("n") - ceil(col("n") * lit(threshold - 5e-5)) + 1)
      .select(col("id"), col("block"), col("n"), col("g"))
    // both self-join sides read the ranked prefix — persist it
    // (session-lifetime pin, same contract as `grams` above)
    val prefix = prefixPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = prefix.as("a").join(prefix.as("b"),
        col("a.block") === col("b.block") && col("a.g") === col("b.g") &&
          col("a.id") < col("b.id") && sizeOk)
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .dropDuplicates("id1", "id2")
    // Verify-join strategy is size-gated (see the object scaladoc).
    val verified = candidates
      .join(grams.select(col("id"), col("grams")).as("h1"),
        col("id1") === col("h1.id"))
      .join(grams.select(col("id"), col("grams")).as("h2"),
        col("id2") === col("h2.id"))
      .withColumn("inter",
        Dedup.intersectSize(docs, col("h1.grams"), col("h2.grams")).cast("double"))
    val union = size(col("h1.grams")).cast("double") +
      size(col("h2.grams")).cast("double") - col("inter")
    // floor-round: integer-ratio jaccards land exactly on .xxxx5
    // boundaries where engine round() semantics diverge
    verified
      .withColumn("jaccard",
        graft.functions.num.fround(
          when(union === 0.0, 0.0).otherwise(col("inter") / union), 4))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** DIRECTIONAL n-gram containment pairs: (id_sub, id_sup) where
    * |grams(sub) ∩ grams(sup)| / |grams(sub)| >= threshold — the
    * SUBSET-duplicate detector Jaccard is blind to. A doc quoted
    * whole inside a 10x-larger page has Jaccard ~0.1 against it (the
    * union is dominated by the big doc) but containment ~1.0; dedup
    * pipelines drop the contained copy and keep the superset, which
    * plain d4-style symmetric similarity never flags.
    *
    * Same staged machinery as [[ngramJaccardPairs]] (normalize →
    * tokens → hashed grams, size-gated verify join, native
    * two-pointer intersect) with TWO deliberate differences:
    *  - NO size prefilter in the candidate join: containment of the
    *    smaller side is feasible at ANY size ratio (that asymmetry is
    *    the point), so gram-count bounds prune nothing.
    *  - each unordered candidate pair is intersected ONCE, then
    *    emitted as up to two DIRECTED rows (a⊂b and/or b⊂a), so the
    *    expensive verify work is never doubled.
    * Both containments floor-round to 4dp before the threshold test
    * (integer-ratio values land on .xxxx5 boundaries — d4's recipe).
    *
    * Candidate generation is the ASYMMETRIC edition of d4's
    * df-ordered prefix filter: a directed pair (sub=A, sup=B) with
    * |A∩B|/|A| >= t has at most (1−t)·|A| of A's grams missing from
    * B, so at least one of A's ⌊(1−t')·|A|⌋+1 globally-RAREST grams
    * is in B — the SUB side indexes only that prefix while the SUP
    * side indexes ALL its grams (a tiny doc can be contained anywhere
    * in a huge one, so the sup side cannot prune; that cost is
    * inherent to the predicate). Recall 1.0 by construction; hot
    * grams sort out of every sub-prefix, so the per-gram join cost is
    * df_prefix(g)·df(g) — near zero for exactly the grams that blow
    * up a block join (a full within-block pair join measured ×33
    * wall at sf1 for 10× rows).
    */
  def containmentPairs(docs: DataFrame, textCol: String, idCol: String,
                       blockCol: Column, n: Int = 3,
                       threshold: Double = 0.8): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val grams = sortedGramHashes(docs, textCol, idCol, blockCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // gram-less docs (shorter than n tokens) have no containment
    // evidence either way — candidates need both sides non-empty.
    // Asymmetric df-ordered prefix filter (see scaladoc): the sub side
    // explodes its ⌊(1−t')·n⌋+1 rarest grams, the sup side all grams;
    // each unordered pair surfaces once via least/greatest
    // canonicalization + dedup, then is verified ONCE.
    val occ = grams.where(size(col("grams")) > 0)
      .select(col("id"), col("block"),
        size(col("grams")).as("n"), explode(col("grams")).as("g"))
    val gramDf = occ.groupBy("g").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("g"))
    val subPrefix = occ.join(gramDf, Seq("g"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <=
        col("n") - ceil(col("n") * lit(threshold - 5e-5)) + 1)
      .select(col("id"), col("block"), col("g"))
    val supAll = occ.select(col("id"), col("block"), col("g"))
    val candidates = subPrefix.as("a").join(supAll.as("b"),
        col("a.block") === col("b.block") && col("a.g") === col("b.g") &&
          col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id1"),
        greatest(col("a.id"), col("b.id")).as("id2"))
      .dropDuplicates("id1", "id2")
    val verified = candidates
      .join(grams.select(col("id"), col("grams")).as("h1"),
        col("id1") === col("h1.id"))
      .join(grams.select(col("id"), col("grams")).as("h2"),
        col("id2") === col("h2.id"))
      .withColumn("inter",
        Dedup.intersectSize(docs, col("h1.grams"), col("h2.grams")).cast("double"))
    import graft.functions.num.fround
    val c12 = fround(col("inter") / size(col("h1.grams")).cast("double"), 4)
    val c21 = fround(col("inter") / size(col("h2.grams")).cast("double"), 4)
    verified
      .select(explode(array(
        struct(col("id1").as("id_sub"), col("id2").as("id_sup"), c12.as("containment")),
        struct(col("id2").as("id_sub"), col("id1").as("id_sup"), c21.as("containment"))))
        .as("r"))
      .select(col("r.id_sub"), col("r.id_sup"), col("r.containment"))
      .filter(col("containment") >= threshold)
  }

  /** Embedding-cosine near-dup pairs within a blocking column (e.g.
    * a cluster/label id): pairs with cosine >= threshold.
    */
  def embeddingNearDupPairs(embs: DataFrame, vecCol: String, idCol: String,
                            blockCol: String, threshold: Double): DataFrame = {
    import graft.functions.vectors
    // Norms are computed once per row before the pair join — the
    // per-pair work is then a single dot product (not dot + 2 norms).
    // The native codegen'd kernel accumulates in the same order as the
    // zip_with/aggregate fallback, so results are bit-identical. (An
    // unrolled fixed-dim element_at dot was also tried and measured 3x
    // SLOWER than the HOF — wide expressions fall out of codegen.)
    val dotOf = Native.dotOf(embs)
    val prepared = embs.select(col(idCol).as("id"), col(vecCol).as("v"),
      col(blockCol).as("block"), sqrt(dotOf(col(vecCol), col(vecCol))).as("nrm"))
    val nn = col("a.nrm") * col("b.nrm")
    prepared.as("a").join(prepared.as("b"),
        col("a.block") === col("b.block") && col("a.id") < col("b.id"))
      .withColumn("cosine",
        when(nn === 0.0, 0.0).otherwise(dotOf(col("a.v"), col("b.v")) / nn))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        round(col("cosine"), 4).as("cosine"))
  }

  /** Embedding-cosine near-dup pairs with SELF-DERIVED blocking: the
    * random-hyperplane band keys of the ANN path (s2) stand in for the
    * caller-provided block column [[embeddingNearDupPairs]] requires —
    * the label-less-corpus form, since a real training corpus has no
    * block labels. Candidates are pairs agreeing on at least one of
    * `bands` (numPlanes/bands)-bit signature bands (union over bands,
    * deduped), then exact-cosine verified.
    *
    * Recall is the standard LSH trade: a pair at cosine c agrees on a
    * given band with probability (1 − θ(c)/π)^bitsPerBand, and on at
    * least one of the bands with 1 − (1 − p)^bands — near-dup pairs
    * (c ≥ 0.9) are caught with p ≥ 0.95 at the d8-pinned
    * 24-plane/6-band layout, while distant pairs rarely collide
    * (DedupJoinSpec measures recall against the blocked ground
    * truth); higher derived bit counts trade some of that recall for
    * bounded buckets, and more bands buy it back. Precision is
    * 1.0 by construction (exact verify).
    *
    * Scale shape: identical to d2's — band explode (`bands` slim rows
    * per doc) → equi-join on the band key → pair dedup → size-gated
    * verify join bringing vectors to candidates. No all-pairs product
    * anywhere; bucket population is O(N / 2^bitsPerBand) per band
    * value under the hashing assumption.
    *
    * `numPlanes` <= 0 (the DEFAULT) derives the banding from the
    * corpus size ([[Similarity.autoBandBits]], one count() job) — the
    * scale-safe default; the sf1 proof-point measured a fixed
    * 24-plane layout at 95-150× wall for 10× rows. Pass an explicit
    * value to pin the layout, as the oracle-replicated d8 query does.
    * [[embeddingNearDupPairsLshAuto]] names the default path
    * explicitly.
    *
    * The prepared (id, v, nrm, sig) table is pinned for the SESSION
    * lifetime (the lazy result can't know when its consumer is done),
    * same contract as [[minhashPairs]].
    */
  def embeddingNearDupPairsLsh(embs: DataFrame, vecCol: String, idCol: String,
                               threshold: Double, dim: Int,
                               numPlanes: Int = 0, bands: Int = 6,
                               seed: Long = 42L): DataFrame = {
    // bands is validated FIRST: the modulo below would otherwise throw
    // a bare ArithmeticException (/ by zero) for bands = 0 instead of
    // the intended message
    require(bands >= 1, s"bands must be >= 1, got $bands")
    val nPlanes =
      if (numPlanes > 0) numPlanes
      else bands * Similarity.autoBandBits(embs.count(), bands)
    require(nPlanes % bands == 0 && nPlanes <= 63,
      s"numPlanes ($nPlanes) must be a multiple of bands ($bands) and <= 63")
    val planes = Similarity.hyperplanes(nPlanes, dim, seed)
    val bitsPerBand = nPlanes / bands
    val dotOf = Native.dotOf(embs)
    val sigOf = Native.hyperplaneSigOf(embs, planes, dim)
    val preparedPlan = embs.select(col(idCol).as("id"), col(vecCol).as("v"),
        sqrt(dotOf(col(vecCol), col(vecCol))).as("nrm"))
      .withColumn("sig", sigOf(col("v")))
    // feeds both band-join sides and the two verify sides
    val prepared = preparedPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandCols = (0 until bands).map { bn =>
      struct(lit(bn).as("b"),
        shiftrightunsigned(col("sig"), bn * bitsPerBand)
          .bitwiseAND((1L << bitsPerBand) - 1).as("v"))
    }
    // only (id, band) travels through the candidate join — never vectors
    val banded = prepared.select(col("id"), explode(array(bandCols: _*)).as("band"))
    val candidates = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .dropDuplicates("id1", "id2")
    val vecs = prepared.select(col("id"), col("v"), col("nrm"))
    val nn = col("h1.nrm") * col("h2.nrm")
    candidates
      .join(vecs.as("h1"), col("id1") === col("h1.id"))
      .join(vecs.as("h2"), col("id2") === col("h2.id"))
      .withColumn("cosine",
        when(nn === 0.0, 0.0).otherwise(dotOf(col("h1.v"), col("h2.v")) / nn))
      .filter(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), round(col("cosine"), 4).as("cosine"))
  }

  /** The corpus-size-derived banding path of
    * [[embeddingNearDupPairsLsh]] under its explicit name (d9's
    * declared form) — a pure forward to the numPlanes <= 0 default,
    * so there is exactly ONE derivation of "auto".
    */
  def embeddingNearDupPairsLshAuto(embs: DataFrame, vecCol: String, idCol: String,
                                   threshold: Double, dim: Int,
                                   bands: Int = 6, seed: Long = 42L): DataFrame =
    embeddingNearDupPairsLsh(embs, vecCol, idCol, threshold, dim,
      numPlanes = 0, bands = bands, seed = seed)

  /** SAMPLED BANDING-RECALL gate for EMBEDDING LSH (d23) —
    * [[bandingRecall]]'s role for the d8/d9 hyperplane family:
    * measured recall of hyperplane band-candidate generation against
    * brute-force exact-cosine truth, both on a deterministic sample —
    * the number a production run reads before trusting a (planes,
    * bands) layout on a new embedding corpus. d22 gates the MinHash
    * bander; without this, d8/d9's recall was only spec-asserted at
    * test scale.
    *
    * Mechanism (the d22 construction, vectors edition):
    *  1. SAMPLE deterministically BY ID (keep iff the 4-hex prefix of
    *     md5(id:salt) < `sampleHex`). d22 samples by content
    *     fingerprint because d15's dup-RATE estimate needs exact-dup
    *     groups to sample whole-or-not; a RECALL gate does not — it
    *     only needs each PAIR to survive iff both endpoints do, which
    *     any per-row deterministic rule gives — and id-keying stays
    *     engine-portable where canonicalizing float vectors into a
    *     cross-engine fingerprint string would not.
    *  2. TRUTH = brute-force exact cosine ≥ `threshold` pairs on the
    *     sample (the d8 verify semantics; zero-norm vectors score 0).
    *  3. CANDIDATES = hyperplane band collisions on the sample, built
    *     by the SAME signature/banding as the production bander
    *     ([[embeddingNearDupPairsLsh]] — native kernel or HOF
    *     fallback, identical bits): band keys are per-vector and
    *     corpus-independent, so the sample's candidate pairs ARE the
    *     full corpus's candidates restricted to the sample.
    *  4. recall = |candidates ∩ truth| / |truth| (NULL when the
    *     sample holds no true pair), plus the candidate volume.
    *
    * The signature is already oracle-portable (the d8 contract: sign
    * bits of dot products against the shared seeded planes, which the
    * DuckDB oracle replays as literal plane vectors), so candidate
    * GENERATION — the banding mechanism itself — is under the gate.
    *
    * Scale: everything downstream of the sample filter is
    * sample-sized; the truth join is a DELIBERATE broadcast
    * nested-loop over the sample (`sampleHex` bounds it — the d22
    * posture: lower it before raising the corpus). The candidate join
    * is the usual band equi-join.
    *
    * Output (1 row): (sample_vecs, n_true_pairs, n_candidates,
    * n_banded_true, recall 4dp).
    */
  def embeddingBandingRecall(embs: DataFrame, vecCol: String, idCol: String,
                             threshold: Double, dim: Int,
                             numPlanes: Int = 24, bands: Int = 6,
                             seed: Long = 42L, salt: String = "graft",
                             sampleHex: String = "2000"): DataFrame = {
    require(sampleHex.matches("(?:[0-9a-f]{4}|g[0-9a-f]{3})"),
      s"sampleHex must be 4 lowercase hex chars (or gNNN for keep-all), got '$sampleHex'")
    require(bands >= 1, s"bands must be >= 1, got $bands")
    require(numPlanes >= 1 && numPlanes % bands == 0 && numPlanes <= 63,
      s"numPlanes ($numPlanes) must be in [1, 63] and a multiple of bands ($bands)")
    val planes = Similarity.hyperplanes(numPlanes, dim, seed)
    val bitsPerBand = numPlanes / bands
    val dotOf = Native.dotOf(embs)
    val sigOf = Native.hyperplaneSigOf(embs, planes, dim)
    val sampledPlan = embs
      .where(substring(md5(concat(col(idCol).cast("string"), lit(":"),
        lit(salt))), 1, 4) < lit(sampleHex))
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .select(col("id"), col("v"),
        sqrt(dotOf(col("v"), col("v"))).as("nrm"), sigOf(col("v")).as("sig"))
    val sampled = sampledPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandCols = (0 until bands).map { bn =>
      struct(lit(bn).as("b"),
        shiftrightunsigned(col("sig"), bn * bitsPerBand)
          .bitwiseAND((1L << bitsPerBand) - 1).as("v"))
    }
    // only (id, band) travels through the candidate join (the d8
    // shape); pairs persist because the count and the recall
    // semi-join both consume them (the d22 lesson)
    def persistPairs(df: DataFrame): DataFrame =
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sampled.select(col("id"), explode(array(bandCols: _*)).as("band"))
    val candidates = persistPairs(banded.as("a").join(banded.as("c"),
        col("a.band") === col("c.band") && col("a.id") < col("c.id"))
      .select(col("a.id").as("id1"), col("c.id").as("id2"))
      .dropDuplicates("id1", "id2"))
    val nn = col("h1.nrm") * col("h2.nrm")
    val truth = persistPairs(sampled.as("h1").join(broadcast(sampled.as("h2")),
        col("h1.id") < col("h2.id"))
      .withColumn("cosine",
        when(nn === 0.0, 0.0).otherwise(dotOf(col("h1.v"), col("h2.v")) / nn))
      .filter(col("cosine") >= threshold)
      .select(col("h1.id").as("id1"), col("h2.id").as("id2")))
    sampled.agg(count(lit(1)).as("sample_vecs"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true_pairs"))))
      .crossJoin(broadcast(candidates.agg(count(lit(1)).as("n_candidates"))))
      .crossJoin(broadcast(truth.join(candidates, Seq("id1", "id2"))
        .agg(count(lit(1)).as("n_banded_true"))))
      .select(col("sample_vecs"), col("n_true_pairs"),
        col("n_candidates"), col("n_banded_true"),
        when(col("n_true_pairs") === 0, lit(null).cast("double"))
          .otherwise(graft.functions.num.fround(
            col("n_banded_true").cast("double")
              / col("n_true_pairs").cast("double"), 4)).as("recall"))
  }

  /** Sub-document (chunk-level) exact dedup stats — the
    * boilerplate-removal pass of a training-data pipeline (CCNet-style
    * line dedup, over fixed `chunkTokens`-token windows since the
    * corpus has no line structure; reference analog: the record-level
    * duplicate guard of `src/db/incidents.py:41-46`, pushed below
    * document granularity).
    *
    * A chunk is a DUPLICATE iff the same chunk hash occurred at a
    * strictly earlier (doc_id, chunk_idx) position anywhere in the
    * corpus — the global first occurrence is kept, every repeat is
    * flagged. Output per document: chunk counts and the surviving
    * token count.
    *
    * Scale shape: explode is O(chunks) = O(tokens / chunkTokens); the
    * first-occurrence table is a partial-agg `min(struct(doc, idx))`
    * keyed by chunk hash, joined back on the SAME key — Catalyst
    * reuses the exchange, so the mark-up costs one hash shuffle plus
    * the final per-doc aggregate. No windows (a hot boilerplate chunk
    * would buffer its whole occurrence list), no all-pairs anything.
    */
  def chunkDedupStats(docs: DataFrame, textCol: String, idCol: String,
                      chunkTokens: Int = 20): DataFrame = {
    val chunks = chunkTable(docs, textCol, idCol, chunkTokens)
    val firsts = chunks.groupBy("h")
      .agg(min(struct(col("doc_id"), col("idx"))).as("first"))
    chunks.join(firsts, "h")
      .withColumn("dup",
        col("first.doc_id") =!= col("doc_id") || col("first.idx") =!= col("idx"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("dup"), 0L).otherwise(col("n_tok"))).as("n_kept_tokens"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        col("n_kept_tokens"))
  }

  /** The (doc_id, idx, h, n_tok) chunk table shared by the chunk-level
    * operators: fixed `chunkTokens`-token windows over normalized
    * tokens, each window keyed by its md5 (the portable hash — DuckDB
    * reproduces it from the same joined-token string).
    */
  private def chunkTable(docs: DataFrame, textCol: String, idCol: String,
                         chunkTokens: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    import graft.functions.text
    docs
      .select(col(idCol).as("doc_id"),
        text.tokens(Native.normOf(docs)(col(textCol))).as("toks"))
      .withColumn("n", size(col("toks")))
      .where(col("n") > 0)
      .select(col("doc_id"), col("n"),
        posexplode(transform(
          sequence(lit(0),
            ceil(col("n").cast("double") / chunkTokens).cast("int") - 1),
          i => concat_ws(" ",
            slice(col("toks"), i * chunkTokens + 1, lit(chunkTokens))))))
      .select(col("doc_id"), col("pos").as("idx"), md5(col("col")).as("h"),
        least(lit(chunkTokens), col("n") - col("pos") * chunkTokens)
          .cast("long").as("n_tok"))
  }

  /** Undirected doc-graph edges from SHARED CHUNKS: each repeated
    * chunk links the repeating document to the chunk's global
    * first-occurrence document (star topology per chunk — NOT the
    * within-hash all-pairs clique, which a hot boilerplate chunk
    * repeated across g docs would blow up to g² edges; the star is
    * O(occurrences) and has the same connected components). Output is
    * symmetric distinct (src, dst) — the edge-table contract of
    * [[Graph.pageRank]] / [[Graph.connectedComponents]].
    *
    * Scale shape: identical to [[chunkDedupStats]] — one hash shuffle
    * to find first occurrences, the join back reuses the exchange,
    * then a distinct on the bounded link set.
    */
  /** OFFSET-INVARIANT sub-document dedup (the exact-substring method of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL 2022, realized over winnowing anchors): flags the
    * duplicated SPANS inside each document regardless of where the
    * copied passage lands. [[chunkDedupStats]] (d10) hashes fixed
    * 20-token windows anchored at token 0 — a copied paragraph whose
    * offset shifts by anything not ≡ 0 (mod 20) produces disjoint
    * chunk hashes and is invisible to it; winnowing anchors are
    * CONTENT-defined (the window-min selection depends only on a
    * (w+k−1)-char neighborhood), so the same passage selects the same
    * anchors at any offset. Winnowing's guarantee (Schleimer et al.,
    * SIGMOD 2003): any shared substring of length ≥ w+k−1 (= 11
    * normalized chars at the defaults) shares at least one selected
    * anchor.
    *
    * Semantics mirror d10's first-occurrence rule, lifted from chunks
    * to anchors: an anchor is DUPLICATED iff the same k-gram TEXT (the
    * verified gram, not its hash — fp collisions cannot create false
    * positives) was selected at a strictly earlier (doc_id, pos)
    * anywhere in the corpus. Duplicated anchors within `gapChars` of
    * each other merge into spans (gaps-and-islands); output per doc:
    * anchor counts, span count, and the duplicated char mass.
    *
    * Scale shape: anchor extraction is map-only (native `graft_winnow`
    * keeps the norm column through the explode, so the gram is a
    * same-row substr — no join); first-occurrence is one partial-agg
    * `min(struct)` shuffle keyed by gram joined back on the SAME key
    * (exchange reuse — the d10 shape; the anchor subtree executes
    * twice, the documented self-semi-join floor of 2 corpus scans);
    * the islands window partitions by doc_id over per-doc anchors
    * (~2/(w+1) of positions — never a global sort), and the final
    * per-doc aggregate reuses that exchange. Nothing all-pairs.
    */
  def substringDedupStats(docs: DataFrame, textCol: String, idCol: String,
                          k: Int = 8, w: Int = 4, gapChars: Int = -1): DataFrame = {
    val (flagged, spans) =
      dupAnchorTables(docs, textCol, idCol, k, w, gapChars)
    val spanAgg = spans
      .groupBy("doc_id")
      .agg(sum(col("na")).as("n_dup_anchors"),
        count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + lit(1)).as("dup_chars"))
    flagged.groupBy("doc_id").agg(count(lit(1)).as("n_anchors"))
      .join(spanAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_anchors"),
        coalesce(col("n_dup_anchors"), lit(0L)).as("n_dup_anchors"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"))
  }

  /** Shared d19/d20 machinery: the flagged anchor stream (doc_id, pos,
    * dup) and the merged duplicate SPANS (doc_id, island, na, s, e) —
    * winnow anchors → verified-gram first-occurrence rule →
    * gaps-and-islands merge (see [[substringDedupStats]] for the
    * method and scale shape).
    */
  private def dupAnchorTables(docs: DataFrame, textCol: String, idCol: String,
                              k: Int, w: Int, gapChars: Int)
      : (DataFrame, DataFrame) = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    val gap = if (gapChars > 0) gapChars else w + k - 1
    val P = text.RollingMod
    val anchors = (
      if (Native.enabled(docs, "graft_winnow"))
        docs.select(col(idCol).as("doc_id"),
            Native.normOf(docs)(col(textCol)).as("norm"))
          .select(col("doc_id"), col("norm"),
            explode(call_function("graft_winnow", col("norm"), lit(k), lit(w)))
              .as("enc"))
          .select(col("doc_id"), expr(s"enc div ${P}L").as("pos"),
            col("norm").substr(expr(s"enc div ${P}L").cast("int"), lit(k))
              .as("gram"))
      else
        // fallback (portability session): the selected positions from
        // the expression-built winnow, gram re-read via one join back
        // to the normalized text — correctness path, not the hot one
        graft.ops.TextAnalysis.winnowFingerprints(docs, textCol, idCol, k, w)
          .select(col("doc_id"), col("pos"))
          .join(docs.select(col(idCol).as("doc_id"),
            Native.normOf(docs)(col(textCol)).as("norm")), Seq("doc_id"))
          .select(col("doc_id"), col("pos"),
            col("norm").substr(col("pos").cast("int"), lit(k)).as("gram"))
      )
    val firsts = anchors.groupBy("gram")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    // ONE flagged anchor stream feeds every consumer below (n_anchors
    // count, the islands window, both span aggregates) — without the
    // persist the anchor subtree would re-execute per consumer, the
    // c3/t27 multi-scan trap. The persisted table is SLIM (id, pos,
    // flag; the gram is dropped). Lifecycle: the blocks stay owned by
    // the returned plan's lineage — long-lived sessions sweep via
    // GraftSession.sweep once results are materialized.
    val flagged0 = anchors.join(firsts, "gram")
      .select(col("doc_id"), col("pos"),
        (col("first.doc_id") =!= col("doc_id") ||
          col("first.pos") =!= col("pos")).as("dup"))
    val flagged = flagged0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val islands = flagged.where(col("dup"))
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= gap, 0L)
          .otherwise(1L))
      .withColumn("island", sum(col("brk")).over(byDoc))
    // chained span agg so the islands window runs ONCE per consumer
    val spans = islands.groupBy("doc_id", "island")
      .agg(count(lit(1)).as("na"),
        min(col("pos")).as("s"), (max(col("pos")) + lit(k - 1)).as("e"))
    (flagged, spans)
  }

  /** The ACTION side of [[substringDedupStats]] (Lee et al.'s actual
    * dedup step): EXCISE each document's duplicated spans from its
    * normalized text, keeping global first occurrences untouched —
    * detect-then-remove as one operator. Every doc with non-empty
    * normalized text gets a row: (doc_id, cleaned_text, n_kept_chars,
    * n_removed_chars), with kept + removed = length(norm) by
    * construction (spec-asserted). Docs whose anchors are all first
    * occurrences (or too short to anchor) pass through whole.
    *
    * The excision is one per-doc fold over the sorted span list
    * (spans are disjoint and island-merged by construction): the
    * accumulator carries (previous span end, output), each span
    * appends the kept gap before it — O(spans) per doc, interpreted
    * HOF but span counts are tiny. One extra norm projection joins
    * the span list back (LEFT, so span-free docs survive); the heavy
    * machinery is shared with d19 via the span tables.
    */
  def substringStrip(docs: DataFrame, textCol: String, idCol: String,
                     k: Int = 8, w: Int = 4, gapChars: Int = -1): DataFrame = {
    val (_, spans) =
      dupAnchorTables(docs, textCol, idCol, k, w, gapChars)
    val spanList = spans.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("sp"),
        sum(col("e") - col("s") + lit(1)).as("removed"))
    val norms = docs
      .select(col(idCol).as("doc_id"), Native.normOf(docs)(col(textCol)).as("norm"))
      .where(length(col("norm")) > 0)
    norms.join(spanList, Seq("doc_id"), "left")
      .withColumn("cleaned",
        when(col("sp").isNull, col("norm")).otherwise(
          aggregate(col("sp"),
            struct(lit(0L).as("p"), lit("").as("o")),
            (acc, x) => struct(
              x.getField("e").as("p"),
              concat(acc.getField("o"),
                col("norm").substr((acc.getField("p") + 1).cast("int"),
                  (x.getField("s") - acc.getField("p") - 1).cast("int")))
                .as("o")),
            acc => concat(acc.getField("o"),
              col("norm").substr((acc.getField("p") + 1).cast("int"),
                (length(col("norm")) - acc.getField("p")).cast("int"))))))
      .select(col("doc_id"), col("cleaned").as("cleaned_text"),
        length(col("cleaned")).cast("long").as("n_kept_chars"),
        coalesce(col("removed"), lit(0L)).as("n_removed_chars"))
  }

  def chunkShareEdges(docs: DataFrame, textCol: String, idCol: String,
                      chunkTokens: Int = 20): DataFrame = {
    val chunks = chunkTable(docs, textCol, idCol, chunkTokens)
    val firsts = chunks.groupBy("h")
      .agg(min(struct(col("doc_id"), col("idx"))).as("first"))
    // first.doc_id <= doc_id for every occurrence (it is the min), so
    // links are already oriented (a < b) and distinct dedups cleanly.
    val links = chunks.join(firsts, "h")
      .where(col("first.doc_id") =!= col("doc_id"))
      .select(col("first.doc_id").as("a"), col("doc_id").as("b"))
      .distinct()
    links.select(col("a").as("src"), col("b").as("dst"))
      .union(links.select(col("b").as("src"), col("a").as("dst")))
  }

  /** Mersenne prime 2³¹ − 1: the modulus of [[bandingRecall]]'s
    * portable minhash mix — products stay < 2⁶³ under ANSI mode and
    * the identical integer math runs in any engine.
    */
  private val BrP = 2147483647L

  /** SAMPLED BANDING-RECALL gate — s5's role for the DEDUP family
    * (VERDICT r11 #4): measured recall of LSH band-candidate
    * generation against brute-force ground truth, affordable because
    * both run on d15's cluster-coherent SAMPLE. d2/d9/d16's banding
    * recall is spec-asserted at test scale; this is the first-class
    * query a production run watches before trusting a banding
    * configuration on a new corpus (d15 estimates dup RATE; this
    * measures whether the bander would FIND the dups).
    *
    * Mechanism:
    *  1. SAMPLE by content fingerprint (d15's key: keep iff the 4-hex
    *     prefix of md5(fingerprint:salt) < `sampleHex`) — exact-dup
    *     groups sample whole-or-not; a near-dup pair survives iff
    *     both sides do, and both recall's numerator and denominator
    *     are restricted to the sample, so in-sample recall estimates
    *     per-pair banding recall.
    *  2. TRUTH = brute-force exact shingle-Jaccard ≥ `threshold`
    *     pairs on the sample (the d2 verify semantics: distinct
    *     5-shingle sets, lossless size prefilter, 4dp floor-round).
    *  3. CANDIDATES = minhash band collisions on the sample. Banding
    *     assigns keys per doc independently of the corpus, so the
    *     sample's candidate pairs ARE the full corpus's candidates
    *     restricted to the sample — the measured recall is the
    *     production bander's, not a small-corpus artifact.
    *  4. recall = |candidates ∩ truth| / |truth| (NULL when the
    *     sample holds no true pair), plus the candidate volume.
    *
    * PORTABLE hashing throughout (the d3 contract — here the banding
    * decisions ARE the output): 60-bit md5-fold shingle hashes, and
    * minhash slot i = min over shingles of ((2i+1)·(h mod P) + i+1)
    * mod P (P = 2³¹−1; empty set → P sentinel), band key = the
    * 0-seeded (acc·65599 + slot) mod P fold of its `rowsPerBand`
    * slots — every step exact BIGINT math the DuckDB oracle replays
    * digit-for-digit, so candidate GENERATION (not just the verify)
    * is under the gate. d2 keeps xxhash64 banding on the production
    * path (this gate pays the md5 premium only on the sample).
    *
    * Scale: everything downstream of the sample filter is
    * sample-sized; the truth join is a DELIBERATE broadcast
    * nested-loop over the sample (the point of sampling — `sampleHex`
    * bounds it; the default 1/4 at web scale would be lowered to the
    * d15 1/8 or below, trading recall-estimate variance for cost).
    * The candidate join is the usual band equi-join.
    *
    * Output (1 row): (sample_docs, n_true_pairs, n_candidates,
    * n_banded_true, recall 4dp).
    */
  def bandingRecall(docs: DataFrame, textCol: String, idCol: String,
                    numPerm: Int = 128, bands: Int = 0, shingleK: Int = 5,
                    jaccardThreshold: Double = 0.5,
                    salt: String = "graft", sampleHex: String = "4000"): DataFrame = {
    require(sampleHex.matches("(?:[0-9a-f]{4}|g[0-9a-f]{3})"),
      s"sampleHex must be 4 lowercase hex chars (or gNNN for keep-all), got '$sampleHex'")
    // range check FIRST: numPerm = 0 would reach defaultBands and die
    // with an ArithmeticException instead of this message
    require(numPerm >= 1 && numPerm <= 2048,
      s"numPerm must be in [1, 2048], got $numPerm")
    val nBands = if (bands > 0) bands else defaultBands(numPerm, jaccardThreshold)
    require(numPerm % nBands == 0,
      s"numPerm ($numPerm) must be a multiple of bands ($nBands)")
    val rowsPerBand = numPerm / nBands
    // staged selects so every HOF lambda sees attributes
    val normed = docs.select(col(idCol).as("id"),
      Native.normOf(docs)(col(textCol)).as("nrm"))
    val sampledPlan = normed
      .where(substring(md5(concat(md5(col("nrm")), lit(":"), lit(salt))), 1, 4)
        < lit(sampleHex))
      .select(col("id"),
        when(length(col("nrm")) >= shingleK,
          transform(sequence(lit(1), length(col("nrm")) - (shingleK - 1)),
            i => col("nrm").substr(i, lit(shingleK))))
          .otherwise(array().cast("array<string>")).as("sh"))
      // distinct STRINGS then fold: both engines hash the same set, so
      // even a fold collision reproduces identically
      .select(col("id"),
        array_sort(array_distinct(transform(array_distinct(col("sh")),
          s => conv(substring(md5(s), 1, 15), 16, 10).cast("long")))).as("h"))
      // drop empty-shingle docs (norm < shingleK) EXACTLY as d2's
      // production bander does: the all-sentinel signature would
      // otherwise collide every short doc into every band bucket —
      // a quadratic candidate blowup on short-doc-heavy samples and
      // an n_candidates the production bander would never produce.
      // Recall is unaffected: an empty set can only pair at jaccard 0
      .where(size(col("h")) > 0)
    val sampled = sampledPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // portable minhash signature (see scaladoc); P sentinel for empty
    val slots = (0 until numPerm).map { i =>
      when(size(col("h")) === 0, lit(BrP)).otherwise(
        array_min(transform(col("h"),
          hv => (lit(2L * i + 1) * (hv % lit(BrP)) + lit(i + 1L)) % lit(BrP))))
    }
    val sig = sampled.select(col("id"), size(col("h")).as("n"),
      array(slots: _*).as("sg"))
    val bandCols = (0 until nBands).map { b =>
      val bk = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .foldLeft(lit(0L): Column)((acc, idx) =>
          (acc * lit(65599L) + element_at(col("sg"), idx + 1)) % lit(BrP))
      struct(lit(b).as("b"), bk.as("v"))
    }
    // persist the SLIM banded table (id, n, b, bk — `bands` rows per
    // sampled doc): the 128-slot minhash mix is a higher-order-function
    // subtree Catalyst evaluates INTERPRETED, and the candidate
    // self-join would otherwise recompute it once per side — measured
    // the dominant cost at the sf1 sample size
    val bandedPlan = sig.select(col("id"), col("n"),
      explode(array(bandCols: _*)).as("band"))
      .select(col("id"), col("n"), col("band.b").as("b"), col("band.v").as("bk"))
    val banded = bandedPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // candidates and truth are both consumed TWICE (their own count +
    // the recall semi-join) — persist the slim id-pair tables so the
    // band self-join and the brute-force verify each run ONCE, not
    // once per consumer (measured 2× the whole query at the sf1
    // sample size)
    def persistPairs(df: DataFrame): DataFrame =
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = persistPairs(banded.as("a").join(banded.as("c"),
        col("a.b") === col("c.b") && col("a.bk") === col("c.bk") &&
          col("a.id") < col("c.id") &&
          least(col("a.n"), col("c.n")).cast("double") >=
          greatest(col("a.n"), col("c.n")).cast("double") * jaccardThreshold)
      .select(col("a.id").as("id1"), col("c.id").as("id2"))
      .dropDuplicates("id1", "id2"))
    // brute-force truth on the sample: the d2 verify semantics over
    // the same distinct-hash sets (broadcast nested-loop by design)
    val truth = persistPairs(sampled.as("h1").join(broadcast(sampled.as("h2")),
        col("h1.id") < col("h2.id") &&
          least(size(col("h1.h")), size(col("h2.h"))).cast("double") >=
          greatest(size(col("h1.h")), size(col("h2.h"))).cast("double")
            * jaccardThreshold)
      .select(col("h1.id").as("id1"), col("h2.id").as("id2"),
        col("h1.h").as("sh1"), col("h2.h").as("sh2"))
      .withColumn("inter", intersectSize(docs, col("sh1"), col("sh2")).cast("double"))
      .withColumn("jaccard", graft.functions.num.fround(
        when(size(col("sh1")) + size(col("sh2")) - col("inter") === 0.0, 0.0)
          .otherwise(col("inter") /
            (size(col("sh1")).cast("double") + size(col("sh2")).cast("double")
              - col("inter"))), 4))
      .filter(col("jaccard") >= jaccardThreshold)
      .select("id1", "id2"))
    val stats = sampled.agg(count(lit(1)).as("sample_docs"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true_pairs"))))
      .crossJoin(broadcast(candidates.agg(count(lit(1)).as("n_candidates"))))
      .crossJoin(broadcast(truth.join(candidates, Seq("id1", "id2"))
        .agg(count(lit(1)).as("n_banded_true"))))
    stats.select(col("sample_docs"), col("n_true_pairs"),
      col("n_candidates"), col("n_banded_true"),
      when(col("n_true_pairs") === 0, lit(null).cast("double"))
        .otherwise(graft.functions.num.fround(
          col("n_banded_true").cast("double")
            / col("n_true_pairs").cast("double"), 4)).as("recall"))
  }
}
