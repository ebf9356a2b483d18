package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions.vectors

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * `bruteForceTopK` is the exact baseline: broadcast the (small) probe
  * set against the corpus — a map-side nested loop, no shuffle of the
  * corpus, scales linearly in corpus size. `lshTopK` is the scale
  * path: random-hyperplane buckets turn the cross product into an
  * equi-join, trading recall for a ~2^bits fan-in reduction.
  */
object Similarity {

  /** Top-k rows per query from a scored candidate set, ranked by
    * (cosine desc, neighbor_id asc) — [[Native.topKOf]]: the bounded
    * `graft_topk` aggregate (shuffle O(k · queries · partitions)) or
    * the window idiom, the same rows (asserted in NativeSpec).
    */
  private[graft] def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    Native.topKOf(scored, "query_id", "cosine", "neighbor_id", k)
      .withColumn("cosine", round(col("cosine"), 4))

  /** Exact top-k cosine neighbors for each probe row.
    * Probes must be small enough to broadcast (they are, by contract:
    * a query workload, not the corpus).
    */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame,
                     vecCol: String, idCol: String, k: Int): DataFrame = {
    val dot = Native.dotOf(corpus)
    // Norms computed once per probe / corpus row, not once per pair.
    val p = probes.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("cn"))
    val nn = col("qn") * col("cn")
    val scored = c.join(broadcast(p), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        when(nn === 0.0, 0.0).otherwise(dot(col("qv"), col("cv")) / nn))
    topKPerQuery(scored, k)
  }

  /** RADIUS search: every corpus neighbor with cosine >= `minCosine`
    * for each probe — the "find ALL matches above a floor" twin of
    * [[bruteForceTopK]] (top-k bounds the answer count; a radius
    * query bounds the answer QUALITY, the shape retrieval-augmented
    * filtering and near-dup probe checks want). Same scale posture as
    * s1: probes broadcast (a query workload, not the corpus), corpus
    * scanned once map-side, norms computed once per row — and NO
    * ranking stage at all: the result is a filter, so the operator is
    * a pure map over the corpus scan with no shuffle, no window, no
    * top-k state. Emits (query_id, neighbor_id, cosine 4dp).
    */
  def rangeSearch(corpus: DataFrame, probes: DataFrame, vecCol: String,
                  idCol: String, minCosine: Double): DataFrame = {
    val dot = Native.dotOf(corpus)
    val p = probes.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("cn"))
    val nn = col("qn") * col("cn")
    c.join(broadcast(p), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        when(nn === 0.0, 0.0).otherwise(dot(col("qv"), col("cv")) / nn))
      .filter(col("cosine") >= minCosine)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"))
  }

  /** Engine-portable deterministic sample order: an affine map over a
    * prime modulus decorrelates selection from id order (a low-id
    * prefix is a biased "sample" on any corpus where id correlates
    * with content) while staying expressible in ANSI SQL for the
    * oracle — no engine-specific hash. ids reduce mod P first, so the
    * product stays < 2^63 for any id; ties break on the id itself.
    */
  private val SampleP = 1000003L
  def sampleOrder(id: Column): Column =
    pmod(pmod(id, lit(SampleP)) * lit(999983L) + lit(101L), lit(SampleP))

  /** IVF-style bucketed ANN. The "inverted file": every corpus vector
    * is assigned to its nearest centroid; a probe searches only the
    * `nProbe` nearest centroid buckets — an equi-join on centroid id,
    * never a full cross product. Centroids are a deterministic
    * hash-order sample of the corpus (one per-partition top-k scan —
    * IVF training is an offline step), optionally refined by
    * `kmeansIters` Lloyd steps (assign + per-dimension mean, one
    * shuffle each; empty clusters keep their previous centroid). With
    * nProbe = numCentroids the result equals bruteForceTopK exactly.
    */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, vecCol: String,
              idCol: String, k: Int, numCentroids: Int = 16,
              nProbe: Int = 4, kmeansIters: Int = 0): DataFrame = {
    val dot = Native.dotOf(corpus)
    // tiny deterministic centroid table → driver (numCentroids rows)
    var cents: Array[Array[Float]] = corpus
      .orderBy(sampleOrder(col(idCol)), col(idCol)).limit(numCentroids)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    def centNorms = cents.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
    // Lloyd refinement: nearest-centroid assignment (same argmax as the
    // query path) then per-dimension mean — posexplode + partial-agg
    // shuffle of numCentroids*dim rows, collected driver-side.
    for (_ <- 0 until kmeansIters) {
      val norms = centNorms
      val assignScores = cents.indices.map { ci =>
        struct((if (norms(ci) == 0.0) lit(0.0)
                else dot(col(vecCol), lit(cents(ci))) / lit(norms(ci))).as("s"),
          lit(-ci).as("negi"))
      }
      val assigned = corpus.select(
        (-greatest(assignScores: _*).getField("negi")).as("cent"), col(vecCol).as("v"))
      val means = assigned.select(col("cent"), posexplode(col("v")))
        .groupBy("cent", "pos").agg(avg("col").as("m"))
        .groupBy("cent").agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("dims"))
        .collect()
      val next = cents.clone()
      means.foreach { r =>
        next(r.getAs[Int]("cent")) =
          r.getAs[Seq[Row]]("dims").map(_.getAs[Double]("m").toFloat).toArray
      }
      cents = next
    }
    // score against centroid c is dot/|c| (the probe's own norm is a
    // common positive factor — argmax unchanged); ties break on the
    // lower centroid index for determinism. Zero sampled centroids
    // score 0 (driver-side guard — see ivfPqTopK).
    def scores(vec: Column): Seq[Column] = cents.indices.map { ci =>
      struct((if (centNorms(ci) == 0.0) lit(0.0)
              else dot(vec, lit(cents(ci))) / lit(centNorms(ci))).as("s"),
        lit(-ci).as("negi"))
    }
    def nearestCentroid(vec: Column): Column =
      -greatest(scores(vec): _*).getField("negi")
    def nearestCentroids(vec: Column, n: Int): Column =
      transform(slice(reverse(array_sort(array(scores(vec): _*))), 1, n),
        s => -s.getField("negi"))

    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("cn"),
      nearestCentroid(col(vecCol)).as("cent"))
    val p = probes.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        sqrt(dot(col(vecCol), col(vecCol))).as("qn"),
        explode(nearestCentroids(col(vecCol), nProbe)).as("cent"))
    val nn = col("qn") * col("cn")
    val cands = c.join(broadcast(p), Seq("cent"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        when(nn === 0.0, 0.0).otherwise(dot(col("qv"), col("cv")) / nn))
    topKPerQuery(cands, k)
  }

  /** Deterministic pseudo-random hyperplanes (seeded), shared by all
    * executors via the closure — reproducible across runs.
    */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** LSH-bucketed ANN: candidates are corpus rows sharing the probe's
    * hyperplane signature in at least one band; exact cosine + top-k
    * within candidates. Equi-join on (band, key) — no cross product.
    *
    * `probeRadius` enables multi-probe LSH: each probe also searches
    * the band values within that hamming distance of its own (0 = the
    * textbook single-bucket probe). The extra keys explode on the
    * PROBE side only — the corpus keeps exactly `bands` rows per
    * vector, so at 100 TB the big side's shuffle volume is unchanged
    * while per-band match probability rises from p^bits to
    * P(Binomial(bits, 1-p) <= radius) (measured on the test corpus:
    * recall 0.44 -> ~0.9 at radius 1 with 4x4-bit bands).
    */
  /** Bits per band that hold the expected bucket population at
    * `targetBucket` rows for an `nRows` corpus: 2^bits ≈ nRows /
    * targetBucket. THE scale knob for [[lshTopK]]: with bits fixed,
    * buckets grow linearly with the corpus and candidate volume
    * quadratically (measured on the sf1 proof-point: 10× corpus at
    * the sf0.1-tuned 16-plane banding = 35× wall); with bits derived,
    * candidate volume per probe stays ~targetBucket × bands at any
    * corpus size, and the cost moves to the probe-side multi-probe
    * explode (linear: `bits` extra keys per band at radius 1). Capped
    * so numPlanes = bands × bits stays in a 63-bit signature.
    */
  def autoBandBits(nRows: Long, bands: Int = 4, targetBucket: Int = 64): Int = {
    // validated FIRST: 63 / bands below would throw a bare
    // ArithmeticException for bands = 0 (same contract as the
    // embeddingNearDupPairsLsh require)
    require(bands >= 1, s"bands must be >= 1, got $bands")
    require(targetBucket >= 1, s"targetBucket must be >= 1, got $targetBucket")
    // integer search, not ceil(log2(...)): the SAME derivation must run
    // inside the s4 oracle's SQL, and FP log2 at exact-power boundaries
    // could round differently across engines — "smallest b with
    // 2^b * targetBucket >= n" is exact everywhere
    val cap = 63 / bands
    (2 to cap).find(b => (1L << b) * targetBucket >= nRows).getOrElse(cap)
  }

  /** `numPlanes` <= 0 (the DEFAULT) derives the banding from the
    * corpus size via [[autoBandBits]] (one count() job) — the
    * scale-safe default, since any fixed plane count pins the bucket
    * population to one corpus size (the sf1 proof-point measured 16
    * planes at 37× wall for 10× rows). Pass an explicit value to pin
    * the layout, as the oracle-replicated s2 query does.
    */
  def lshTopK(corpus: DataFrame, probes: DataFrame, vecCol: String,
              idCol: String, k: Int, dim: Int,
              numPlanes: Int = 0, bands: Int = 4,
              probeRadius: Int = 1): DataFrame = {
    require(probeRadius >= 0 && probeRadius <= 1, "probeRadius must be 0 or 1")
    val nPlanes =
      if (numPlanes > 0) numPlanes
      else bands * autoBandBits(corpus.count(), bands)
    require(bands >= 1 && nPlanes % bands == 0 && nPlanes <= 63,
      s"numPlanes ($nPlanes) must be a multiple of bands ($bands) and <= 63")
    val planes = hyperplanes(nPlanes, dim)
    val bitsPerBand = nPlanes / bands
    val dot = Native.dotOf(corpus)
    val sigOf = Native.hyperplaneSigOf(corpus, planes, dim)
    def withBands(df: DataFrame, id: String, vec: String, radius: Int): DataFrame = {
      val sig = sigOf(col(vec))
      val bandCols = (0 until bands).flatMap { b =>
        val v = shiftrightunsigned(col("sig"), b * bitsPerBand)
          .bitwiseAND((1L << bitsPerBand) - 1)
        val exact = struct(lit(b).as("b"), v.as("v"))
        val flipped = if (radius >= 1)
          (0 until bitsPerBand).map(i =>
            struct(lit(b).as("b"), v.bitwiseXOR(1L << i).as("v")))
        else Nil
        exact +: flipped
      }
      df.select(col(idCol).as(id), col(vecCol).as(vec),
          sqrt(dot(col(vecCol), col(vecCol))).as(s"${vec}_n"))
        .withColumn("sig", sig)
        .withColumn("band", explode(array(bandCols: _*)))
    }
    val c = withBands(corpus, "neighbor_id", "cv", 0)
    val p = withBands(probes, "query_id", "qv", probeRadius)
    val nn = col("qv_n") * col("cv_n")
    val cands = c.join(broadcast(p), Seq("band"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine",
        when(nn === 0.0, 0.0).otherwise(dot(col("qv"), col("cv")) / nn))
    topKPerQuery(cands, k)
  }

  /** Corpus-wide k-NN GRAPH: every vector's top-k cosine neighbors —
    * the building block graph-based curation consumes (SemDeDup-style
    * cluster graphs, density sampling, g1/g2/g3 edge lists) when no
    * similarity THRESHOLD is known a priori: top-k per vertex is
    * density-adaptive where a fixed threshold (d8) over-connects
    * dense modes and strands sparse ones.
    *
    * This is corpus × corpus, so the scale posture is the whole
    * design: candidates come from d8's hyperplane band equi-join
    * (only (id, band) travels — never vectors), each undirected
    * candidate pair scores its exact cosine ONCE, the pair then feeds
    * BOTH endpoints' rankings via a union, and per-vertex top-k rides
    * the `graft_topk` bounded aggregate (fixed k-row state per task —
    * shuffle volume O(k · vertices · partitions), never a
    * per-vertex sort of the candidate set) with the window fallback.
    * No broadcast of anything corpus-sized, no cross product.
    *
    * `numPlanes <= 0` derives band bits from the corpus count
    * ([[autoBandBits]] — the scale-safe default); pass an explicit
    * layout to pin it, as the oracle-replicated query does. A vertex
    * whose buckets are all singletons gets NO rows (an isolated
    * vector has no LSH-visible neighbors; raise bands / lower bits
    * for more recall — the s2/s5 recall harness measures the trade).
    * Output: (id, rank, neighbor_id, cosine 4dp), rank 1..<=k by
    * (cosine desc, neighbor_id).
    */
  def knnGraph(corpus: DataFrame, vecCol: String, idCol: String, k: Int,
               dim: Int, numPlanes: Int = 0, bands: Int = 6,
               seed: Long = 42L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(bands >= 1, s"bands must be >= 1, got $bands")
    val nPlanes =
      if (numPlanes > 0) numPlanes
      else bands * autoBandBits(corpus.count(), bands)
    require(nPlanes % bands == 0 && nPlanes <= 63,
      s"numPlanes ($nPlanes) must be a multiple of bands ($bands) and <= 63")
    val planes = hyperplanes(nPlanes, dim, seed)
    val bitsPerBand = nPlanes / bands
    val dot = Native.dotOf(corpus)
    val sigOf = Native.hyperplaneSigOf(corpus, planes, dim)
    val preparedPlan = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
        sqrt(dot(col(vecCol), col(vecCol))).as("nrm"))
      .withColumn("sig", sigOf(col("v")))
    // feeds the band join once and the verify join twice
    val prepared = preparedPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandCols = (0 until bands).map { bn =>
      struct(lit(bn).as("b"),
        shiftrightunsigned(col("sig"), bn * bitsPerBand)
          .bitwiseAND((1L << bitsPerBand) - 1).as("v"))
    }
    val banded = prepared.select(col("id"), explode(array(bandCols: _*)).as("band"))
    val candidates = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .dropDuplicates("id1", "id2")
    val vecs = prepared.select(col("id"), col("v"), col("nrm"))
    val nn = col("h1.nrm") * col("h2.nrm")
    val scored = candidates
      .join(vecs.as("h1"), col("id1") === col("h1.id"))
      .join(vecs.as("h2"), col("id2") === col("h2.id"))
      .withColumn("cosine",
        when(nn === 0.0, 0.0).otherwise(dot(col("h1.v"), col("h2.v")) / nn))
      .select(col("id1"), col("id2"), col("cosine"))
    val sym = scored
      .select(col("id1").as("query_id"), col("id2").as("neighbor_id"),
        col("cosine"))
      .unionAll(scored.select(col("id2").as("query_id"),
        col("id1").as("neighbor_id"), col("cosine")))
    topKPerQuery(sym, k).withColumnRenamed("query_id", "id")
  }

  /** Per-query recall@k of an approximate ANN result against exact
    * ground truth — the eval harness every approximate index needs
    * before it replaces the exact path (you don't ship an LSH/IVF
    * variant on a recall you haven't measured; this is that
    * measurement, as a query).
    *
    * Both inputs are (query_id, rank, neighbor_id, …) top-k tables
    * (the contract shared by [[bruteForceTopK]]/[[lshTopK]]/[[ivfTopK]]).
    * n_hit = |approx ∩ truth| per query; recall = n_hit / k. A query
    * the approx index missed entirely still gets a row (recall 0) —
    * silent misses are the thing being measured.
    *
    * Scale shape: both inputs are O(queries·k) — the cost lives in
    * the upstream pipelines; the hit join is an equi-join on
    * (query_id, neighbor_id) that AQE plans broadcast at any
    * realistic query-workload size.
    */
  /** Embedding-table health/drift stats per group — the QA panel run
    * BEFORE any ANN or embedding-dedup job: a batch of zero-norm or
    * wrong-dimension vectors (a broken encoder push) silently poisons
    * cosine math downstream, and a drop in intra-group coherence
    * (mean cosine to the group centroid) is the standard embedding-
    * drift alarm between ingest batches.
    *
    * Per group: row count, dim min/max (≠ means ragged dimensions —
    * the alarm), zero-norm count, mean + median L2 norm, and mean
    * cosine to the group's mean vector. Groups are drift slices
    * (labels, sources, ingest batches) — bounded cardinality by
    * contract, so the centroid table joins back broadcast.
    *
    * Engine-portable FP: centroids use c1's decimal-exact per-dim
    * recipe (6dp-rounded components → decimal sum → mean → 6dp);
    * means accumulate 6dp-rounded values in exact decimal (t18's
    * recipe); the median interpolates over 6dp-rounded norms. Only
    * one shuffle of the full vector data (the posexplode partial
    * agg); norms/cosines are map-side.
    */
  def embeddingStats(embs: DataFrame, vecCol: String, groupCol: String): DataFrame = {
    val fround = graft.functions.num.fround _
    val dot = vectors.dot _
    val base = embs.select(col(groupCol).as("grp"), col(vecCol).as("v"))
      .withColumn("dim", size(col("v")).cast("long"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val cent = base
      .select(col("grp"), posexplode(col("v")).as(Seq("d", "x")))
      .select(col("grp"), col("d"),
        fround(col("x").cast("double"), 6).cast("decimal(18,6)").as("xq"))
      .groupBy("grp", "d")
      .agg(fround(sum(col("xq")).cast("double") / count(lit(1)), 6).as("cx"))
      .groupBy("grp")
      .agg(transform(array_sort(collect_list(struct(col("d"), col("cx")))),
        s => s.getField("cx")).as("cvec"))
    val cn = sqrt(dot(col("cvec"), col("cvec")))
    def decMean(c: Column, outDp: Int) =
      fround(sum(fround(c, 6).cast("decimal(18,6)")).cast("double") / count(lit(1)), outDp)
    base.join(broadcast(cent), Seq("grp"))
      .withColumn("cosc",
        when(col("nrm") * cn === 0.0, lit(0.0))
          .otherwise(dot(col("v"), col("cvec")) / (col("nrm") * cn)))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_vecs"),
        min("dim").as("dim_min"), max("dim").as("dim_max"),
        sum(when(col("nrm") === 0.0, 1L).otherwise(0L)).as("n_zero_norm"),
        decMean(col("nrm"), 4).as("mean_norm"),
        fround(percentile(fround(col("nrm"), 6), lit(0.5)), 4).as("p50_norm"),
        decMean(col("cosc"), 4).as("mean_cos_centroid"))
  }

  def recallAtK(truth: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val a = approx.select(col("query_id"), col("neighbor_id"))
      .withColumn("graft_hit", lit(1))
    truth.select("query_id", "neighbor_id")
      .join(a, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(col("graft_hit")).as("n_hit"))
      .select(col("query_id"), col("n_hit"),
        graft.functions.num.fround(col("n_hit").cast("double") / lit(k.toDouble), 4)
          .as("recall"))
  }

  /** Product-quantization ANN (Jégou et al., TPAMI 2011) — the third
    * index family beside LSH (s2/s4) and IVF (s3), and the one that
    * compresses the SCAN rather than pruning it: the vector splits
    * into `subspaces` sub-vectors, each sub-vector quantizes to its
    * nearest codebook centroid (codebooks fit per subspace by the c1
    * k-means recipe: lowest-id init, Lloyd steps with decimal-exact
    * 6dp centroid recompute, L2 assignment in the reduced form
    * c·c − 2·x·c with lower-cid tie-break), and a probe scores a
    * candidate by ASYMMETRIC DISTANCE — qq plus one table lookup per
    * subspace — instead of `dim` multiplies. Per-pair cost drops
    * dim → subspaces and the corpus representation drops to
    * `subspaces` small codes per row (the memory story that lets a
    * 100 TB corpus's index live in RAM).
    *
    * Determinism/portability: every per-subspace term and qq is
    * 6dp-floor-rounded and summed in EXACT DECIMAL (the t18 recipe —
    * a double sum's order-dependence could flip 6dp boundaries), so
    * the scores and the (adist asc, neighbor asc) ranking reproduce
    * bit-for-bit in the DuckDB oracle. Empty codebook entries drop
    * out exactly as c1's empty clusters do.
    *
    * Scale shape: codebook fit is `lloydIters` bounded collects
    * (subspaces·codebookSize rows) + one partial-agg shuffle per
    * iteration; encoding is MAP-ONLY (codebooks fold into the
    * projection as literals); scoring is the s1 broadcast-probes
    * pattern with O(subspaces) per pair; ranking rides `graft_topk`.
    */
  /** TWO-STAGE ANN: PQ/ADC candidate generation → exact-cosine rerank —
    * the architecture a production ANN serves at corpus scale. Stage 1
    * scans only the 8-byte PQ codes ([[pqTopK]] at k = `candidates`):
    * the full-precision vectors never travel. Stage 2 fetches ONLY the
    * candidate vectors (the candidate table is |probes|·candidates slim
    * rows — broadcast it against the corpus scan, so the fetch is a
    * map-side semi-join, no corpus shuffle) and reranks them by exact
    * cosine, repairing the quantization error ADC ranking carries.
    * Recall@k is bounded by whether stage 1's `candidates` net catches
    * the true top-k — the `candidates/k` ratio is the recall-vs-cost
    * knob (measured at sf0.01: recall@5 vs exact cosine 0.52 raw ADC →
    * 0.84 reranked at candidates = 50; the residual gap is candidate-
    * net misses, ADC ranking L2 while the rerank scores cosine —
    * candidates >= corpus recovers brute force EXACTLY, spec-asserted).
    *
    * Output (query_id, rank, neighbor_id, cosine 4dp) — s1's shape, so
    * [[recallAtK]] composes directly.
    */
  def pqRerankTopK(corpus: DataFrame, probes: DataFrame, vecCol: String,
                   idCol: String, k: Int, candidates: Int = 50,
                   subspaces: Int = 8, codebookSize: Int = 64,
                   lloydIters: Int = 1): DataFrame = {
    require(candidates >= k,
      s"candidates ($candidates) must be >= k ($k)")
    exactRerank(corpus, probes, vecCol, idCol, k,
      pqTopK(corpus, probes, vecCol, idCol, candidates,
        subspaces, codebookSize, lloydIters))
  }

  /** [[pqRerankTopK]] with [[ivfPqTopK]] as the candidate stage — the
    * FULL production serving shape at corpus scale: the coarse index
    * prunes which codes are scanned (nProbe/numCentroids of the
    * corpus), ADC compresses the scan (O(subspaces) per pair), and
    * the exact-cosine rerank repairs quantization error over a
    * bounded |probes|·candidates fetch. All three knobs
    * (nProbe, subspaces, candidates) trade recall for cost
    * independently; candidates >= corpus AND nProbe = numCentroids
    * recovers brute force exactly (both degradations spec-asserted
    * separately; the composition inherits them).
    */
  def ivfPqRerankTopK(corpus: DataFrame, probes: DataFrame, vecCol: String,
                      idCol: String, k: Int, candidates: Int = 50,
                      numCentroids: Int = 16, nProbe: Int = 4,
                      subspaces: Int = 8, codebookSize: Int = 64,
                      lloydIters: Int = 1): DataFrame = {
    require(candidates >= k,
      s"candidates ($candidates) must be >= k ($k)")
    exactRerank(corpus, probes, vecCol, idCol, k,
      ivfPqTopK(corpus, probes, vecCol, idCol, candidates,
        numCentroids, nProbe, subspaces, codebookSize, lloydIters))
  }

  /** Stage 2 of the two-stage ANN shapes: exact-cosine rerank of a
    * (query_id, neighbor_id) candidate table. The candidate table is
    * slim (|probes|·candidates rows) — BROADCAST against the corpus
    * scan, so the full-precision fetch is a map-side semi-join with
    * no corpus shuffle.
    */
  private def exactRerank(corpus: DataFrame, probes: DataFrame,
                          vecCol: String, idCol: String, k: Int,
                          candidates0: DataFrame): DataFrame = {
    val cand = candidates0.select(col("query_id"), col("neighbor_id"))
    val dot = Native.dotOf(corpus)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("cn"))
    val p = probes.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("qn"))
    val nn = col("qn") * col("cn")
    val scored = c.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(p), Seq("query_id"))
      .withColumn("cosine",
        when(nn === 0.0, 0.0).otherwise(dot(col("qv"), col("cv")) / nn))
    topKPerQuery(scored, k)
  }

  def pqTopK(corpus: DataFrame, probes: DataFrame, vecCol: String,
             idCol: String, k: Int, subspaces: Int = 8,
             codebookSize: Int = 64, lloydIters: Int = 1): DataFrame = {
    val parts = pqParts(corpus, probes, vecCol, idCol,
      subspaces, codebookSize, lloydIters)
    val scored = parts.encoded.crossJoin(broadcast(parts.pt))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", parts.adist)
    rankByAdist(scored, k)
  }

  /** The PQ index pieces shared by [[pqTopK]] (exhaustive ADC scan)
    * and [[ivfPqTopK]] (IVF-pruned ADC scan): `encoded` is the corpus
    * as (neighbor_id, code_0..code_{subspaces-1}) — plus any
    * `corpusCarry` columns (the IVF list id rides here) — and `pt` is
    * the probe table as (query_id, qq, t_0..t_{subspaces-1}) plus
    * `probeCarry`; `adist` is the asymmetric-distance column valid on
    * any join of the two. Carry columns must already exist on the
    * input frames and not collide with the generated names.
    */
  private case class PqParts(encoded: DataFrame, pt: DataFrame, adist: Column)

  /** Rank an ADC-scored candidate set by (adist asc, neighbor asc) and
    * keep the top k per query: [[Native.topKOf]] over the negated
    * distance.
    */
  private def rankByAdist(scored: DataFrame, k: Int): DataFrame =
    Native.topKOf(scored.withColumn("negd", -col("adist")),
        "query_id", "negd", "neighbor_id", k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        (-col("negd")).as("adist"))

  private def pqParts(corpus: DataFrame, probes: DataFrame, vecCol: String,
                      idCol: String, subspaces: Int, codebookSize: Int,
                      lloydIters: Int, corpusCarry: Seq[String] = Nil,
                      probeCarry: Seq[String] = Nil): PqParts = {
    require(subspaces >= 1, s"subspaces must be >= 1, got $subspaces")
    require(codebookSize >= 1, s"codebookSize must be >= 1, got $codebookSize")
    require(lloydIters >= 0, s"lloydIters must be >= 0, got $lloydIters")
    import graft.functions.num
    val dot = vectors.dot _
    // init: sub-vectors of the codebookSize lowest ids (cid = rank).
    // This collect doubles as the DIM probe — the first init row
    // carries the vector length, so the op costs one fit job less
    // than a separate select(size(...)).first() pass.
    val initRows = corpus.orderBy(col(idCol)).limit(codebookSize)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
    require(initRows.nonEmpty, "pqTopK: corpus is empty")
    val dim = initRows.head.length
    require(dim % subspaces == 0,
      s"subspaces=$subspaces must divide dim=$dim")
    val sub = dim / subspaces
    def sliceS(v: Column, s: Int) = slice(v, s * sub + 1, sub)
    def sqSum(c: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < c.length) { acc += c(i) * c(i); i += 1 }
      acc
    }
    // reduced L2 score of a sub-vector against a centroid literal:
    // c·c − 2·x·c (x·x is constant per row, so the argmin — and, with
    // qq added back per probe, the ranking — is unchanged). The HOF
    // dot is the measured-best form for the 64-wide argmin: unrolling
    // it to 512 element_at multiply-add terms per subspace (to chase
    // whole-stage codegen) measured 15-30 s vs ~8 s at sf0.1 — the
    // giant flattened Add chains swamp analysis/codegen and the
    // compact lambda wins despite interpreted evaluation.
    def rScore(x: Column, c: Array[Double]): Column =
      lit(sqSum(c)) - lit(2.0) * dot(x, array(c.map(lit).toSeq: _*))
    var books: IndexedSeq[IndexedSeq[(Int, Array[Double])]] =
      (0 until subspaces).map { s =>
        initRows.indices.map(cid =>
          (cid, initRows(cid).slice(s * sub, (s + 1) * sub)))
      }
    // Native path: ONE compiled O(codebookSize·sub) loop per
    // (row, subspace) via graft_pq_argmin — identical accumulation
    // orders, identical tie-break (lowest index), so the codes are
    // bit-identical to the expression argmin (parity in NativeSpec).
    // The expression form's 64 struct lambdas evaluate interpreted
    // and dominate the whole operator's cost (measured ~8 s -> ~1.8 s
    // at sf0.1). Gated on float element type (the kernel reads
    // getFloat, like graft_vector_dot); label mapping stays outside
    // the kernel so sparse post-Lloyd cids survive.
    val vecIsFloat = corpus.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    val nativeArgmin = vecIsFloat && Native.enabled(corpus, "graft_pq_argmin")
    def argminCid(s: Int, x: Column): Column =
      if (nativeArgmin)
        element_at(lit(books(s).map(_._1).toArray),
          call_function("graft_pq_argmin", x,
            lit(books(s).flatMap(_._2.toSeq).toArray), lit(sub)) + 1)
      else
        array_min(array(books(s).map { case (cid, c) =>
          struct(rScore(x, c).as("r"), lit(cid).as("cid"))
        }: _*)).getField("cid")
    for (_ <- 0 until lloydIters) {
      // all subspaces share ONE corpus scan (the 8 per-subspace
      // assignments ride one exploded struct array) and ONE
      // partial-agg shuffle per iteration. This fold is only a win
      // WITH the native argmin: behind the expression argmin the
      // same explode builds an 8×64-struct mega-projection that
      // leaves codegen and measured SLOWER (9.1-10.0 s) than eight
      // union scans (7.9 s); with graft_pq_argmin the projection is
      // 8 compiled calls and the single scan wins.
      val assigned =
        if (nativeArgmin)
          corpus
            .select(explode(array((0 until subspaces).map { s =>
              struct(lit(s).as("s"),
                argminCid(s, sliceS(col(vecCol), s)).as("cid"),
                sliceS(col(vecCol), s).as("sv"))
            }: _*)).as("a"))
            .select(col("a.s").as("s"), col("a.cid").as("cid"), col("a.sv").as("sv"))
        else
          (0 until subspaces).map { s =>
            corpus.select(lit(s).as("s"),
              argminCid(s, sliceS(col(vecCol), s)).as("cid"),
              sliceS(col(vecCol), s).as("sv"))
          }.reduce(_.union(_))
      val collected = assigned
        .select(col("s"), col("cid"), posexplode(col("sv")).as(Seq("d", "x")))
        .select(col("s"), col("cid"), col("d"),
          num.fround(col("x").cast("double"), 6).cast("decimal(18,6)").as("xq"))
        .groupBy("s", "cid", "d")
        .agg(num.fround(sum(col("xq")).cast("double") / count(lit(1)), 6).as("cx"))
        .groupBy("s", "cid")
        .agg(transform(array_sort(collect_list(struct(col("d"), col("cx")))),
          t => t.getField("cx")).as("c"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      books = (0 until subspaces).map { s =>
        collected.filter(_._1 == s).sortBy(_._2)
          .map(t => (t._2, t._3)).toIndexedSeq
      }
    }
    // encode: map-only, codebooks as literals. The native path emits
    // the DENSE book position (books are cid-sorted, so lowest-index
    // ties == lowest-cid ties and the chosen CENTROID is identical)
    // instead of the cid label: codes never leave the operator, the
    // ADC tables below are built in the same dense order, and the
    // projection stays one compiled call per subspace with no
    // index→label element_at.
    val encoded = corpus.select((col(idCol).as("neighbor_id") +:
      corpusCarry.map(col)) ++
      (0 until subspaces).map { s =>
        val x = sliceS(col(vecCol), s)
        (if (nativeArgmin)
          call_function("graft_pq_argmin", x,
            lit(books(s).flatMap(_._2.toSeq).toArray), lit(sub))
        else argminCid(s, x)).as(s"code_$s")
      }: _*)
    // probe-side ADC tables, position cid (absent cids get a never-
    // referenced 0 filler — codes only ever take surviving cids).
    // Entries are stored in MICRO-UNITS (long = 6dp value × 10⁶,
    // recovered exactly through a decimal multiply): every term is an
    // exact multiple of 10⁻⁶, so the per-pair accumulation can run as
    // plain long adds in whole-stage codegen instead of a 9-deep
    // BigDecimal chain — and double(Σmicro)/10⁶ is the SAME correctly
    // rounded double as casting the exact-decimal sum (one IEEE
    // division of an integer-exact numerator either way), so scores,
    // ranking, and the oracle compare are bit-identical. Measured:
    // the decimal fold dominated the whole operator at sf1 (the
    // probes×corpus pair count grows 100× there).
    def micro(c: Column): Column =
      (c.cast("decimal(18,6)") * lit(1000000L)).cast("long")
    val p0 = probes.select(col(idCol).as("query_id") +:
      col(vecCol).as("qv") +: probeCarry.map(col): _*)
    // Probe-side ADC tables, matching the encode side's index space:
    // dense book order behind the native argmin, position-cid with
    // never-referenced 0 fillers behind the expression argmin. With
    // graft_pq_adc the whole 64-entry table is ONE compiled
    // O(codebookSize·sub) kernel call per subspace — the expression
    // form is 64 interpreted lambda subtrees per subspace PER PROBE
    // ROW, the cost that dominates once the probe table is
    // production-sized (entries bit-identical: same accumulation
    // orders, same fround, same decimal micro conversion — parity
    // spec'd).
    val probeIsFloat = probes.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    val nativeAdc = nativeArgmin && probeIsFloat &&
      Native.enabled(probes, "graft_pq_adc")
    val tableCols = (0 until subspaces).map { s =>
      val entries: Column =
        if (nativeAdc)
          call_function("graft_pq_adc", sliceS(col("qv"), s),
            lit(books(s).flatMap(_._2.toSeq).toArray), lit(sub))
        else if (nativeArgmin)
          // dense codes but float-less (or kernel-less) probe side:
          // expression entries in the same dense book order
          array(books(s).map { case (_, c) =>
            micro(num.fround(rScore(sliceS(col("qv"), s), c), 6))
          }: _*)
        else {
          val byCid = books(s).toMap
          array((0 to books(s).map(_._1).max).map { cid =>
            byCid.get(cid)
              .map(c => micro(num.fround(rScore(sliceS(col("qv"), s), c), 6)))
              .getOrElse(lit(0L))
          }: _*)
        }
      entries.as(s"t_$s")
    }
    val pt = p0.select(Seq(col("query_id"),
      micro(num.fround(dot(col("qv"), col("qv")), 6)).as("qq")) ++
      tableCols ++ probeCarry.map(col): _*)
    val adist = (0 until subspaces)
      .map(s => element_at(col(s"t_$s"), col(s"code_$s") + 1))
      .foldLeft(col("qq"))(_ + _)
      .cast("double") / lit(1000000.0)
    PqParts(encoded, pt, adist)
  }

  /** IVF + PQ composite index (Jégou et al.'s IVFADC architecture,
    * TPAMI 2011 §IV) — the production ANN shape that PRUNES the scan
    * (IVF: a probe reads only its `nProbe` nearest inverted lists,
    * s3's machinery) AND COMPRESSES what it scans (PQ: candidates are
    * scored from `subspaces` one-byte codes by ADC table lookups,
    * s7's machinery). At corpus scale the two knobs multiply: the
    * codes table is ~dim/subspaces·4 smaller than the vectors AND
    * only nProbe/numCentroids of it is touched per probe — full
    * vectors never shuffle, never broadcast, and the per-pair cost is
    * O(subspaces) lookups.
    *
    * Vectors are PQ-encoded RAW (not as residuals v − centroid): the
    * shared-codebook form keeps every stage an already-oracle-checked
    * recipe (s3's coarse assignment + s7's codebooks/ADC, composed by
    * one equi-join) and the codes corpus-global, at a known recall
    * cost vs residual encoding (the variant Faiss ships as
    * IndexIVFPQ(by_residual=false); residual codebooks would need a
    * per-list ADC table build, nProbe× the probe-side cost, and a
    * fresh oracle recipe). Candidate generation: corpus rows carry
    * their ONE nearest coarse centroid (dot/|c| argmax, lower-ci
    * ties — the s3 rule), probes explode to their `nProbe` nearest;
    * the equi-join on list id replaces s7's crossJoin, everything
    * downstream (ADC tables, micro-unit adist, (adist asc, id asc)
    * ranking) is byte-identical to s7. nProbe = numCentroids recovers
    * pqTopK EXACTLY (spec-asserted: the prune is complete).
    *
    * Output (query_id, rank, neighbor_id, adist) — s7's shape, so
    * [[recallAtK]] and the rerank pattern compose directly.
    */
  def ivfPqTopK(corpus: DataFrame, probes: DataFrame, vecCol: String,
                idCol: String, k: Int, numCentroids: Int = 16,
                nProbe: Int = 4, subspaces: Int = 8,
                codebookSize: Int = 64, lloydIters: Int = 1): DataFrame = {
    require(numCentroids >= 1, s"numCentroids must be >= 1, got $numCentroids")
    require(nProbe >= 1 && nProbe <= numCentroids,
      s"nProbe must be in [1, numCentroids], got $nProbe (numCentroids = $numCentroids)")
    val dot = Native.dotOf(corpus)
    // coarse quantizer: the s3 deterministic hash-order sample —
    // tiny driver-side table (numCentroids rows), oracle-replicable
    val cents: Array[Array[Float]] = corpus
      .orderBy(sampleOrder(col(idCol)), col(idCol)).limit(numCentroids)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Number](0).map(_.floatValue()).toArray)
    require(cents.nonEmpty, "ivfPqTopK: corpus is empty")
    val centNorms = cents.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
    // score against centroid c is dot/|c| (the row's own norm is a
    // common positive factor — the ranking is the cosine ranking);
    // ties break on the lower centroid index (the s3/s7 rule). A
    // ZERO sampled centroid scores 0 to everything (the cosOf
    // convention) — guarded DRIVER-side so the expression is
    // untouched for every non-degenerate centroid (ANSI double
    // division by zero throws; the oracle never samples a zero
    // centroid on the gated corpora)
    def scores(vec: Column): Seq[Column] = cents.indices.map { ci =>
      struct((if (centNorms(ci) == 0.0) lit(0.0)
              else dot(vec, lit(cents(ci))) / lit(centNorms(ci))).as("s"),
        lit(-ci).as("negi"))
    }
    val corpusC = corpus.withColumn("graft_list",
      -greatest(scores(col(vecCol)): _*).getField("negi"))
    val probesC = probes.withColumn("graft_lists",
      transform(slice(reverse(array_sort(array(scores(col(vecCol)): _*))),
        1, nProbe), s => -s.getField("negi")))
    val parts = pqParts(corpusC, probesC, vecCol, idCol,
      subspaces, codebookSize, lloydIters,
      corpusCarry = Seq("graft_list"), probeCarry = Seq("graft_lists"))
    // the probe table fans out to nProbe rows; corpus lists are
    // unique per row, so each (query, candidate) pair joins at most
    // once — no dedup stage needed before ranking
    val pt = parts.pt
      .withColumn("graft_list", explode(col("graft_lists")))
      .drop("graft_lists")
    val scored = parts.encoded.join(broadcast(pt), Seq("graft_list"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", parts.adist)
    rankByAdist(scored, k)
  }

  /** INCREMENTAL IVF INDEX MAINTENANCE, fit side (s16) — the
    * similarity family's analog of d16's `minhashPrepare`: what a
    * corpus PERSISTS once so later batches extend the index without
    * ever re-running the k-means fit. A daily crawl at 100 TB cannot
    * re-fit centroids per batch (the fit rescans the whole history);
    * this splits the IVF lifecycle into
    *
    *   fit ONCE  → (centroid table, assignment table)   [this method]
    *   per batch → assign delta to the FROZEN centroids  [[ivfAppendDelta]]
    *
    * and queries read the merged assignment table (history ∪ deltas).
    *
    * The fit is [[Cluster]]'s engine-portable k-means (k-lowest-id
    * init, decimal-exact 6dp recompute — the c1 contract, so a DuckDB
    * oracle replays the whole trajectory), NOT [[ivfTopK]]'s
    * sample-order float init: a persisted index is a cross-engine
    * artifact, and bit-reproducible centroids are what make the
    * incremental == from-scratch equality checkable at all.
    *
    * Centroid table: (cluster_id, centroid, train_cos_q05) — k rows,
    * a broadcast-sized artifact at any corpus scale. `train_cos_q05`
    * is the STALENESS calibration: the exact 5th percentile of the
    * train points' (4dp-rounded) cosine to their own nearest centroid
    * (Spark `percentile` ↔ DuckDB `quantile_cont`, the t10 parity),
    * repeated per row so any slice of the table carries it.
    * Assignment table: (id, cluster_id, cos) — one row per corpus
    * vector, the `c` side every IVF query probes.
    *
    * DRIFT CAVEAT (the price of freezing): centroids reflect the fit
    * corpus. As the ingested distribution drifts, delta points land
    * ever farther from every centroid — recall of centroid-probed
    * queries decays silently. [[ivfAppendDelta]]'s `stale` flag is
    * the monitor: the fraction of delta points whose nearest-centroid
    * distance exceeds the train 95th percentile (equivalently cos
    * below `train_cos_q05`). Under no drift that fraction hovers near
    * 0.05 by construction; a sustained rise is the re-fit signal.
    *
    * Scale shape: the fit is c1's (map-only assigns + one bounded
    * partial-agg shuffle per Lloyd round, k·dim driver state); the
    * quantile is one agg over the assignment table with a bounded
    * buffer per the t10 trade (swap approx_percentile past that).
    */
  def ivfIndexTables(corpus: DataFrame, vecCol: String, idCol: String,
                     numCentroids: Int, kmeansIters: Int = 1): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val points = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val cents = Cluster.fit(points, numCentroids, kmeansIters)
    require(cents.nonEmpty, "ivfIndexTables: corpus is empty — nothing to fit")
    val assigned = Cluster.assign(points, "v", cents)
      .select(col("id"), col("cluster_id"), col("cos"))
    // exact p05 of the train cosines, 4dp in and out (engine-exact:
    // identical rounded inputs → identical interpolation → identical
    // rounded output — the t10 percentile↔quantile_cont parity)
    val q = assigned.agg(
      graft.functions.num.fround(
        percentile(graft.functions.num.fround(col("cos"), 4), lit(0.05)), 4)
        .as("train_cos_q05"))
    val centTable = cents.map { case (cid, c) => (cid, c.toSeq) }
      .toDF("cluster_id", "centroid")
      .crossJoin(broadcast(q))
    (centTable, assigned)
  }

  /** INCREMENTAL IVF INDEX MAINTENANCE, append side (s16) — assign a
    * delta batch to the FROZEN persisted centroid table. The centroid
    * table (k rows — the documented bounded-driver-state class) is
    * collected and folded into the projection as literals, so the
    * per-batch cost is ONE map-only scan of the delta: no join, no
    * shuffle, no touch of history — the d16/g4/q36 incremental
    * contract, O(delta) per batch.
    *
    * Frozen-centroid assignment is a pure per-row function of the
    * centroid table, so incremental == from-scratch BY CONSTRUCTION:
    * a vector assigns identically whether it arrived in the fit
    * corpus or in any later batch (the s16 oracle checks exactly this
    * — the DuckDB replication assigns every point from scratch at the
    * replayed centroids). Batching is likewise invisible: appending a
    * delta in one batch or ten yields the same rows.
    *
    * Output: (id, cluster_id, cos, stale) — `stale` is the index
    * drift monitor (see [[ivfIndexTables]]): true iff the point's 4dp
    * cosine to its nearest centroid falls below the persisted
    * `train_cos_q05`, i.e. its distance exceeds the train 95th
    * percentile. Callers append these rows to the persisted
    * assignment table; `avg(stale)` per batch is the re-fit alarm.
    */
  def ivfAppendDelta(centroids: DataFrame, delta: DataFrame,
                     vecCol: String, idCol: String): DataFrame = {
    val rows = centroids
      .select(col("cluster_id").cast("long"), col("centroid"),
        col("train_cos_q05").cast("double"))
      .collect()
    require(rows.nonEmpty, "ivfAppendDelta: centroid table is empty")
    val cents: Seq[(Long, Array[Double])] = rows
      .map(r => (r.getLong(0), r.getSeq[Number](1).map(_.doubleValue()).toArray))
      .sortBy(_._1).toSeq
    // train_cos_q05 is index-level state replicated onto every row by
    // ivfIndexTables; a hand-built or corrupted table with DIFFERING
    // values would otherwise pick whichever row an unordered collect
    // surfaced first — a nondeterministic staleness threshold. Fail
    // loudly instead.
    val q05s = rows.map(_.getDouble(2)).distinct
    require(q05s.size == 1,
      s"ivfAppendDelta: centroid table carries ${q05s.size} distinct " +
        s"train_cos_q05 values (${q05s.sorted.take(4).mkString(", ")}…) — " +
        "index-level state must be uniform across centroid rows")
    val q05 = q05s.head
    val points = delta.select(col(idCol).as("id"), col(vecCol).as("v"))
    Cluster.assign(points, "v", cents)
      .select(col("id"), col("cluster_id"), col("cos"),
        (graft.functions.num.fround(col("cos"), 4) < lit(q05)).as("stale"))
  }

  /** RE-FIT MIGRATION (s17) — the lifecycle step [[ivfAppendDelta]]'s
    * `stale` alarm exists to trigger: when drift has pushed the stale
    * fraction up, re-fit centroids OFFLINE over the ACCUMULATED corpus
    * (history ∪ deltas), reassign everything in ONE linear map-only
    * pass at the new frozen centroids, and swap the index. Returns
    * (newCentroids, newAssignments, receipt):
    *
    *  - the new tables are [[ivfIndexTables]] over the full corpus —
    *    so "reassignment == from-scratch at the new centroids" holds
    *    BY CONSTRUCTION (reassignment IS the from-scratch assignment;
    *    the oracle replays both fits and both assignments and checks
    *    the receipt digit-for-digit, which pins exactly that equality)
    *  - the RECEIPT is the migration's checkable artifact: the
    *    (old_cluster_id, new_cluster_id) confusion rollup with
    *    staleness before (old index q05 rule over old cosines) and
    *    after (new q05 over new cosines) — bounded k_old·k_new rows,
    *    the cross-fit census an operator reads to confirm the re-fit
    *    actually absorbed the drift (n_stale_after collapses) before
    *    hot-swapping the serving tables (st15 re-reads the centroid
    *    parquet per batch, so the swap is one overwrite — the
    *    StreamParitySpec hot-swap case).
    *
    * `k` may change across the re-fit (drift often means MORE modes) —
    * nothing couples old and new cluster ids; the receipt's pairs are
    * labels from two independent fits.
    *
    * Scale shape: one c1 fit over the corpus (map-only assigns + one
    * bounded partial-agg shuffle per Lloyd round) + one id equi-join
    * of two one-row-per-vector assignment tables + a bounded rollup.
    * Old q05 is read with [[ivfAppendDelta]]'s uniformity guard — a
    * corrupted centroid table fails loud, never a nondeterministic
    * staleness rule.
    */
  def ivfRefitMigration(oldCentroids: DataFrame, oldAssignments: DataFrame,
                        corpus: DataFrame, vecCol: String, idCol: String,
                        numCentroids: Int, kmeansIters: Int = 1)
      : (DataFrame, DataFrame, DataFrame) = {
    def uniformQ05(cents: DataFrame, which: String): Double = {
      val qs = cents.select(col("train_cos_q05").cast("double"))
        .distinct().collect().map(_.getDouble(0))
      require(qs.length == 1,
        s"ivfRefitMigration: $which centroid table carries ${qs.length} " +
          "distinct train_cos_q05 values — index-level state must be uniform")
      qs.head
    }
    val oldQ05 = uniformQ05(oldCentroids, "old")
    val (newCents, newAsg) = ivfIndexTables(corpus, vecCol, idCol,
      numCentroids, kmeansIters)
    val newQ05 = uniformQ05(newCents, "new")
    val receipt = oldAssignments
      .select(col("id"), col("cluster_id").as("old_cluster_id"),
        (graft.functions.num.fround(col("cos"), 4) < lit(oldQ05))
          .cast("long").as("stale_before"))
      .join(newAsg.select(col("id"),
          col("cluster_id").as("new_cluster_id"),
          (graft.functions.num.fround(col("cos"), 4) < lit(newQ05))
            .cast("long").as("stale_after")),
        Seq("id"))
      .groupBy("old_cluster_id", "new_cluster_id")
      .agg(count(lit(1)).as("n"),
        sum(col("stale_before")).as("n_stale_before"),
        sum(col("stale_after")).as("n_stale_after"))
    (newCents, newAsg, receipt)
  }
}
