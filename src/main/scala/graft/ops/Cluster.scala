package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.num

/** K-means clustering over a dense embedding column — the corpus
  * organization primitive behind cluster-based curation (diversity
  * sampling, cluster-level dedup, topic balance). Reference analog:
  * the grouping/partitioning passes in the incident pipeline's
  * analysis step, generalized to vector space.
  *
  * Lloyd's algorithm, Spark-first:
  *  - **Assignment is map-only.** Centroids (k rows, bounded driver
  *    state by design — the same contract as [[Similarity]]'s IVF
  *    centroid table) are folded into the projection as array
  *    literals, so assigning a point costs k codegen'd dot products
  *    and NO shuffle, join, or window. At 100 TB the corpus streams
  *    through the scan once per iteration.
  *  - **Recomputation is one partial-agg shuffle** of (cluster, dim)
  *    keyed component sums — k·dim result rows, never a per-point
  *    table on the driver.
  *
  * FP determinism (the cross-engine / cross-partition-order
  * contract): per-dimension means accumulate in EXACT DECIMAL over
  * 6dp floor-rounded components (a plain double sum is
  * partition-order dependent — the t18 lesson), and the recomputed
  * centroid components are floor-rounded to 6dp, so every engine
  * computing the same assignment sees bit-identical centroids.
  * Assignment argmax runs on raw cosine doubles (sequential
  * accumulation — bit-identical across engines, the s1/d5 contract)
  * with lower-cluster-id tie-break.
  */
object Cluster {

  private def fround(c: Column, d: Int): Column = num.fround(c, d)

  // NOT Native.dotOf: the native kernel reads float arrays, but the
  // recomputed centroids are DOUBLE literals (6dp-rounded — float
  // storage couldn't hold the decimal-exact values the oracle
  // recomputes). The HOF dot casts each element to double, handling
  // the float-vector × double-centroid mix with the same sequential
  // accumulation DuckDB's list_dot_product uses.
  private def cosOf: (Column, Column) => Column = {
    val dot = graft.functions.vectors.dot _
    (a, b) => {
      val nn = sqrt(dot(a, a)) * sqrt(dot(b, b))
      when(nn === 0.0, lit(0.0)).otherwise(dot(a, b) / nn)
    }
  }

  /** True when the vector column is a float array — the layout
    * `graft_cos_topc` reads. Double-array callers (Spark-transform
    * output) take the expression path, whose HOF dot casts any
    * numeric.
    */
  private def floatVec(df: DataFrame, vecCol: String): Boolean =
    df.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }

  /** `graft_cos_topc` call over literal flattened centroids: ONE
    * Literal node per argument (the k-wide expression tree was the
    * documented interpreted wall — §6's "native cosine-argmax twin"),
    * top-n (cos, idx) structs, bit-identical to the struct-sort
    * fallback by the kernel's contract.
    */
  private def cosTopC(vecCol: String, centroids: Seq[(Long, Array[Double])],
                      n: Int): Column =
    call_function("graft_cos_topc", col(vecCol),
      typedLit(centroids.flatMap(_._2).toArray),
      lit(centroids.head._2.length), lit(n))

  /** idx (centroid position in the fit order) → cluster id, via one
    * array literal — ids stay sparse-safe when Lloyd drops clusters.
    */
  private def cidAt(centroids: Seq[(Long, Array[Double])], idx: Column): Column =
    element_at(typedLit(centroids.map(_._1).toArray), (idx + 1).cast("int"))

  /** The expression-fallback twin of `graft_cos_topc`'s ragged-input
    * guard: a vector whose length ≠ the centroid dim is data
    * corruption with no consistent answer (the HOF dot would null-pad
    * the shorter side into a NULL cosine), and the native kernel
    * fails loud on it — so the fallback must fail on the SAME input
    * too, or the two paths silently diverge exactly where FallbackSpec
    * promises they agree. `raise_error` rides the row pipeline
    * (map-only, codegen'd); well-formed vectors pass through untouched.
    */
  private def raggedGuard(vecCol: String, dim: Int): Column =
    when(size(col(vecCol)) =!= dim,
      raise_error(concat(
        lit("graft assign: vector length "),
        size(col(vecCol)).cast("string"),
        lit(s" != dim $dim (ragged embedding — fix the input)"))))
      .otherwise(col(vecCol))

  /** Nearest-centroid id + cosine for each row, as two extra columns
    * (`cluster_id`, `cos`). Map-only: `centroids` become literals.
    * Tie-break: equal cosine goes to the LOWER cluster id (the
    * (cos, -cid) struct max is lexicographic; the native kernel keeps
    * the lower index, and centroids arrive cid-ascending).
    */
  private[graft] def assign(points: DataFrame, vecCol: String,
                          centroids: Seq[(Long, Array[Double])]): DataFrame = {
    if (floatVec(points, vecCol) && Native.enabled(points, "graft_cos_topc")) {
      points
        .withColumn("graft_best",
          element_at(cosTopC(vecCol, centroids, 1), 1))
        .withColumn("cluster_id", cidAt(centroids, col("graft_best.idx")))
        .withColumn("cos", col("graft_best.cos"))
        .drop("graft_best")
    } else {
      val cos = cosOf
      val guarded = points.withColumn(vecCol,
        raggedGuard(vecCol, centroids.head._2.length))
      val scored = centroids.map { case (cid, c) =>
        struct(cos(col(vecCol), array(c.map(lit).toSeq: _*)).as("cos"),
          lit(-cid).as("ncid"))
      }
      guarded
        .withColumn("graft_best", array_max(array(scored: _*)))
        .withColumn("cluster_id", -col("graft_best.ncid"))
        .withColumn("cos", col("graft_best.cos"))
        .drop("graft_best")
    }
  }

  /** Decimal-exact per-cluster mean vectors of the assigned points:
    * one shuffle keyed (cluster, dim) with partial aggregation, then
    * a k-row collect (bounded driver state). Components floor-round
    * to 6dp so the result is identical for any partition order.
    */
  private def recompute(assigned: DataFrame, vecCol: String): Seq[(Long, Array[Double])] = {
    val perDim = assigned
      .select(col("cluster_id"), posexplode(col(vecCol)).as(Seq("d", "x")))
      .select(col("cluster_id"), col("d"),
        fround(col("x").cast("double"), 6).cast("decimal(18,6)").as("xq"))
      .groupBy("cluster_id", "d")
      .agg(fround(sum(col("xq")).cast("double") / count(lit(1)), 6).as("cx"))
    perDim.groupBy("cluster_id")
      .agg(transform(array_sort(collect_list(struct(col("d"), col("cx")))),
        s => s.getField("cx")).as("c"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
  }

  /** Full k-means: init = the embeddings of the `k` LOWEST ids
    * (deterministic, engine-portable), then `iters` Lloyd refinements
    * (assign → decimal-exact recompute), then a final assignment.
    * Returns (id, cluster_id, cos) — cosine is to the final centroid.
    *
    * A cluster that captures no points in some assignment simply drops
    * out (standard Lloyd behavior); downstream rows re-spread over the
    * survivors.
    */
  /** Init (k lowest ids) + `iters` Lloyd refinements over a
    * (id, v) projection; returns the final centroids.
    */
  private[ops] def fit(points: DataFrame, k: Int, iters: Int): Seq[(Long, Array[Double])] = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    // k rows, ordered by id — bounded driver state, the IVF contract.
    // element type is whatever the caller's embedding column carries
    // (float for the test tables, double for Spark-transform output) —
    // widen via Number, the same any-numeric handling the HOF dot has
    var centroids: Seq[(Long, Array[Double])] =
      points.orderBy(col("id")).limit(k).collect().zipWithIndex.map {
        case (r, i) =>
          (i.toLong, r.getSeq[Number](1).map(_.doubleValue()).toArray)
      }
    for (_ <- 0 until iters)
      centroids = recompute(assign(points, "v", centroids), "v")
    centroids
  }

  def kmeansAssign(embs: DataFrame, vecCol: String, idCol: String,
                   k: Int, iters: Int = 1): DataFrame = {
    val points = embs.select(col(idCol).as("id"), col(vecCol).as("v"))
    assign(points, "v", fit(points, k, iters))
      .select(col("id"), col("cluster_id"), col("cos"))
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al., 2023):
    * k-means buckets the corpus by topic, then exact-cosine pairs form
    * WITHIN each cluster only — the label-less corpus gets the
    * blocking column [[graft.ops.Dedup.embeddingNearDupPairs]]
    * requires, from its own geometry. The alternative label-less
    * blocking is hyperplane LSH (d8/d9): LSH bounds bucket size by
    * construction; k-means blocking instead aligns buckets with the
    * corpus's semantic modes (near-dups land together because they are
    * CLOSE, not because a random projection agreed), at the cost that
    * cluster sizes follow the data — pick k so corpus/k pairs stay
    * join-sized, or pre-split giant clusters.
    *
    * `blockProbes`: each point blocks into its `blockProbes` nearest
    * centroids (assignment itself stays argmax). Single-assignment
    * misses exactly the pairs that straddle a cluster boundary —
    * measured HALF the cosine-0.4 pairs on the test corpus (recall
    * 0.51/0.42 at sf0.01/sf0.1) — while the default 2-probe blocking
    * measures recall 0.95/0.94 there for ~2× join volume: the same
    * boundary-miss/multi-probe trade the ANN path (s2) prices.
    * Pairs co-blocked by two probes are deduped (identical cosine
    * recomputed on each occurrence, so the kept row is deterministic).
    *
    * Scale shape: assignment map-only (see [[kmeansAssign]]), then
    * d5's block-keyed pair equi-join with norms precomputed per row,
    * `blockProbes` rows per point on each side.
    */
  def semDedupPairs(embs: DataFrame, vecCol: String, idCol: String,
                    k: Int, threshold: Double, iters: Int = 1,
                    blockProbes: Int = 2): DataFrame = {
    require(blockProbes >= 1 && blockProbes <= k,
      s"blockProbes must be in [1, k], got $blockProbes (k = $k)")
    val points = embs.select(col(idCol).as("id"), col(vecCol).as("v"))
    val centroids = fit(points, k, iters)
    // The pair join is a SELF-join of the probe-exploded table: left
    // un-persisted, Spark recomputes the scan + k-centroid top-c +
    // explode lineage on BOTH join sides — measured 8.3 s vs 2.1 s
    // (persist + join) at sf1/k=40, the bulk of d21's former ×15.6
    // scale ratio. Session-lifetime pin, the ngramJaccardPairs
    // contract: Verify/Bench sweep caches per query.
    val blockedPlan = probeBlocks(points, centroids, blockProbes)
    val blocked = blockedPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.embeddingNearDupPairs(blocked, "v", "id", "cluster_id", threshold)
      .dropDuplicates("id1", "id2")
  }

  /** Each (id, v) point exploded into its `blockProbes` nearest
    * centroids' blocks — the multi-probe blocking side shared by
    * [[semDedupPairs]] (both sides probe) and
    * [[semDedupIncremental]] (only the delta probes). Nearest = desc
    * cos with lower-cid-first ties (the IVF multi-probe idiom) — the
    * kernel's native order, or sort asc by (cos, -cid) + reverse on
    * the expression path.
    */
  private[graft] def probeBlocks(points: DataFrame,
                               centroids: Seq[(Long, Array[Double])],
                               blockProbes: Int): DataFrame =
    if (floatVec(points, "v") && Native.enabled(points, "graft_cos_topc")) {
      points.withColumn("cluster_id",
        explode(transform(cosTopC("v", centroids, blockProbes),
          s => cidAt(centroids, s.getField("idx")))))
    } else {
      val cos = cosOf
      val scored = centroids.map { case (cid, c) =>
        struct(cos(col("v"), array(c.map(lit).toSeq: _*)).as("cos"),
          lit(-cid).as("ncid"))
      }
      points.withColumn("v", raggedGuard("v", centroids.head._2.length))
        .withColumn("cluster_id",
          explode(transform(
            slice(reverse(array_sort(array(scored: _*))), 1, blockProbes),
            s => -s.getField("ncid"))))
    }

  /** INCREMENTAL SemDeDup (d24) — the d16 shape for SEMANTIC dedup,
    * and the consumer story for [[Similarity.ivfIndexTables]]'s
    * persisted index: a delta batch is verdicted for near-dups
    * against the ACCUMULATED corpus without re-running the k-means
    * fit or re-touching history's geometry. This closed the last
    * incremental gap: exact dup (d14), MinHash near-dup (d16), CC
    * (g4), rollups (q36), and the ANN index (s16) all had O(delta)
    * batch forms — SemDeDup (d11/d21) still refit per run.
    *
    * Inputs: the s16 centroid table (k rows, collected — the bounded
    * driver-state class), the INDEXED corpus (id, vector, cluster_id
    * — s16's persisted assignment joined to its vectors, exactly what
    * a cluster-partitioned corpus table stores), and the delta.
    *
    * Blocking (the d11 trade, incremental edition): the DELTA side
    * explodes into its `blockProbes` nearest FROZEN centroids; the
    * index side keeps its ONE persisted home row per point — history
    * is never re-exploded (re-blocking the accumulated corpus per
    * batch would be O(history), exactly what incremental forms
    * exist to avoid), so the delta pays the whole multi-probe. A
    * delta-index pair is found iff the index point's home is among
    * the delta point's probes; delta-delta pairs (an arriving batch
    * can duplicate itself) are found via each side's home block.
    * RECALL CAVEAT vs d11's both-sides-2-probe: a pair whose ONLY
    * shared block is both points' SECOND probe is missed (d11 finds
    * it); the planted spec measures the trade. Candidates form on the
    * usual cluster equi-join; exact-cosine verify (zero-norm → 0)
    * touches candidates only; pairs canonicalize (least, greatest)
    * and dedup.
    *
    * Output: (id1, id2, cosine 4dp) with cosine ≥ `threshold` —
    * d11's pair shape, restricted to pairs touching the delta.
    */
  def semDedupIncremental(centroids: DataFrame, index: DataFrame,
                          delta: DataFrame, vecCol: String, idCol: String,
                          threshold: Double,
                          blockProbes: Int = 2): DataFrame = {
    val rows = centroids.select(col("cluster_id").cast("long"),
      col("centroid")).collect()
    require(rows.nonEmpty, "semDedupIncremental: centroid table is empty")
    val cents: Seq[(Long, Array[Double])] = rows
      .map(r => (r.getLong(0), r.getSeq[Number](1).map(_.doubleValue()).toArray))
      .sortBy(_._1).toSeq
    require(blockProbes >= 1 && blockProbes <= cents.size,
      s"blockProbes must be in [1, k], got $blockProbes (k = ${cents.size})")
    val dot = Native.dotOf(delta)
    val dpoints = delta.select(col(idCol).as("id"), col(vecCol).as("v"))
    val probe = probeBlocks(dpoints, cents, blockProbes)
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    // index home rows ride AS PERSISTED (one row per point); delta
    // home rows join them so within-batch dups also surface
    val build = index
      .select(col(idCol).as("id"), col(vecCol).as("v"), col("cluster_id"))
      .unionByName(assign(dpoints, "v", cents)
        .select(col("id"), col("v"), col("cluster_id")))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val nn = col("a.nrm") * col("b.nrm")
    probe.as("a").join(build.as("b"),
        col("a.cluster_id") === col("b.cluster_id") &&
          col("a.id") =!= col("b.id"))
      .withColumn("cosine",
        when(nn === 0.0, 0.0).otherwise(dot(col("a.v"), col("b.v")) / nn))
      .filter(col("cosine") >= threshold)
      .select(least(col("a.id"), col("b.id")).as("id1"),
        greatest(col("a.id"), col("b.id")).as("id2"),
        round(col("cosine"), 4).as("cosine"))
      .dropDuplicates("id1", "id2")
  }

  /** [[semDedupPairs]] with k DERIVED FROM CORPUS SIZE —
    * k = ceil(n / targetBlock) — the d9/s4-style scale knob for
    * SemDeDup blocking. A PINNED k is quadratic in disguise: blocks
    * hold n/k rows, so the within-block pair join grows as n²/k —
    * measured 58.7 s at sf1 for the declared d12's k=4 (SURVEY §6)
    * where this derived form (k=40 there) runs the same composition
    * in a fraction of that. Scaling k keeps BLOCK SIZES (and so
    * per-block pair volume) constant as the corpus grows; the price
    * is the k-centroid assignment scan, which `graft_cos_topc` makes
    * one compiled O(k·dim) loop per row — the interpreted k-wide
    * expression tree this knob was previously blocked on (k=40 at
    * sf1 measured 144 s behind it, SURVEY §6). `blockProbes` clamps
    * to k when the derived k is smaller (a corpus inside one block
    * cannot multi-probe).
    *
    * HONEST LIMIT of the derived knob: scaling k holds the PAIR JOIN
    * constant per block, but the quadratic term moves into the
    * ASSIGNMENT scan — O(n·k·dim) = O(n²·dim/targetBlock) total, with
    * k centroids collected to the driver and a k·dim literal in the
    * plan. `kCap` bounds all three (at the cap, assignment is back to
    * linear-in-n with ~targetBlock·kCap-row blocks); the cap never
    * binds below n = targetBlock·kCap ≈ 2M rows at the defaults.
    * Beyond the cap the right blocking is no longer k-means at all —
    * hash blocking whose key count scales for free: the LSH family
    * ([[graft.ops.Dedup.embeddingNearDupPairs]] under d8/d9's derived
    * banding) is the declared escape hatch, at LSH's recall contract
    * instead of SemDeDup's cluster-local one.
    *
    * The derivation is one count job; the oracle derives the same
    * k = least(ceil(n/targetBlock), kCap) from count(*) with the same
    * integer rule, so the scale knob itself is oracle-checked at
    * every SF (the s4/d9/s11 precedent).
    */
  def semDedupPairsAuto(embs: DataFrame, vecCol: String, idCol: String,
                        threshold: Double, targetBlock: Int = 512,
                        iters: Int = 1, blockProbes: Int = 2,
                        kCap: Int = 4096): DataFrame = {
    require(targetBlock >= 1, s"targetBlock must be >= 1, got $targetBlock")
    require(kCap >= 1, s"kCap must be >= 1, got $kCap")
    val n = embs.count()
    require(n > 0, "semDedupPairsAuto: corpus is empty")
    val k = math.min(math.ceil(n.toDouble / targetBlock), kCap.toDouble).toInt
    semDedupPairs(embs, vecCol, idCol, k, threshold, iters,
      math.min(blockProbes, k))
  }

  /** Per-cluster summary: size and 4dp mean cosine-to-centroid
    * (cohesion). The mean sums 6dp-rounded cosines in exact decimal —
    * partition-order independent, engine-portable.
    */
  def kmeansSummary(embs: DataFrame, vecCol: String, idCol: String,
                    k: Int, iters: Int = 1): DataFrame =
    kmeansAssign(embs, vecCol, idCol, k, iters)
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_points"),
        fround(sum(fround(col("cos"), 6).cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 4).as("mean_cos"))
      .select(col("cluster_id"), col("n_points"), col("mean_cos"))

  /** Cluster-balanced deterministic sampling: exactly `nPer` rows per
    * k-means cluster (fewer if the cluster is smaller), chosen by
    * md5(id:salt) order — the diversity-sampling step of a curation
    * pipeline (every topic/mode keeps representation no matter how
    * skewed the corpus), with [[graft.ops.Curation]]'s RNG-free
    * portability contract: same rows under any partitioning, and
    * adding documents never evicts a kept one ahead of its hash rank.
    *
    * Scale shape: the per-cluster top-n rides the bounded `graft_topk`
    * aggregate when registered — each map task forwards at most nPer
    * rows per cluster, so the shuffle carries O(nPer · k · partitions)
    * rows, NEVER a per-cluster sort of corpus/k rows (with small k a
    * window over cluster partitions would buffer enormous groups —
    * exactly the degenerate case the bounded aggregate exists for).
    * The fallback is the standard window idiom, the same rows
    * ([[Native.topKOf]]).
    *
    * The hash ranks by the FIRST 52 BITS of the md5 (13 hex digits):
    * exact in double (the aggregate's score type), ties broken by id.
    */
  def clusterSample(embs: DataFrame, vecCol: String, idCol: String,
                    k: Int, nPer: Int, iters: Int = 1,
                    salt: String = "cs"): DataFrame = {
    require(nPer >= 1, s"nPer must be >= 1, got $nPer")
    val assigned = kmeansAssign(embs, vecCol, idCol, k, iters)
    // ascending-hash selection as a DESCENDING score (graft_topk and
    // the window idiom both rank (score desc, id asc))
    val scored = assigned.select(col("cluster_id"), col("id"),
      (lit(0L) - conv(substring(md5(concat(col("id").cast("string"),
          lit(":" + salt))), 1, 13), 16, 10).cast("long"))
        .cast("double").as("hscore"))
    Native.topKOf(scored, "cluster_id", "hscore", "id", nPer)
      .select(col("cluster_id"), col("rank"), col("id"))
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein,
    * SIGIR 1998): greedily pick `k` rows, each maximizing
    * λ·relevance − (1−λ)·max-cosine-to-already-selected — the
    * diversity-aware exemplar pick a curation pipeline uses where a
    * plain relevance top-k would return k near-copies of the same
    * mode. Relevance here is cosine to the corpus's decimal-exact
    * mean vector (the "most representative yet mutually distinct"
    * selection — the no-external-query form); ties break to the
    * lower id.
    *
    * MMR is inherently sequential (pick i+1 depends on picks 1..i),
    * so the loop runs on the driver — but driver state is exactly the
    * k selected rows (the IVF-centroid contract) and every iteration
    * is ONE distributed aggregation: the k selected vectors enter the
    * plan as literals (a broadcast of k·dim doubles), the penalty is
    * a map-side `array_max` over k cosines, and the argmax is a
    * single-row `max(struct(score, -id, …))` partial agg — no window,
    * no sort, no corpus shuffle; k+1 jobs total on a persisted
    * (id, v, rel) projection. Every cosine and the score floor-round
    * to 6dp (the t18 recipe), so the greedy trajectory — not just the
    * final scores — reproduces bit-for-bit in the DuckDB oracle and
    * under any partitioning.
    */
  def mmrSelect(embs: DataFrame, vecCol: String, idCol: String,
                k: Int = 5, lambda: Double = 0.7): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1], got $lambda")
    val spark = embs.sparkSession
    import spark.implicits._
    val cos = cosOf
    val pts = embs.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    // global decimal-exact mean vector: dim rows of driver state
    val cen: Array[Double] = pts
      .select(posexplode(col("v")).as(Seq("d", "x")))
      .select(col("d"), fround(col("x").cast("double"), 6).cast("decimal(18,6)").as("xq"))
      .groupBy("d")
      .agg(fround(sum(col("xq")).cast("double") / count(lit(1)), 6).as("cx"))
      .orderBy("d").collect().map(_.getDouble(1))
    if (cen.isEmpty)
      return Seq.empty[(Int, Long, Double, Double)]
        .toDF("rank", "vec_id", "relevance", "mmr_score")
    val cenLit = array(cen.map(lit).toSeq: _*)
    val scored = pts.withColumn("rel", fround(cos(col("v"), cenLit), 6))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val picked = scala.collection.mutable.ArrayBuffer[(Long, Double, Double)]()
    val pickedVecs = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    var exhausted = false
    while (picked.size < k && !exhausted) {
      val penalty =
        if (pickedVecs.isEmpty) lit(0.0)
        else array_max(array(pickedVecs.map(s =>
          fround(cos(col("v"), array(s.map(lit).toSeq: _*)), 6)).toSeq: _*))
      val best = scored
        .filter(if (picked.isEmpty) lit(true)
                else !col("id").isin(picked.map(_._1).toSeq: _*))
        .withColumn("score",
          fround(lit(lambda) * col("rel") - lit(1.0 - lambda) * penalty, 6))
        .agg(max(struct(col("score").as("s"), (-col("id")).as("nid"),
          col("rel").as("r"), col("v").as("vv"))).as("b"))
        .select(col("b.s"), col("b.nid"), col("b.r"), col("b.vv"))
        .collect()
      if (best.isEmpty || best(0).isNullAt(0)) exhausted = true
      else {
        val r = best(0)
        picked += ((-r.getLong(1), r.getDouble(2), r.getDouble(0)))
        pickedVecs += r.getSeq[Number](3).map(_.doubleValue()).toArray
      }
    }
    scored.unpersist()
    picked.toSeq.zipWithIndex
      .map { case ((id, rel, sc), i) => (i + 1, id, rel, sc) }
      .toDF("rank", "vec_id", "relevance", "mmr_score")
  }
}
