package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph operators over pair tables. The near-dup family (d2-d5)
  * emits PAIRS, but a dedup pipeline must act on CLUSTERS: if A~B and
  * B~C, keeping "one of each pair" would still keep two of {A,B,C}.
  * Connected components turns the pair graph into (id → component)
  * so exactly one canonical doc survives per transitive cluster —
  * the keep-one-per-cluster step every production dedup run ends with
  * (the cluster-level generalization of the reference's keyed
  * ON CONFLICT DO NOTHING insert, `src/db/incidents.py:41-46`).
  */
object Graph {

  /** Edge-count bound under which [[connectedComponents]] solves the
    * graph with a driver-side union-find instead of iterative
    * distributed propagation — the broadcast-join decision applied to
    * CC: Spark itself collects up to `autoBroadcastJoinThreshold`
    * (10 MB) of runtime data to the driver whenever that makes the
    * distributed plan collapse, and a ≤ 64 Ki-edge pair list (~1 MB of
    * longs) is comfortably inside that class while the distributed
    * alternative costs 6+ scheduled shuffle rounds REGARDLESS of
    * cluster size (scheduling floor, not data). The gate is a runtime
    * `count()` over the already-checkpointed pair table (one cheap
    * job — the checkpoint scan the empty-input probe paid anyway), so
    * at 100 TB, where edge sets are billions of rows, the distributed
    * path runs exactly as before; the driver path exists for the
    * contracted DELTA graphs of [[incrementalComponents]] (delta-sized
    * by design) and the dictionary-scale entity/cluster graphs —
    * the cases measured at 70-90 % pure scheduling overhead.
    */
  val DriverCcEdgeThreshold: Int = 1 << 16

  /** Union-find with union-by-min over a collected pair list: returns
    * (id, comp) with comp = min vertex id of the component — exactly
    * [[connectedComponents]]'s labeling (min-label propagation's fixed
    * point is unique, so the two paths are equal BY VALUE, asserted in
    * GraphWinnowSpec). Attaching the larger root under the smaller
    * keeps every root the component min; path halving bounds the scan.
    */
  private def driverComponents(spark: org.apache.spark.sql.SparkSession,
                               edges: Array[(Long, Long)]): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def add(x: Long): Unit = if (!parent.contains(x)) parent.update(x, x)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent.update(r, parent(parent(r))); r = parent(r) }
      r
    }
    edges.foreach { case (a, b) =>
      add(a); add(b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent.update(rb, ra) else parent.update(ra, rb)
      }
    }
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.{StructType, StructField, LongType}
    val rows: Seq[org.apache.spark.sql.Row] =
      parent.keys.toArray.sorted.toSeq
        .map(id => org.apache.spark.sql.Row(id, find(id)))
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("id", LongType), StructField("comp", LongType))))
  }

  /** Connected components by BLOCK-UNROLLED min-label propagation.
    *
    * Each propagation round takes, per vertex, the min component
    * label over itself and its neighbors — one shuffle join
    * (messages) plus one partial-agg shuffle (min per vertex).
    * `blockRounds` rounds are composed LAZILY into a single plan and
    * materialized with ONE action (`localCheckpoint`): Spark executes
    * the whole block as one job, so the per-round cost is a pipeline
    * stage, not a scheduled job — driver round-trip latency is paid
    * once per block instead of once per round (measured 3-10x on the
    * sf0.1 near-dup graph, where per-round actions dominated).
    *
    * The pair input is materialized ONCE up front (`localCheckpoint`):
    * the generating subtree (e.g. d5's cosine-verified pair join) feeds
    * both the vertex and edge tables and must not re-execute per
    * consumer — before this the d5 subtree ran twice inside the first
    * block (measured ~2x the whole CC cost at sf0.1).
    *
    * Convergence is EXACT and detected WITHIN a block, at zero extra
    * actions: every round's plan carries a `Dataset.observe` metric
    * counting vertices whose label shrank that round (the self-loop
    * message doubles as the previous label, so no join against the
    * block-entry labels is needed). All blockRounds metrics are
    * collected by the block's single checkpoint action; labels only
    * decrease and a zero-change round implies a stable labeling
    * (label(v) = min over closed neighborhood ⇒ labels constant along
    * every path ⇒ label = component min), so the first round observing
    * zero changes ends the loop — no trailing "did anything change"
    * block, no per-block count() job. `blockRounds` trades per-block
    * stage overhead against wasted post-convergence rounds: 6
    * measured best on near-dup graphs (diameter ≤ 5 converges AND is
    * detected inside one block; every round costs ~2 scheduled stages
    * even when AQE coalesces the tiny shuffles).
    *
    * Scale shape: total rounds = graph diameter; near-dup graphs are
    * piles of small dense clusters (diameter 2-4 — one block), so the
    * whole computation is typically ONE job. Each round shuffles
    * O(edges). `localCheckpoint` per block keeps lineage
    * O(blockRounds), bounded across iterations. If the graph turns out
    * to be long-diameter (the round budget runs out), the computation
    * DEGRADES rather than dies: it restarts as
    * [[connectedComponentsAlternating]] — O(log n) rounds — over the
    * already-checkpointed pair table.
    *
    * Returns (id, component) for every vertex that appears in
    * `pairs`; `component` = min vertex id reachable from `id`.
    */
  def connectedComponents(pairs: DataFrame, srcCol: String, dstCol: String,
                          maxRounds: Int = 64, blockRounds: Int = 6,
                          driverThreshold: Int = DriverCcEdgeThreshold): DataFrame = {
    val half = pairs
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .localCheckpoint(true)
    // Size gate (see [[DriverCcEdgeThreshold]]): one count over the
    // checkpointed pair table decides the path — it doubles as the
    // empty-input probe, so the gate costs no extra job. NOTE the
    // maxRounds/fallback contract is a property of the DISTRIBUTED
    // algorithm: the driver path always converges (union-find has no
    // round budget), so callers testing the fallback pass
    // driverThreshold = 0.
    if (driverThreshold > 0) {
      val n = half.count()
      if (n == 0)
        return half.select(col("a").as("id"), col("a").as("comp"))
      if (n <= driverThreshold) {
        val rows = half.collect()
        // null endpoints (null inputs, or non-numeric ids the long cast
        // nulled) fall through to the distributed path — the PR/LPA
        // gates' rule, so a small dirty graph keeps the distributed
        // semantics instead of throwing on the driver.
        if (rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
          return driverComponents(half.sparkSession,
            rows.map(r => (r.getLong(0), r.getLong(1))))
      }
    }
    // empty graph: converged by definition. Short-circuit BEFORE any
    // observe-based block — an empty plan collapses under
    // PropagateEmptyRelation and takes its CollectMetrics nodes with
    // it, so the convergence metrics must never be relied on here.
    if (half.isEmpty)
      return half.select(col("a").as("id"), col("a").as("comp"))
    val verts = half.select(col("a").as("id")).union(half.select(col("b").as("id"))).distinct()
    // undirected (both directions) PLUS a flagged self-loop per vertex:
    // the self-loop folds "keep my own label" into the same join, so
    // each unrolled round references the running labels EXACTLY ONCE —
    // a `cur.union(msgs(cur))` formulation references it twice, which
    // doubles the lazy plan per level and recomputes round 1
    // 2^blockRounds times (measured: 83 s vs 1.5 s at sf0.1). The
    // `self` flag lets each round's aggregate also surface the
    // vertex's PREVIOUS label (the self-loop message), which is what
    // the per-round observe() convergence metric compares against.
    // Pre-partitioning by the join key means every round's join reuses
    // this layout; only the slim label table reshuffles per round.
    val edges = half.select(col("a"), col("b"), lit(false).as("self"))
      .union(half.select(col("b").as("a"), col("a").as("b"), lit(false).as("self")))
      .union(verts.select(col("id").as("a"), col("id").as("b"), lit(true).as("self")))
      .repartition(col("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = verts.withColumn("comp", col("id")).localCheckpoint(true)
    var rounds = 0
    var changed = 1L
    while (changed > 0 && rounds < maxRounds) {
      // Every block is blockRounds long, the first included. A shorter
      // first block MEASURED slower on the d12 / g4 cluster graphs at
      // sf0.1: their 2-probe near-dup chains need 4-5 rounds, so a
      // 3-round first block RAISED the cost 4.2 -> 6.8 s (the second
      // block fires).
      val obs = Seq.fill(blockRounds)(Observation())
      var cur = labels
      for (i <- 0 until blockRounds)
        cur = edges.join(cur, col("b") === col("id"))
          .select(col("a"), col("comp"), col("self"))
          .groupBy("a").agg(min("comp").as("comp"),
            min(when(col("self"), col("comp"))).as("prev"))
          .observe(obs(i),
            coalesce(sum(when(col("comp") < col("prev"), 1L)), lit(0L)).as("changed"))
          .select(col("a").as("id"), col("comp"))
      labels = cur.localCheckpoint(true)
      // A missing metric is ANOMALOUS here (the empty-input case — the
      // one legitimate way a CollectMetrics node disappears — was
      // short-circuited above), so it must not read as "0 changes =
      // converged": default to a -1 sentinel, which never matches the
      // contains(0L) convergence test and so routes the run to the
      // alternating fallback instead of silently returning unstable
      // labels.
      val perRound = obs.map(_.get.get("changed").map(_.asInstanceOf[Long]).getOrElse(-1L))
      rounds += blockRounds
      changed = if (perRound.contains(0L)) 0L else perRound.last
    }
    edges.unpersist()
    // diameter exceeded the propagation budget — restart on the
    // O(log n) algorithm; `half` is checkpointed, so the pair
    // generator does not re-execute
    if (changed != 0) connectedComponentsAlternating(half, "a", "b")
    else labels
  }

  /** Connected components by ALTERNATING large-star / small-star — the
    * O(log n)-round algorithm (Kiveris et al., "Connected Components
    * in MapReduce and Beyond", SoCC'14) for graphs whose diameter is
    * NOT small: chains, lattices, adversarial inputs. Min-label
    * propagation ([[connectedComponents]]) pays one round per unit of
    * diameter; these two operations contract components exponentially
    * instead.
    *
    * Edges are kept oriented high→low (node, parent):
    *  - large-star: per node u, every STRICTLY LARGER neighbor is
    *    re-pointed at m = min(N(u) ∪ {u});
    *  - small-star: per node u (edges oriented from u to its smaller
    *    neighbors), u and all its neighbors except the min are pointed
    *    at m = min(N(u) ∪ {u}).
    * Both preserve connectivity; their fixed point is one star per
    * component centered at the component min, reached in O(log n)
    * iterations. Each iteration is two groupBy/join rounds over
    * O(edges) rows; convergence is an exact edge-set comparison folded
    * INTO the iteration's own checkpoint action (same design as the
    * propagation form's in-block observe): the next edge set is
    * left-joined against the previous one and the checkpoint's
    * `observe` collects |next| and |next \ edges| — fresh = 0 means
    * next ⊆ edges, and |next| = |edges| then forces set equality, so
    * the test is exact at ZERO extra jobs (previously two anti-join
    * `isEmpty` actions per iteration on top of the two checkpoints).
    *
    * Same output contract as [[connectedComponents]]: (id, comp) with
    * comp = min reachable vertex id. Used as the fallback when the
    * propagation form would exceed its round budget.
    */
  def connectedComponentsAlternating(pairs: DataFrame, srcCol: String,
                                     dstCol: String): DataFrame = {
    // O(log n) iterations: 32 covers any graph that fits a cluster
    val maxIters = 32
    // canonicalize ONCE (and checkpoint: the generating subtree must
    // not re-execute); keep the full vertex set before dropping
    // self-pairs so vertices that appear ONLY as (v, v) still get a
    // label row — same output contract as the propagation form
    val base = pairs
      .select(greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .distinct()
      .localCheckpoint(true)
    val verts = base.select(col("a").as("id")).union(base.select(col("b").as("id"))).distinct()
    // the initial edge count rides the materializing checkpoint via
    // observe (no separate count job); -1 = metric missing (anomalous
    // for this non-empty-source plan) → recover with an explicit count
    val obs0 = Observation()
    var edges = base.filter(col("a") =!= col("b"))
      .observe(obs0, count(lit(1)).as("n")).localCheckpoint(true)
    var edgeCount = obs0.get.get("n").map(_.asInstanceOf[Long]).getOrElse(-1L)
    if (edgeCount < 0) edgeCount = edges.count()
    var iters = 0
    var converged = edgeCount == 0L
    while (!converged && iters < maxIters) {
      // large-star over the undirected view: center u, m = min closed
      // neighborhood; larger neighbors point at m. Checkpointed: the
      // small-star step reads it twice (ssMin + the join), and an
      // unmaterialized ls would run its join+distinct subtree once
      // per consumer.
      val dir = edges.select(col("a"), col("b"))
        .union(edges.select(col("b").as("a"), col("a").as("b")))
      val lsMin = dir.groupBy("a").agg(min("b").as("mb"))
      val ls = dir.join(lsMin, "a")
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), least(col("a"), col("mb")).as("b"))
        .distinct()
        .localCheckpoint(true)
      // small-star on the high→low edges: neighbors (all smaller) and
      // the center itself point at the min neighbor. The convergence
      // comparison rides this plan: mark which next-edges already exist
      // (left join against the checkpointed previous set — distinct, so
      // no row multiplication) and let the checkpoint's observe count
      // them; the marker column is projected away before the checkpoint
      // result is reused.
      val ssMin = ls.groupBy("a").agg(min("b").as("m"))
      val obs = Observation()
      val next = ls.join(ssMin, "a")
        .filter(col("b") =!= col("m"))
        .select(col("b").as("a"), col("m").as("b"))
        .union(ssMin.select(col("a"), col("m").as("b")))
        .distinct()
        .join(edges.select(col("a"), col("b"), lit(true).as("__old")),
          Seq("a", "b"), "left_outer")
        .observe(obs, count(lit(1)).as("n"),
          coalesce(sum(when(col("__old").isNull, 1L)), lit(0L)).as("fresh"))
        .select(col("a"), col("b"))
        .localCheckpoint(true)
      // missing metrics (anomalous: the source is a materialized
      // checkpoint, never a provably-empty relation) read as the -1
      // sentinel → "not converged", recovered by an explicit count, so
      // an anomalous run iterates/faults loudly instead of converging
      // silently with unstable edges
      val n = obs.get.get("n").map(_.asInstanceOf[Long]).getOrElse(-1L)
      val fresh = obs.get.get("fresh").map(_.asInstanceOf[Long]).getOrElse(-1L)
      converged = n >= 0 && fresh == 0L && n == edgeCount
      edgeCount = if (n >= 0) n else next.count()
      edges = next
      iters += 1
    }
    require(converged,
      s"connectedComponentsAlternating did not converge in $maxIters iterations")
    // fixed point = star per component: every non-min vertex carries an
    // edge to its component min; roots label themselves — and vertices
    // with no non-self edge are their own singleton components
    val star = edges.select(col("a").as("id"), col("b").as("comp"))
      .union(edges.select(col("b").as("id"), col("b").as("comp")))
      .distinct()
    star.union(
      verts.join(star.select("id"), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("comp")))
  }

  /** The deduped corpus itself: every document that is NOT a
    * non-canonical member of some near-dup cluster. This is the
    * pipeline's end use — pair generators (d2-d5) feed
    * [[clusterDedup]], and the left-anti join drops all but one doc
    * per transitive cluster while untouched docs pass through.
    * Scale shape: one anti-join on the id, broadcast-able because the
    * drop list is bounded by the duplicate count, not the corpus.
    */
  def dropNearDups(docs: DataFrame, idCol: String, pairs: DataFrame,
                   srcCol: String, dstCol: String): DataFrame = {
    val drop = clusterDedup(pairs, srcCol, dstCol)
      .filter(col("keep") === 0).select(col("id").as("__drop_id"))
    docs.join(drop, docs(idCol) === col("__drop_id"), "left_anti")
  }

  /** PageRank by power iteration over an explicit (src, dst) edge
    * table — the graph-centrality curation primitive: over a
    * chunk-sharing or near-dup doc graph it ranks CANONICAL hubs
    * (which copy is the one everything else duplicates), and over any
    * reference graph it is the standard importance-weighting signal
    * for sampling decisions.
    *
    * Semantics (deterministic, engine-portable): pr₀ = round(1/N, 6);
    * each iteration sends round(pr/outdeg, 6) along every out-edge,
    * accumulates arrivals in EXACT decimal (the t18 recipe — a double
    * sum's value depends on partitioning), and sets
    * pr' = round((1−d)/N + d·Σ, 6). Nodes without out-edges leak
    * their mass (the standard simplified treatment — with a bounded
    * iteration count the ranking is unaffected); nodes without
    * in-edges settle at the teleport floor.
    *
    * Scale shape: per iteration ONE join shuffle (edges × state on
    * src, both sides hash-partitioned on the join key) plus ONE
    * partial-agg shuffle (sum per dst) — O(E) traffic, never O(N²);
    * degree rides in the state table so no extra join per round.
    * Edges are materialized once up front (they feed the degree table
    * and every iteration), and state is `localCheckpoint`ed every 5
    * rounds so lineage stays bounded at any iteration count. Driver state is one Long (N).
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int = 3,
               damping: Double = 0.85,
               driverThreshold: Int = DriverCcEdgeThreshold): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(damping > 0.0 && damping < 1.0,
      s"damping must be in (0, 1), got $damping")
    val checkpointEvery = 5
    import graft.functions.num.fround
    val ids = nodes.select(col(nodes.columns.head).as("id"))
    val e = edges
      .select(col(edges.columns(0)).as("src"), col(edges.columns(1)).as("dst"))
      .localCheckpoint(true)
    val n = ids.count()
    require(n > 0, "pageRank needs a non-empty node table")
    // Size gate (the [[DriverCcEdgeThreshold]] broadcast-class rule,
    // r14): a fixed-iteration 6dp-rounded PR over a bounded graph is a
    // pure integer/micro-unit recurrence — every arithmetic step below
    // is replicated EXACTLY (same double ops in the same order, decimal
    // sums as long micros), so driver and distributed states are equal
    // by value (parity spec in GraphWinnowSpec). Gated additionally on
    // LONG ids, no nulls and distinct node ids — anything else falls
    // through to the distributed path rather than risking divergent
    // join semantics.
    if (driverThreshold > 0 && n <= driverThreshold &&
        ids.schema.head.dataType == org.apache.spark.sql.types.LongType &&
        e.schema.forall(_.dataType == org.apache.spark.sql.types.LongType)) {
      val m = e.count()
      if (m <= driverThreshold) {
        val idRows = ids.collect()
        val eRows = e.collect()
        if (idRows.forall(!_.isNullAt(0)) &&
            eRows.forall(r => !r.isNullAt(0) && !r.isNullAt(1)) &&
            idRows.length == idRows.iterator.map(_.getLong(0)).toSet.size) {
          return driverPageRank(nodes.sparkSession,
            idRows.map(_.getLong(0)),
            eRows.map(r => (r.getLong(0), r.getLong(1))),
            n, iters, damping)
        }
      }
    }
    val teleport = (1.0 - damping) / n
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    var state = ids.join(deg, Seq("id"), "left")
      .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"),
        fround(lit(1.0 / n), 6).as("pr"))
      .localCheckpoint(true)
    for (i <- 1 to iters) {
      // deg >= 1 on every joined row: src appears in e, so it has an
      // out-edge — the division is safe by construction.
      val contribs = e.join(state, e("src") === state("id"))
        .select(col("dst"),
          fround(col("pr") / col("deg"), 6).cast("decimal(18,6)").as("c"))
        .groupBy(col("dst").as("id")).agg(sum(col("c")).as("s"))
      val next = state.join(contribs, Seq("id"), "left")
        .select(col("id"), col("deg"),
          fround(lit(teleport) + lit(damping) *
            coalesce(col("s").cast("double"), lit(0.0)), 6).as("pr"))
      state =
        if (i % checkpointEvery == 0 && i < iters) next.localCheckpoint(true)
        else next
    }
    state
  }

  /** The driver replication of [[pageRank]]'s per-iteration arithmetic
    * — bit-exact by construction:
    *  - `fround(x, 6)` = `floor(x·1e6 + 0.5).toLong / 1e6` (Catalyst
    *    Floor on double yields LONG; the divide promotes to double);
    *  - the contribution cast double → decimal(18,6) is
    *    `java.math.BigDecimal.valueOf(d).setScale(6, HALF_UP)`
    *    (Catalyst Cast goes through scala BigDecimal(d) =
    *    valueOf(d), then changePrecision HALF_UP) — held as long
    *    MICRO-units;
    *  - the per-dst decimal sum is a long micro sum (exact, order-free
    *    — the reason the distributed form is replicable at all);
    *  - `s.cast(double)` = BigDecimal.valueOf(micros, 6).doubleValue;
    *  - pr' = fround(teleport + damping·s, 6) with the same
    *    association.
    * Join semantics replicated: deg counts EVERY edge row (duplicates
    * vote twice, as in the DF form); contributions only flow from
    * srcs that are nodes; dsts outside the node table are dropped at
    * the state join.
    */
  private def driverPageRank(spark: org.apache.spark.sql.SparkSession,
                             ids: Array[Long], edges: Array[(Long, Long)],
                             n: Long, iters: Int,
                             damping: Double): DataFrame = {
    val teleport = (1.0 - damping) / n
    def fround6(x: Double): Double = math.floor(x * 1e6 + 0.5).toLong.toDouble / 1e6
    def toMicros(d: Double): Long =
      java.math.BigDecimal.valueOf(d)
        .setScale(6, java.math.RoundingMode.HALF_UP)
        .movePointRight(6).longValueExact()
    val idSet = new java.util.HashSet[Long](ids.length * 2)
    ids.foreach(idSet.add)
    val deg = scala.collection.mutable.LongMap.empty[Long]
    edges.foreach { case (s, _) => deg.update(s, deg.getOrElse(s, 0L) + 1L) }
    val pr = scala.collection.mutable.LongMap.empty[Double]
    val pr0 = fround6(1.0 / n)
    ids.foreach(id => pr.update(id, pr0))
    for (_ <- 1 to iters) {
      val sums = scala.collection.mutable.LongMap.empty[Long]
      edges.foreach { case (s, d) =>
        // inner-join semantics: only srcs present in the state emit
        if (idSet.contains(s))
          sums.update(d, sums.getOrElse(d, 0L) +
            toMicros(fround6(pr(s) / deg(s))))
      }
      ids.foreach { id =>
        val s = sums.get(id) match {
          case Some(micros) =>
            java.math.BigDecimal.valueOf(micros, 6).doubleValue
          case None => 0.0
        }
        pr.update(id, fround6(teleport + damping * s))
      }
    }
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.{StructType, StructField, LongType, DoubleType}
    val rows: Seq[org.apache.spark.sql.Row] = ids.toSeq.map(id =>
      org.apache.spark.sql.Row(id, deg.getOrElse(id, 0L), pr(id)))
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("id", LongType), StructField("deg", LongType),
      StructField("pr", DoubleType))))
  }

  /** Per-vertex triangle count + local clustering coefficient over an
    * undirected pair table — the density diagnostics of a near-dup /
    * entity-match graph (a high-coefficient vertex sits inside a dense
    * duplicate clique; a high-degree, zero-triangle vertex is a hub
    * linking unrelated docs — usually boilerplate worth inspecting
    * before cluster-collapsing with [[clusterDedup]]).
    *
    * Algorithm: degree-ordered compact-forward (the MapReduce-standard
    * form). Edges canonicalize to min<max and dedup; each edge then
    * ORIENTS from its (degree, id)-smaller endpoint to the larger, so
    * every vertex's out-degree is O(sqrt(E)) regardless of hubs — the
    * skew bound that makes the wedge join safe at scale (a raw wedge
    * join on an N-degree hub is N² rows; oriented, a hub receives
    * edges instead of emitting them). Wedges form on one self-join of
    * the oriented edges grouped by the pivot (the triangle's
    * (deg,id)-min vertex), close on one more equi-join against the
    * oriented edge set, and every triangle materializes EXACTLY once
    * as (pivot, x, y). Per-vertex counts are one explode + partial-agg
    * shuffle; coefficient = 2T / (deg · (deg−1)) floor-rounded 4dp
    * (degree < 2 → 0.0). Output: one row per vertex incident to at
    * least one edge.
    */
  def triangleStats(pairs: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    import graft.functions.num.fround
    val e = pairs
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val deg = e.select(col("a").as("id"))
      .unionAll(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // orient: (deg, id)-smaller endpoint -> larger; carry the dst's
    // (deg, id) so the wedge join can keep x strictly before y in the
    // SAME total order the closing edge is oriented by
    val withDeg = e
      .join(deg.withColumnRenamed("id", "a").withColumnRenamed("deg", "da"), Seq("a"))
      .join(deg.withColumnRenamed("id", "b").withColumnRenamed("deg", "db"), Seq("b"))
    val oriented = withDeg.select(
      when(struct(col("da").as("d"), col("a").as("i")) < struct(col("db").as("d"), col("b").as("i")), col("a"))
        .otherwise(col("b")).as("src"),
      when(struct(col("da").as("d"), col("a").as("i")) < struct(col("db").as("d"), col("b").as("i")), col("b"))
        .otherwise(col("a")).as("dst"),
      when(struct(col("da").as("d"), col("a").as("i")) < struct(col("db").as("d"), col("b").as("i")),
          struct(col("db").as("d"), col("b").as("i")))
        .otherwise(struct(col("da").as("d"), col("a").as("i"))).as("dk"))
      // three consumers (both wedge sides + the closing join) — pin the
      // oriented edge table once so the degree joins don't run 3x
      .localCheckpoint(true)
    val tri = oriented.as("o1").join(oriented.as("o2"),
        col("o1.src") === col("o2.src") && col("o1.dk") < col("o2.dk"))
      .select(col("o1.src").as("w"), col("o1.dst").as("x"), col("o2.dst").as("y"))
      .join(oriented.select(col("src").as("x"), col("dst").as("y")), Seq("x", "y"))
    val triPerNode = tri
      .select(explode(array(col("w"), col("x"), col("y"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    deg.join(triPerNode, Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") < 2, lit(0.0)).otherwise(
          fround(lit(2.0) * coalesce(col("n_tri"), lit(0L)).cast("double") /
            (col("deg").cast("double") * (col("deg") - 1).cast("double")), 4))
          .as("clust_coef"))
  }

  /** Cluster-level dedup verdict from a pair table: every vertex with
    * its component, the component size, and keep = 1 for the one
    * canonical (min-id) member. Component sizes come from a window
    * over the component key — components are near-dup clusters, so
    * partitions are small and skew-free by construction.
    */
  def clusterDedup(pairs: DataFrame, srcCol: String, dstCol: String,
                   maxRounds: Int = 64): DataFrame = {
    val cc = connectedComponents(pairs, srcCol, dstCol, maxRounds)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("component")
    cc.select(col("id"), col("comp").as("component"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("keep", when(col("id") === col("component"), 1).otherwise(0))
  }

  /** COMMUNITY detection by synchronous label propagation (Raghavan,
    * Albert & Kumara, Phys. Rev. E 76:036106, 2007) — the
    * finer-than-components view of a near-dup / entity graph:
    * connected components merge everything a chain of pairs touches
    * (one boilerplate hub fuses unrelated clusters into a giant
    * component), while LPA splits such a component at its sparse cuts,
    * because a vertex adopts the label its NEIGHBORHOOD votes for, not
    * the min of everything reachable.
    *
    * Determinism (classic LPA is run-order random — useless for a
    * reproducible pipeline or a SQL oracle): updates are SYNCHRONOUS
    * (iteration i+1 reads only iteration i's labels — no intra-round
    * order), the tie-break is fixed (max neighbor-vote count, then
    * SMALLEST label), and the round count is a parameter rather than
    * a convergence test, so the output is a pure function of
    * (graph, iters). Labels init to the vertex id.
    *
    * Per round: one join shuffle (each directed edge delivers its
    * src's current label to dst) + one partial-agg shuffle per vote
    * count + one partial-agg argmax per vertex via
    * `min(struct(-count, label))` — O(E) traffic, no windows, no
    * driver state; `localCheckpoint` every 2 rounds bounds lineage
    * like [[pageRank]]. Vertices = edge
    * endpoints (an isolated doc is its own community by definition).
    *
    * Returns (id, label, n_members): the converged-after-`iters`
    * community label and its community size.
    */
  def labelPropagation(pairs: DataFrame, srcCol: String, dstCol: String,
                       iters: Int = 3,
                       driverThreshold: Int = DriverCcEdgeThreshold): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val checkpointEvery = 2
    // canonicalize + dedup so a pair listed twice (or in both
    // directions) votes once per direction, then expand to directed
    // edges; checkpoint once — the edge table feeds every round
    val und = pairs
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val e = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true)
    // Size gate (the [[DriverCcEdgeThreshold]] broadcast-class rule,
    // r14): synchronous LPA with the fixed (max count, min label)
    // tie-break is pure integer arithmetic — a bounded edge set is
    // solved on the driver with the identical vote/argmax recurrence
    // (parity spec in GraphWinnowSpec). LONG ids only; anything else
    // (or any null endpoint) falls through to the distributed path.
    if (driverThreshold > 0 &&
        e.schema.forall(_.dataType == org.apache.spark.sql.types.LongType)) {
      val m = e.count()
      if (m <= driverThreshold) {
        val eRows = e.collect()
        if (eRows.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
          return driverLabelProp(pairs.sparkSession,
            eRows.map(r => (r.getLong(0), r.getLong(1))), iters)
      }
    }
    var state = e.select(col("src").as("id"))
      .distinct().withColumn("label", col("id"))
    for (i <- 1 to iters) {
      val votes = e.join(state, col("src") === col("id"))
        .groupBy(col("dst").as("vid"), col("label"))
        .agg(count(lit(1)).as("c"))
      // argmax by (vote count, smallest label): struct compare is
      // positional, so negating the COUNT (always numeric — it is a
      // count(*)) turns lexicographic min into the (max count, min
      // label) rule while the label field passes through un-negated —
      // order-safe for ANY orderable label/vertex-id type (string ids
      // included), unlike negating the label itself
      val next = votes.groupBy(col("vid").as("id"))
        .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("m"))
        .select(col("id"), col("m.l").as("label"))
      state =
        if (i % checkpointEvery == 0 && i < iters) next.localCheckpoint(true)
        else next
    }
    val sizes = state.groupBy("label").agg(count(lit(1)).as("n_members"))
    state.join(sizes, Seq("label")).select("id", "label", "n_members")
  }

  /** The driver replication of [[labelPropagation]]'s synchronous
    * vote/argmax recurrence — pure integer arithmetic, so equality
    * with the distributed form is by value: edges arrive already
    * canonicalized + deduped + expanded to both directions (the
    * collected checkpoint), every endpoint starts labeled with itself,
    * each round counts in-neighbor label votes per vertex and keeps
    * (max count, min label). Community sizes are counted over the
    * final labels exactly like the closing groupBy.
    */
  private def driverLabelProp(spark: org.apache.spark.sql.SparkSession,
                              edges: Array[(Long, Long)],
                              iters: Int): DataFrame = {
    var label = scala.collection.mutable.LongMap.empty[Long]
    edges.foreach { case (s, _) => label.update(s, s) }
    for (_ <- 1 to iters) {
      // votes per (dst, label); then argmax by (count desc, label asc)
      val votes = new java.util.HashMap[(Long, Long), Long]()
      edges.foreach { case (s, d) =>
        val k = (d, label(s))
        votes.merge(k, 1L, (a, b) => a + b)
      }
      val next = scala.collection.mutable.LongMap.empty[(Long, Long)]
      votes.forEach { (k, c) =>
        val (d, l) = k
        next.get(d) match {
          case Some((bc, bl)) if bc > c || (bc == c && bl <= l) => ()
          case _ => next.update(d, (c, l))
        }
      }
      val out = scala.collection.mutable.LongMap.empty[Long]
      next.foreach { case (d, (_, l)) => out.update(d, l) }
      label = out
    }
    val sizes = scala.collection.mutable.LongMap.empty[Long]
    label.foreach { case (_, l) => sizes.update(l, sizes.getOrElse(l, 0L) + 1L) }
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.{StructType, StructField, LongType}
    val rows: Seq[org.apache.spark.sql.Row] =
      label.toSeq.sortBy(_._1).map { case (id, l) =>
        org.apache.spark.sql.Row(id, l, sizes(l)) }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("id", LongType), StructField("label", LongType),
      StructField("n_members", LongType))))
  }

  /** INCREMENTAL connected components: merge a batch of NEW edges into
    * an existing `(id, comp)` labeling — the daily-crawl shape for the
    * GRAPH side of dedup (d14/d16 give it to the pair finders; this
    * gives it to the cluster step). Recomputing CC from scratch rescans
    * and re-iterates the full history graph; at 100 TB the history is
    * the corpus, so the incremental form must touch it only
    * LINEARLY — never per-round.
    *
    * Mechanism: every old component is CONTRACTED to its label (old
    * labels are component-min ids, so they are valid vertex names);
    * each new edge maps its endpoints to their old labels (or
    * themselves if unseen) via one join against the labeling; CC then
    * runs on that contracted DELTA graph, whose size is bounded by the
    * new-edge count — the iterative part never sees the base graph.
    * Final relabel = one broadcast join of the (old label → merged
    * label) table, sized by delta endpoints, against the base
    * labeling. Correctness of min-labels: old labels are the min ids
    * of their components, so the min over a merged set of labels and
    * new ids IS the global min id of the merged component — the output
    * equals from-scratch CC over (base edges ∪ new edges), which is
    * exactly what the oracle checks.
    *
    * Returns (id, comp) covering every base vertex and every new-edge
    * endpoint.
    */
  def incrementalComponents(labels: DataFrame, idCol: String, compCol: String,
                            newEdges: DataFrame, srcCol: String,
                            dstCol: String, strict: Boolean = false,
                            driverThreshold: Int = DriverCcEdgeThreshold): DataFrame = {
    // Precondition guard: correctness REQUIRES component-min labels
    // (the merge takes mins over labels∪ids, valid only when each
    // label IS the min member id). A labeling from another source with
    // arbitrary representatives would silently diverge from
    // from-scratch CC — so the necessary half of the invariant
    // (comp <= id, no label exceeds any member) is checked PER ROW,
    // embedded in the scan the joins already make: assert_true returns
    // null on success (coalesce keeps the row), throws on the first
    // violation. No extra pass, no shuffle — the full min(id)-per-comp
    // aggregate would cost a shuffle over the 100 TB base labeling to
    // re-prove what its producer (connectedComponents) guarantees.
    val base0 = labels.select(col(idCol).cast("long").as("id"),
        col(compCol).cast("long").as("comp"))
      .filter(coalesce(
        assert_true(col("comp") <= col("id"), lit(
          "incrementalComponents: comp labels must be component-min ids " +
            "(found comp > id)")),
        lit(true)))
    // `strict` adds the SUFFICIENT half: every comp value must exist as
    // an id in the labeling (a representative that is a smaller NON-
    // member id passes the per-row check but still diverges), and ids
    // must be UNIQUE (a malformed labeling with duplicate id rows —
    // exactly the untrusted-producer input strict targets — would
    // otherwise pass both assertions while the membership join fans
    // base rows out into the merge). One groupBy over the slim
    // (id, comp) projection serves both: per-id counts trip the
    // duplicate check, and its (already-distinct) keys are the rep
    // side of the membership join — so strict costs one extra
    // exchange, opt-in off the default hot path.
    val base = if (!strict) base0 else {
      val ids = base0.groupBy(col("id").as("rep"))
        .agg(count(lit(1)).as("graft_idn"))
        .filter(coalesce(
          assert_true(col("graft_idn") === 1, lit(
            "incrementalComponents (strict): labeling has duplicate id " +
              "rows (ids must be unique)")),
          lit(true)))
        .select("rep")
      base0.join(ids, col("comp") === col("rep"), "left")
        .filter(coalesce(
          assert_true(col("rep").isNotNull, lit(
            "incrementalComponents (strict): comp label is not a member " +
              "id of the labeling")),
          lit(true)))
        .select("id", "comp")
    }
    val e = newEdges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .localCheckpoint(true)
    val mapped = e
      .join(base.select(col("id").as("a"), col("comp").as("ca")), Seq("a"), "left")
      .join(base.select(col("id").as("b"), col("comp").as("cb")), Seq("b"), "left")
      .select(coalesce(col("ca"), col("a")).as("a"),
        coalesce(col("cb"), col("b")).as("b"))
    // CC on the contracted graph: vertices are old labels + unseen new
    // ids; bounded by the delta, converges in O(delta diameter)
    val merged = connectedComponents(mapped, "a", "b",
        driverThreshold = driverThreshold)
      .select(col("id").as("comp0"), col("comp").as("newcomp"))
    // relabel rides a BROADCAST (delta-endpoint-sized by construction);
    // untouched components pass through on the left-join miss
    val oldOut = base.join(broadcast(merged), col("comp") === col("comp0"), "left")
      .select(col("id"), coalesce(col("newcomp"), col("comp")).as("comp"))
    val newOut = e.select(col("a").as("id")).union(e.select(col("b").as("id")))
      .distinct()
      .join(base.select("id"), Seq("id"), "left_anti")
      .join(broadcast(merged), col("id") === col("comp0"))
      .select(col("id"), col("newcomp").as("comp"))
    oldOut.unionByName(newOut)
  }
}
