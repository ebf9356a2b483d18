package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Graph, TextAnalysis}

/** Round-3 operators: connected-components cluster dedup, repetition
  * signals, winnowing fingerprints.
  */
class GraphWinnowSpec extends AnyFunSuite {
  import SparkHarness._
  import spark.implicits._

  // ---------- connected components ----------

  test("connectedComponents finds min-id components across transitive chains") {
    // chain 1-2-3-4-5-6-7-8 (diameter 7 → several propagation rounds),
    // a 2-cycle-free pair, and an isolated edge
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L),
      (100L, 101L),
      (50L, 60L), (60L, 55L)).toDF("id1", "id2")
    val got = Graph.connectedComponents(pairs, "id1", "id2")
      .orderBy("id").collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val expected = (1L to 8L).map(_ -> 1L) ++
      Seq(50L -> 50L, 55L -> 50L, 60L -> 50L, 100L -> 100L, 101L -> 100L)
    assert(got == expected)
  }

  test("pageRank: hand-computed star graph; isolated node at teleport floor; mass order") {
    import graft.ops.Dedup
    // star 1-{2,3,4} symmetrized + isolated node 5; N=5, teleport 0.03
    val links = Seq((1L, 2L), (1L, 3L), (1L, 4L))
    val edges = (links ++ links.map(_.swap)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val p0 = Graph.pageRank(nodes, edges, iters = 0).orderBy("id").collect()
    assert(p0.map(_.getDouble(2)).forall(_ == 0.2), "iters=0 must return pr0 = 1/N")
    assert(p0.map(_.getLong(1)).toSeq == Seq(3L, 1L, 1L, 1L, 0L))
    val p1 = Graph.pageRank(nodes, edges, iters = 1).orderBy("id").collect()
    // hub: 0.03 + 0.85*(3*0.2) = 0.54; leaves: 0.03 + 0.85*round(0.2/3)
    // = 0.086667 after 6dp rounds; isolated: teleport floor 0.03
    assert(p1(0).getDouble(2) == 0.54, s"hub ${p1(0).getDouble(2)}")
    assert(p1(1).getDouble(2) == 0.086667 && p1(3).getDouble(2) == 0.086667)
    assert(p1(4).getDouble(2) == 0.03, "isolated node must sit at the teleport floor")
    // multi-iteration: ranking is stable (hub > leaves > isolated) and
    // total mass stays <= 1 (leak-only simplification)
    val p3 = Graph.pageRank(nodes, edges, iters = 3).orderBy("id").collect()
    assert(p3(0).getDouble(2) > p3(1).getDouble(2) &&
      p3(1).getDouble(2) > p3(4).getDouble(2))
    assert(p3.map(_.getDouble(2)).sum <= 1.0 + 1e-9)
    // chunkShareEdges: two docs sharing their (single-chunk) text link
    // symmetrically to the first occurrence; unique doc is isolated
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"), (3L, "unrelated text here")
    ).toDF("doc_id", "text")
    val es = Dedup.chunkShareEdges(docs, "text", "doc_id", chunkTokens = 20)
      .orderBy("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(es == Seq((1L, 2L), (2L, 1L)))
  }

  test("clusterDedup keeps exactly one canonical doc per cluster") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val got = Graph.clusterDedup(pairs, "id1", "id2").orderBy("id").collect().toSeq
    assert(got == Seq(
      Row(1L, 1L, 3L, 1), Row(2L, 1L, 3L, 0), Row(3L, 1L, 3L, 0),
      Row(10L, 10L, 2L, 1), Row(11L, 10L, 2L, 0)))
    // one keeper per component, always the min id
    val keepers = got.filter(_.getInt(3) == 1).map(_.getLong(0))
    assert(keepers == Seq(1L, 10L))
  }

  test("connectedComponents is partitioning-invariant") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L), (9L, 8L), (3L, 5L))
      .toDF("id1", "id2")
    val a = Graph.connectedComponents(pairs, "id1", "id2", driverThreshold = 0)
      .orderBy("id").collect().toSeq
    val b = Graph.connectedComponents(pairs.repartition(7), "id1", "id2",
        driverThreshold = 0)
      .orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("driver union-find path equals distributed propagation labels " +
    "(the size-gated small-graph path, r14)") {
    // chains, a cycle, a self-pair-only vertex, disjoint singles —
    // every structural case; the driver path (default threshold) must
    // produce byte-equal labelings to the distributed path
    // (driverThreshold = 0) because min-label CC has a unique fixed
    // point. Also checked with the threshold exactly at / below the
    // edge count (gate boundary).
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L),
      (100L, 101L), (77L, 77L), (50L, 60L), (60L, 55L), (55L, 50L)).toDF("id1", "id2")
    val drv = Graph.connectedComponents(pairs, "id1", "id2")
      .orderBy("id").collect().toSeq
    val dist = Graph.connectedComponents(pairs, "id1", "id2", driverThreshold = 0)
      .orderBy("id").collect().toSeq
    assert(drv == dist)
    // below-threshold edge count must route distributed and still agree
    val atGate = Graph.connectedComponents(pairs, "id1", "id2", driverThreshold = 3)
      .orderBy("id").collect().toSeq
    assert(atGate == dist)
  }

  test("pageRank and labelPropagation driver paths equal the distributed " +
    "iterations (size-gated small-graph paths, r14)") {
    // pageRank: duplicate edges (vote twice), a sink (no out-edges), a
    // source (no in-edges), a self-loop — every join-semantics case;
    // the driver recurrence must reproduce the distributed doubles
    // BIT-FOR-BIT (6dp rounds + exact decimal sums make the recurrence
    // engine-exact, which is what makes this replication legal)
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id")
    val edges = Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (4L, 4L),
      (1L, 5L), (9L, 1L)).toDF("src", "dst")
    val drv = Graph.pageRank(nodes, edges, iters = 3)
      .orderBy("id").collect().toSeq
    val dist = Graph.pageRank(nodes, edges, iters = 3, driverThreshold = 0)
      .orderBy("id").collect().toSeq
    assert(drv == dist)
    // labelPropagation: two communities joined by one bridge + a
    // repeated pair (must vote once per direction after the dedup)
    val pairs = Seq((1L, 2L), (2L, 1L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L)).toDF("id1", "id2")
    val drvL = Graph.labelPropagation(pairs, "id1", "id2", iters = 3)
      .orderBy("id").collect().toSeq
    val distL = Graph.labelPropagation(pairs, "id1", "id2", iters = 3,
        driverThreshold = 0)
      .orderBy("id").collect().toSeq
    assert(drvL == distL)
  }

  test("connectedComponents on an empty pair set returns an empty frame") {
    val pairs = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(Graph.connectedComponents(pairs, "id1", "id2").count() == 0L)
    assert(Graph.clusterDedup(pairs, "id1", "id2").count() == 0L)
    assert(Graph.connectedComponentsAlternating(pairs, "id1", "id2").count() == 0L)
  }

  test("fallback path preserves self-pair-only vertices") {
    // a chain long enough to exhaust the propagation budget PLUS a
    // self-pair-only vertex: the automatic alternating fallback must
    // still label it
    val chain = spark.range(99).select(col("id").as("id1"), (col("id") + 1).as("id2"))
      .union(Seq((777L, 777L)).toDF("id1", "id2"))
    val got = Graph.connectedComponents(chain, "id1", "id2",
        maxRounds = 8, blockRounds = 4, driverThreshold = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == 101 && got(777L) == 777L && got(99L) == 0L)
  }

  test("clusterDedup composes with minhashPairs (pairs from any dedup family)") {
    // three exact copies + one unrelated doc: minhash pairs (a,b),
    // (a,c), (b,c) must collapse to ONE kept canonical
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy dog again and again"),
      (9L, "completely unrelated content about spark physical plans")).toDF("doc_id", "text")
    val pairs = ops.Dedup.minhashPairs(docs, "text", "doc_id")
    val clusters = Graph.clusterDedup(pairs, "id1", "id2").orderBy("id").collect().toSeq
    assert(clusters.map(r => (r.getLong(0), r.getLong(1), r.getInt(3))) ==
      Seq((1L, 1L, 1), (2L, 1L, 0), (3L, 1L, 0)))
    // end-to-end: corpus in → deduped corpus out (canonical + untouched)
    val kept = Graph.dropNearDups(docs, "doc_id", pairs, "id1", "id2")
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L, 9L))
  }

  test("alternating large-star/small-star CC converges in O(log n) rounds on a 10^4 chain") {
    // the adversarial case for min-propagation (diameter = n): the
    // alternating form must converge within its 32-iteration budget
    // (propagation would need ~10^4 rounds) and label every vertex
    // with the chain min
    val n = 10000L
    val pairs = spark.range(n - 1).select(col("id").as("id1"), (col("id") + 1).as("id2"))
    val labels = Graph.connectedComponentsAlternating(pairs, "id1", "id2")
    assert(labels.count() == n)
    assert(labels.filter(col("comp") =!= 0L).count() == 0L,
      "every chain vertex must label to the component min (0)")
  }

  test("propagation CC degrades to the alternating algorithm when the round budget runs out") {
    // a 100-chain needs 99 propagation rounds; with maxRounds = 8 the
    // propagation form must hand off to large-star/small-star and
    // still return correct labels
    val chain = spark.range(99).select(col("id").as("id1"), (col("id") + 1).as("id2"))
    val got = Graph.connectedComponents(chain, "id1", "id2",
      maxRounds = 8, blockRounds = 4, driverThreshold = 0)
    assert(got.count() == 100L && got.filter(col("comp") =!= 0L).count() == 0L)
  }

  test("alternating CC labels equal min-propagation labels on mixed graphs") {
    // includes a SELF-PAIR-ONLY vertex (77,77): both forms must emit
    // its singleton label, not drop it
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L),
      (100L, 101L),
      (77L, 77L),
      (50L, 60L), (60L, 55L)).toDF("id1", "id2")
    val prop = Graph.connectedComponents(pairs, "id1", "id2",
        driverThreshold = 0)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val alt = Graph.connectedComponentsAlternating(pairs, "id1", "id2")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(prop == alt)
    assert(alt.contains((77L, 77L)), "self-pair-only vertex must keep its singleton label")
  }

  // ---------- quality filter ----------

  test("qualityFilter emits per-rule bits and the conjunctive keep") {
    val good = ("the cat and the dog sat in a field of green grass " * 3).trim
    val docs = Seq(
      (1L, good),                                  // passes everything
      (2L, "short"),                               // fails r_len (< 10 tokens)
      (3L, good + " " + ("x" * 40)),               // fails r_max_word
      (4L, "the of 111 222 333 444 555 666 777 888 999 000"), // digit-heavy
      (5L, "zz qq ww ee rr tt yy uu ii oo pp aa ss dd ff")). // no stopwords
      toDF("doc_id", "text")
    val got = ops.Curation.qualityFilter(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> (r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6), r.getInt(7)))
      .toMap
    assert(got(1L) == ((1, 1, 1, 1, 1, 1)))
    assert(got(2L)._1 == 0 && got(2L)._6 == 0)          // r_len fails → keep 0
    assert(got(3L)._5 == 0 && got(3L)._6 == 0)          // r_max_word fails
    assert(got(4L)._4 == 0 && got(4L)._6 == 0)          // r_digit fails
    assert(got(5L)._3 == 0 && got(5L)._6 == 0)          // r_stop fails
  }

  // ---------- repetition signals ----------

  test("repetitionSignals computes dup-token/bigram and top-token fractions") {
    val docs = Seq(
      (1L, "a b a b a"),          // 5 toks, 2 distinct; bigrams 4 total 2 distinct; top 'a'=3
      (2L, "x y z"),              // all distinct
      (3L, "w w w w"),            // fully repeated
      (4L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionSignals(docs, "text", "doc_id")
      .orderBy("doc_id").collect().toSeq
    assert(got == Seq(
      Row(1L, 5L, 0.6, 0.5, 0.6),
      Row(2L, 3L, 0.0, 0.0, 0.3333),
      Row(3L, 4L, 0.75, 0.6667, 1.0),
      Row(4L, 0L, 0.0, 0.0, 0.0)))
  }

  test("round-3 ops are null/empty safe") {
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "some ok text here"))
      .toDF("doc_id", "text")
    val rep = TextAnalysis.repetitionSignals(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(rep.length == 3 && rep(0).getLong(1) == 0L && rep(1).getLong(1) == 0L)
    // null/empty docs yield no k-grams → no fingerprints, no NPE
    val wf = TextAnalysis.winnowFingerprints(docs, "text", "doc_id")
    assert(wf.select("doc_id").distinct().collect().map(_.getLong(0)).toSeq == Seq(3L))
    val qf = ops.Curation.qualityFilter(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(qf.length == 3 && qf.forall(_.getInt(7) == 0)) // all fail r_len
  }

  // ---------- winnowing ----------

  /** Reference winnowing over an already-normalized string. */
  private def winnowRef(s: String, k: Int, w: Int): Set[(Long, Long)] = {
    if (s.length < k) return Set.empty
    val gh = (0 to s.length - k).map { i =>
      s.substring(i, i + k).foldLeft(0L)((acc, c) => (acc * 31 + c) % 1000000007L)
    }
    val nw = math.max(gh.length - w + 1, 1)
    (1 to nw).map { st =>
      val sl = gh.slice(st - 1, math.min(st - 1 + w, gh.length))
      val mn = sl.min
      ((st + sl.lastIndexOf(mn)).toLong, mn)
    }.toSet
  }

  test("winnowFingerprints matches the reference algorithm (incl. ties + short docs)") {
    val texts = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "abababababababab",          // heavy hash ties → rightmost-min rule exercised
      3L -> "aaaaaaaaaaaa",              // all k-grams identical
      4L -> "short",                     // len < k → no rows
      5L -> "exactly8",                  // len == k → single hash, single window
      6L -> "nine char")                 // 0 < |gh| < w → one short window
    val docs = texts.toDF("doc_id", "text")
    val got = TextAnalysis.winnowFingerprints(docs, "text", "doc_id", k = 8, w = 4)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(r => (r.getLong(1), r.getLong(2))).toSet }
    // reference normalize (mirrors text.normalize semantics)
    def norm(s: String): String =
      s.toLowerCase.replaceAll("[^a-z0-9 ]", " ").replaceAll(" +", " ").trim
    val expected = texts.map { case (id, t) =>
      id -> winnowRef(norm(t), 8, 4)
    }.filter(_._2.nonEmpty).toMap
    assert(got == expected)
  }

  test("winnowing guarantee: docs sharing a long substring share a fingerprint") {
    // any common substring of length >= w+k-1 (= 11) must yield a
    // common selected fingerprint VALUE
    val common = "identical stretch of text preserved verbatim"
    val docs = Seq(
      (1L, s"prefix alpha $common"),
      (2L, s"totally different opening words $common and a tail")).toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(docs, "text", "doc_id")
      .collect().groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getLong(2)).toSet }
    assert((fps(1L) intersect fps(2L)).nonEmpty)
  }

  test("winnowing density: selected positions cover every window of w hashes") {
    val docs = Seq((1L, "a reasonably long sentence used to check the gap bound of winnowing"))
      .toDF("doc_id", "text")
    val poss = TextAnalysis.winnowFingerprints(docs, "text", "doc_id", k = 8, w = 4)
      .orderBy("pos").collect().map(_.getLong(1))
    // winnowing picks one hash per window → consecutive picks gap <= w
    poss.sliding(2).foreach {
      case Array(a, b) => assert(b - a <= 4, s"gap $a -> $b exceeds w")
      case _ =>
    }
  }

  test("triangleStats: known graph, canonicalized input, exactly-once counting") {
    import spark.implicits._
    // triangle {1,2,3} + pendant 4 on 1 + isolated edge 5-6; input is
    // messy on purpose: duplicates, reversed direction, a self-loop
    val pairs = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 4L),
      (5L, 6L), (6L, 6L))
      .toDF("id1", "id2")
    val got = Graph.triangleStats(pairs, "id1", "id2")
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, 3L, 1L, 0.3333),   // 2*1/(3*2)
      (2L, 2L, 1L, 1.0),
      (3L, 2L, 1L, 1.0),
      (4L, 1L, 0L, 0.0),
      (5L, 1L, 0L, 0.0),
      (6L, 1L, 0L, 0.0)))
  }

  test("triangleStats: total triangle count on the K4 clique is 4, each vertex in 3") {
    import spark.implicits._
    val pairs = (for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b))
      .toDF("id1", "id2")
    val got = Graph.triangleStats(pairs, "id1", "id2").collect()
    assert(got.length == 4)
    got.foreach { r =>
      assert(r.getLong(1) == 3L && r.getLong(2) == 3L && r.getDouble(3) == 1.0)
    }
  }

  test("labelPropagation: barbell graph splits at the bridge; hand-traced 3 rounds") {
    import spark.implicits._
    // two triangles {1,2,3} and {10,11,12} joined by the bridge 3-10.
    // Connected components would merge all six; synchronous LPA with
    // the (max votes, min label) rule hand-traces to communities
    // {1,2,3}->1 and {10,11,12}->3 after round 3.
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L)).toDF("id1", "id2")
    val got = Graph.labelPropagation(pairs, "id1", "id2", iters = 3)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 3L, 3L), (11L, 3L, 3L), (12L, 3L, 3L)))
    // ONE component under CC — the communities are genuinely finer
    val cc = Graph.connectedComponents(pairs, "id1", "id2")
      .select("comp").distinct().count()
    assert(cc == 1L)
  }

  test("labelPropagation is invariant to edge direction, duplication, and iters=0 is identity") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L)).toDF("id1", "id2")
    // reversed + duplicated edge list must not change a single label
    // (canonicalize + distinct makes votes direction/count-blind)
    val messy = pairs.select(col("id2").as("id1"), col("id1").as("id2"))
      .unionAll(pairs).unionAll(pairs)
    val a = Graph.labelPropagation(pairs, "id1", "id2", iters = 3)
      .orderBy("id").collect().toSeq
    val b = Graph.labelPropagation(messy, "id1", "id2", iters = 3)
      .orderBy("id").collect().toSeq
    assert(a == b)
    // zero rounds: every endpoint keeps its own id as label
    val z = Graph.labelPropagation(pairs, "id1", "id2", iters = 0)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(z == Seq(1L, 2L, 3L, 10L, 11L, 12L).map(i => (i, i)))
  }

  test("incrementalComponents: hand-traced merge; equals from-scratch CC at every split point") {
    import spark.implicits._
    // base: {1,2}, {3,4}, {10,11}. Delta (2,3) merges the first two,
    // (5,6) opens a brand-new component, and (10,11) re-adds an edge
    // already inside a component (must be a no-op)
    val old = Seq((1L, 2L), (3L, 4L), (10L, 11L)).toDF("id1", "id2")
    val base = Graph.connectedComponents(old, "id1", "id2")
    val delta = Seq((2L, 3L), (5L, 6L), (10L, 11L)).toDF("id1", "id2")
    val got = Graph.incrementalComponents(base, "id", "comp", delta, "id1", "id2")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 10L -> 10L, 11L -> 10L))
    // the incremental path must land exactly where a full recompute
    // does, WHEREVER the old/new boundary falls — including all-new
    // (empty base) and all-old (empty delta)
    val all = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L), (6L, 4L),
      (7L, 8L), (8L, 9L), (1L, 9L))
    val truth = Graph.connectedComponents(all.toDF("id1", "id2"), "id1", "id2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (cut <- Seq(0, 3, 5, all.size)) {
      val b = Graph.connectedComponents(all.take(cut).toDF("id1", "id2"), "id1", "id2")
      val inc = Graph.incrementalComponents(b, "id", "comp",
          all.drop(cut).toDF("id1", "id2"), "id1", "id2")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(inc == truth, s"cut=$cut: $inc != $truth")
    }
  }

  test("incrementalComponents strict mode: non-member representative trips; valid labeling passes") {
    import spark.implicits._
    val delta = Seq((20L, 21L)).toDF("id1", "id2")
    // comp=3 satisfies the per-row comp <= id tripwire for both members
    // of {5, 6}, but 3 is not an id in the labeling — only strict mode
    // can see that
    val bad = Seq((5L, 3L), (6L, 3L)).toDF("id", "comp")
    val e = intercept[Exception] {
      Graph.incrementalComponents(bad, "id", "comp", delta, "id1", "id2",
        strict = true).collect()
    }
    assert(e.getMessage.contains("strict"), e.getMessage)
    // the default (non-strict) path accepts it — the documented
    // tripwire-only contract
    Graph.incrementalComponents(bad, "id", "comp", delta, "id1", "id2").collect()
    // a valid component-min labeling passes strict mode with the same
    // result as the default path
    val good = Seq((5L, 5L), (6L, 5L)).toDF("id", "comp")
    val s = Graph.incrementalComponents(good, "id", "comp", delta, "id1", "id2",
        strict = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(s == Set(5L -> 5L, 6L -> 5L, 20L -> 20L, 21L -> 20L))
  }

  test("incrementalComponents strict mode: duplicate id rows trip the uniqueness tripwire") {
    import spark.implicits._
    val delta = Seq((20L, 21L)).toDF("id1", "id2")
    // per-row comp <= id holds and every comp IS a member id — but id
    // 6 appears twice, which the membership join would silently fan
    // into duplicate merge rows (the ADVICE r08 finding)
    val dup = Seq((5L, 5L), (6L, 5L), (6L, 5L)).toDF("id", "comp")
    val e = intercept[Exception] {
      Graph.incrementalComponents(dup, "id", "comp", delta, "id1", "id2",
        strict = true).collect()
    }
    assert(e.getMessage.contains("duplicate id"), e.getMessage)
    // the default (non-strict) path remains tripwire-only by contract
    Graph.incrementalComponents(dup, "id", "comp", delta, "id1", "id2").collect()
  }

  test("labelPropagation accepts STRING vertex ids with the same tie-break") {
    import spark.implicits._
    // the same barbell under a lexicographic alphabet: the (max votes,
    // min label) rule must order the LABELS themselves (negating a
    // string column would fail analysis — only the numeric vote count
    // may be negated in the argmax struct)
    val name = Map(1L -> "ant", 2L -> "bee", 3L -> "cat",
      10L -> "dog", 11L -> "elk", 12L -> "fox")
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
      .map { case (a, b) => (name(a), name(b)) }.toDF("id1", "id2")
    val got = Graph.labelPropagation(pairs, "id1", "id2", iters = 3)
      .orderBy("id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // isomorphic to the numeric trace: {ant,bee,cat}->ant, {dog,elk,fox}->cat
    assert(got == Seq(("ant", "ant", 3L), ("bee", "ant", 3L),
      ("cat", "ant", 3L), ("dog", "cat", 3L), ("elk", "cat", 3L),
      ("fox", "cat", 3L)))
  }
}
