package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Cluster, Dedup, TextAnalysis}
import graft.tables.Tables

/** K-means, chunk dedup, TF-IDF, and NLL bucketing — the round-5
  * curation additions.
  */
class ClusterSpec extends AnyFunSuite {
  import SparkHarness._
  import spark.implicits._

  private def embs = Tables(spark, "/root/testdata/sf0.01").embeddings

  private def withNativeDisabled[A](body: => A): A = {
    spark.conf.set("graft.native.disabled", "true")
    try body finally spark.conf.unset("graft.native.disabled")
  }

  test("kmeansAssign partitions every vector exactly once") {
    val a = Cluster.kmeansAssign(embs, "embedding", "vec_id", k = 4, iters = 1)
    assert(a.count() == embs.count())
    assert(a.select("id").distinct().count() == embs.count())
    val cids = a.select("cluster_id").distinct().as[Long].collect().toSet
    assert(cids.subsetOf(Set(0L, 1L, 2L, 3L)))
  }

  test("kmeans refinement does not decrease mean cohesion") {
    // one Lloyd step can only improve (or tie) the summed similarity
    // to the assigned centroid — a loose sanity bound on the 4dp means
    def weightedMean(iters: Int): Double = {
      val rows = Cluster.kmeansSummary(embs, "embedding", "vec_id",
        k = 4, iters = iters).collect()
      val n = rows.map(_.getLong(1)).sum.toDouble
      rows.map(r => r.getLong(1) * r.getDouble(2)).sum / n
    }
    assert(weightedMean(1) >= weightedMean(0) - 1e-4)
  }

  test("kmeansAssign on separable toy clusters recovers them") {
    val pts = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.1f, 0.9f)),
      (4L, Array(0.95f, 0.05f)), (5L, Array(0.05f, 0.95f))
    ).toDF("vec_id", "embedding")
    // init = vec 0 (x-axis) and vec 1 (near x-axis): one refinement
    // must pull the y-axis points onto the centroid seeded by vec 1's
    // reassigned mass — with k=2 and these seeds both x-like, the
    // refined centroids split by the dominant axis
    val a = Cluster.kmeansAssign(pts, "embedding", "vec_id", k = 2, iters = 2)
      .orderBy("id").collect()
    val byAxis = a.map(r => (r.getLong(0), r.getLong(1))).toMap
    // all x-axis-dominant points share one cluster, y-axis the other
    assert(byAxis(0L) == byAxis(1L) && byAxis(1L) == byAxis(4L))
    assert(byAxis(2L) == byAxis(3L) && byAxis(3L) == byAxis(5L))
    assert(byAxis(0L) != byAxis(2L))
  }

  test("kmeansSummary sizes sum to the corpus and means are in [-1, 1]") {
    val s = Cluster.kmeansSummary(embs, "embedding", "vec_id",
      k = 4, iters = 1).collect()
    assert(s.map(_.getLong(1)).sum == embs.count())
    assert(s.forall(r => r.getDouble(2) >= -1.0 && r.getDouble(2) <= 1.0))
  }

  test("chunkDedupStats flags a repeated chunk once per later occurrence") {
    val chunk = (1 to 20).map(i => s"w$i").mkString(" ")
    val other = (21 to 40).map(i => s"v$i").mkString(" ")
    val docs = Seq(
      (1L, s"$chunk $other"),   // first occurrence of both chunks
      (2L, s"$chunk unique tail here"), // chunk dup + 3-token unique chunk
      (3L, other)               // dup of doc 1's second chunk
    ).toDF("doc_id", "text")
    val got = Dedup.chunkDedupStats(docs, "text", "doc_id", chunkTokens = 20)
      .orderBy("doc_id").collect().toSeq
    assert(got == Seq(
      Row(1L, 2L, 0L, 40L),
      Row(2L, 2L, 1L, 3L),
      Row(3L, 1L, 1L, 0L)))
  }

  test("chunkDedupStats drops empty docs and keeps sub-chunk tails intact") {
    val docs = Seq((1L, ""), (2L, "only three tokens")).toDF("doc_id", "text")
    val got = Dedup.chunkDedupStats(docs, "text", "doc_id", chunkTokens = 20)
      .collect().toSeq
    assert(got == Seq(Row(2L, 1L, 0L, 3L)))
  }

  test("chunkDedupStats rejects a non-positive chunk size") {
    val docs = Seq((1L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.chunkDedupStats(docs, "text", "doc_id", chunkTokens = 0)
    }
  }

  test("substringDedupStats catches an OFFSET-SHIFTED copied paragraph that chunkDedupStats provably misses") {
    // the same paragraph lands at token offset 0 in doc 1 and token
    // offset 7 (≢ 0 mod 20) in doc 2: no 20-token fixed window of doc 2
    // can equal one of doc 1's, so d10 reports zero dup chunks — while
    // the content-defined winnow anchors select the same grams at both
    // offsets (every word is unique across the two docs except the
    // paragraph itself, so every dup anchor is inside the copy)
    val para = "quarzel vintor maplesh gorandu feshtik lumbrec " +
      "adverin costrel wimbado jeskavi trundel ospreck"   // 12 unique tokens
    // filler words are all-distinct with no shared 8-char substring
    // anywhere (numbered tokens like w1 w2 ... w10 would repeat real
    // grams such as " w1 " inside " w10" and create true dup anchors)
    val fillerA = "amber basil cedar dalia ember fjord gable haven " +
      "irony jumbo kayak lemon mango noble ochre prism quill ruble " +
      "sable tango umbra vigor waltz xenon yacht"          // 25 tokens
    val fillerB = "zephyrd quartzy blitzen nymphal vexedly jumpily fickler"
    val docs = Seq(
      (1L, s"$para $fillerA"),
      (2L, s"$fillerB $para")).toDF("doc_id", "text")
    val d10 = Dedup.chunkDedupStats(docs, "text", "doc_id", chunkTokens = 20)
      .orderBy("doc_id").collect()
    assert(d10.forall(_.getLong(2) == 0L),
      s"chunk dedup must be blind to the shifted copy: ${d10.toSeq}")
    val d19 = Dedup.substringDedupStats(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    val doc2 = d19(1)
    assert(doc2.getLong(2) >= 5, s"doc 2 must carry dup anchors: ${d19.toSeq}")
    assert(doc2.getLong(3) >= 1 && doc2.getLong(4) >= para.length / 2,
      s"dup spans must cover most of the copied paragraph: ${d19.toSeq}")
    // doc 1 is the FIRST occurrence everywhere — nothing flagged
    assert(d19(0).getLong(2) == 0L && d19(0).getLong(4) == 0L)
  }

  test("substringStrip excises the shifted copy, keeps first occurrences whole; kept+removed = norm length") {
    val para = "quarzel vintor maplesh gorandu feshtik lumbrec " +
      "adverin costrel wimbado jeskavi trundel ospreck"
    val fillerA = "amber basil cedar dalia ember fjord gable haven " +
      "irony jumbo kayak lemon mango noble ochre prism quill ruble " +
      "sable tango umbra vigor waltz xenon yacht"
    val fillerB = "zephyrd quartzy blitzen nymphal vexedly jumpily fickler"
    val docs = Seq(
      (1L, s"$para $fillerA"),
      (2L, s"$fillerB $para")).toDF("doc_id", "text")
    val got = Dedup.substringStrip(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    // doc 1 is first occurrence everywhere: passes through whole
    assert(got(0).getString(1) == s"$para $fillerA" && got(0).getLong(3) == 0L)
    // doc 2 loses (most of) the copied paragraph but keeps its filler
    val cleaned2 = got(1).getString(1)
    assert(cleaned2.startsWith("zephyrd quartzy"),
      s"filler prefix must survive: $cleaned2")
    assert(!cleaned2.contains("maplesh gorandu feshtik"),
      s"the copied paragraph interior must be excised: $cleaned2")
    assert(got(1).getLong(3) >= para.length / 2, got(1).toString)
    // the invariant on real data: kept + removed = normalized length
    val corpus = Tables(spark, "/root/testdata/sf0.01").documents.limit(150)
    val inv = Dedup.substringStrip(corpus, "text", "doc_id")
      .join(corpus.select(col("doc_id"),
        length(graft.functions.text.normalize(col("text"))).cast("long").as("nl")),
        "doc_id")
      .where(col("n_kept_chars") + col("n_removed_chars") =!= col("nl"))
      .count()
    assert(inv == 0L)
  }

  test("substringDedupStats native and fallback paths are row-identical") {
    val docs = Tables(spark, "/root/testdata/sf0.01").documents.limit(120)
    val native = Dedup.substringDedupStats(docs, "text", "doc_id")
      .orderBy("doc_id").collect().toSeq
    val fallback = withNativeDisabled {
      Dedup.substringDedupStats(docs, "text", "doc_id").orderBy("doc_id").collect().toSeq
    }
    assert(native == fallback)
    // empty and sub-k docs emit no anchor rows at all
    val edge = Seq((1L, ""), (2L, "ab"), (3L, "twelve chars!")).toDF("doc_id", "text")
    val got = Dedup.substringDedupStats(edge, "text", "doc_id").orderBy("doc_id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(3L), got.toSeq.toString)
  }

  test("tfidfTopTerms ranks rare terms above common ones") {
    val docs = Seq(
      (1L, "common common common rare"),
      (2L, "common common other"),
      (3L, "common filler words")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopTerms(docs, "text", "doc_id", k = 2)
      .orderBy("doc_id", "rank").collect()
    // doc 1: tf(common)=3 beats the rare term on raw tf·idf (idf of
    // the df=3 term is 1.0; 3·1.0 > 1·(ln(2)+1)) — but within equal
    // tf, higher-idf terms win: doc 2's rank-2 is 'other', not a tie
    val d1 = got.filter(_.getLong(0) == 1L).map(r => (r.getString(1), r.getInt(3)))
    assert(d1.toSeq == Seq(("common", 1), ("rare", 2)))
    val d2 = got.filter(_.getLong(0) == 2L).map(_.getString(1))
    assert(d2.toSeq == Seq("common", "other"))
    // every doc contributes at most k rows
    assert(got.groupBy(_.getLong(0)).forall(_._2.length <= 2))
  }

  test("tfidfTopTerms breaks exact score ties by term order") {
    val docs = Seq((1L, "zebra apple")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopTerms(docs, "text", "doc_id", k = 2)
      .orderBy("rank").collect().map(_.getString(1))
    assert(got.toSeq == Seq("apple", "zebra"))
  }

  test("kmeansAssign with k larger than the corpus degrades to per-point clusters") {
    val pts = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val a = Cluster.kmeansAssign(pts, "embedding", "vec_id", k = 5, iters = 1)
      .collect()
    assert(a.length == 2)
    assert(a.map(_.getLong(1)).distinct.length == 2) // each point its own cluster
  }

  test("kmeansAssign accepts double-array embedding columns") {
    val pts = Seq((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)),
      (2L, Array(0.9, 0.1))).toDF("vec_id", "embedding")
    val a = Cluster.kmeansAssign(pts, "embedding", "vec_id", k = 2, iters = 1)
      .orderBy("id").collect()
    assert(a.length == 3)
    assert(a(0).getLong(1) == a(2).getLong(1)) // x-axis points co-cluster
  }

  test("clusterSample keeps exactly nPer per cluster, native and fallback identical") {
    val native = Cluster.clusterSample(embs, "embedding", "vec_id",
      k = 4, nPer = 10, iters = 1).orderBy("cluster_id", "rank").collect().toSeq
    val fallback = withNativeDisabled {
      Cluster.clusterSample(embs, "embedding", "vec_id",
        k = 4, nPer = 10, iters = 1).orderBy("cluster_id", "rank").collect().toSeq
    }
    assert(native == fallback)
    val perCluster = native.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(perCluster.values.forall(_ == 10))
    // kept set is a subset of the corpus ids, no repeats
    val ids = native.map(_.getLong(2))
    assert(ids.distinct.length == ids.length)
  }

  test("clusterSample selection is invariant to input partitioning") {
    val a = Cluster.clusterSample(embs, "embedding", "vec_id",
      k = 4, nPer = 5, iters = 1).collect().toSet
    val b = Cluster.clusterSample(embs.repartition(13), "embedding", "vec_id",
      k = 4, nPer = 5, iters = 1).collect().toSet
    assert(a == b)
  }

  test("semDedupPairs: precision 1.0 vs brute force, 2-probe recall above the 1-probe floor") {
    import graft.ops.Dedup
    // ground truth: all-pairs cosine >= 0.4 (constant block = no blocking)
    val brute = Dedup.embeddingNearDupPairs(
        embs.withColumn("all", lit(0)), "embedding", "vec_id", "all", 0.4)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val two = Cluster.semDedupPairs(embs, "embedding", "vec_id",
        k = 4, threshold = 0.4)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val one = Cluster.semDedupPairs(embs, "embedding", "vec_id",
        k = 4, threshold = 0.4, blockProbes = 1)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(two.subsetOf(brute) && one.subsetOf(brute)) // exact verify → precision 1.0
    assert(one.subsetOf(two))                          // extra probe only adds pairs
    // measured on this corpus: 1-probe 30/59, 2-probe 56/59
    assert(two.size > one.size && two.size >= (brute.size * 0.9).toInt)
  }

  test("semDedup prune verdict agrees with dropNearDups on the kept corpus") {
    import graft.ops.Graph
    val pairs = Cluster.semDedupPairs(embs, "embedding", "vec_id",
      k = 4, threshold = 0.4)
    val dropped = Graph.clusterDedup(pairs, "id1", "id2")
      .filter(col("keep") === 0).count()
    val kept = Graph.dropNearDups(embs, "vec_id", pairs, "id1", "id2").count()
    assert(dropped > 0)                       // the corpus does have near-dups
    assert(kept == embs.count() - dropped)    // verdict and prune agree
  }

  test("semDedupPairsAuto derives k = ceil(n/targetBlock) and clamps blockProbes on tiny corpora") {
    // sf0.01 has 500 vectors: targetBlock=128 derives k=4 — the
    // auto form must equal the explicit-k call exactly
    val n = embs.count()
    val k = math.ceil(n.toDouble / 128).toInt
    assert(k >= 2, s"fixture assumption broke: n=$n derives k=$k < 2")
    val auto = Cluster.semDedupPairsAuto(embs, "embedding", "vec_id",
      threshold = 0.4, targetBlock = 128)
      .orderBy("id1", "id2").collect().mkString("|")
    val pinned = Cluster.semDedupPairs(embs, "embedding", "vec_id",
      k = k, threshold = 0.4)
      .orderBy("id1", "id2").collect().mkString("|")
    assert(auto == pinned)
    // targetBlock >= n derives k=1: one block, blockProbes clamps to
    // 1, and the result is ALL threshold pairs (single-block = exact)
    val one = Cluster.semDedupPairsAuto(embs.limit(60), "embedding",
      "vec_id", threshold = 0.4, targetBlock = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Dedup.embeddingNearDupPairs(
      embs.limit(60).withColumn("blk", lit(0)),
      "embedding", "vec_id", "blk", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(one == brute, "k=1 auto blocking must be the exact pair set")
    // kCap binds: targetBlock=1 would derive k=n, the cap pins it to
    // the SAME k as the pinned call — the capped knob is the pinned
    // operator, which is what keeps the cap itself oracle-checkable
    val capped = Cluster.semDedupPairsAuto(embs, "embedding", "vec_id",
      threshold = 0.4, targetBlock = 1, kCap = k)
      .orderBy("id1", "id2").collect().mkString("|")
    assert(capped == pinned, "kCap must reduce the derived k to the cap")
  }

  test("semDedupPairs rejects blockProbes outside [1, k]") {
    intercept[IllegalArgumentException] {
      Cluster.semDedupPairs(embs, "embedding", "vec_id",
        k = 4, threshold = 0.4, blockProbes = 5)
    }
  }

  test("nllBuckets keeps ties in one bucket and covers all docs") {
    val scored = Seq(
      (1L, 1.0), (2L, 1.0), (3L, 1.0), (4L, 1.0), (5L, 1.0),
      (6L, 2.0), (7L, 3.0), (8L, 4.0), (9L, 5.0), (10L, 6.0)
    ).toDF("doc_id", "mean_nll")
    val got = TextAnalysis.nllBuckets(scored, buckets = 10)
      .orderBy("bucket").collect()
    // the five tied 1.0 docs all land in bucket 1 (value-bucketing,
    // NOT ntile's positional split)
    assert(got.head.getLong(0) == 1L && got.head.getLong(1) == 5L)
    assert(got.map(_.getLong(1)).sum == 10L)
    // remaining singleton values spread over buckets 6..10
    assert(got.tail.map(_.getLong(0)).toSeq == Seq(6L, 7L, 8L, 9L, 10L))
  }

  test("mmrSelect diversifies: second pick leaves the densest mode") {
    // two tight modes along different axes + the mean sitting between
    // them: plain relevance top-2 takes the two near-copies from the
    // bigger mode; MMR's redundancy penalty forces pick 2 to the other
    // mode. Exact ids asserted so the greedy trajectory is pinned.
    val rows = Seq(
      (1L, Array(1.0f, 0.02f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.02f)),   // near-copy of 1
      (3L, Array(1.0f, 0.01f, 0.01f)),  // near-copy of 1
      (4L, Array(0.0f, 1.0f, 0.02f)),
      (5L, Array(0.02f, 1.0f, 0.0f))    // near-copy of 4
    ).toDF("vec_id", "embedding")
    val got = Cluster.mmrSelect(rows, "embedding", "vec_id", k = 3, lambda = 0.7)
      .orderBy("rank").collect()
    val ids = got.map(_.getLong(1)).toSeq
    // pick 1: highest cosine to the mean (an x-mode row — the mode has
    // 3 of 5 rows); pick 2: a y-mode row despite x-mode near-copies
    // having higher raw relevance
    assert(ids.length == 3)
    assert(Set(1L, 2L, 3L).contains(ids.head))
    assert(Set(4L, 5L).contains(ids(1)), s"second pick $ids should switch modes")
    // ranks are 1..k, scores are the 6dp-rounded greedy objective
    assert(got.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(got.forall(r => r.getDouble(3) <= r.getDouble(2) * 0.7 + 1e-9))
  }

  test("mmrSelect: k beyond the corpus stops at corpus size; selection is partition-invariant") {
    val rows = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)), (3L, Array(0.7f, 0.7f))
    ).toDF("vec_id", "embedding")
    val got = Cluster.mmrSelect(rows, "embedding", "vec_id", k = 10, lambda = 0.7)
    assert(got.count() == 3)
    val a = Cluster.mmrSelect(rows.repartition(7), "embedding", "vec_id", k = 3)
      .orderBy("rank").collect().toSeq
    val b = Cluster.mmrSelect(rows.coalesce(1), "embedding", "vec_id", k = 3)
      .orderBy("rank").collect().toSeq
    assert(a == b)
  }

  test("knnGraph: ranking structure, no self-loops, symmetric scoring, fallback parity") {
    import graft.ops.Similarity
    val g = Similarity.knnGraph(embs, "embedding", "vec_id", k = 5,
      dim = 64, numPlanes = 24, bands = 6)
    val rows = g.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (id, _, nb, _) => id != nb }, "self-loop")
    rows.groupBy(_._1).foreach { case (id, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to rs.length).toSeq,
        s"ranks for $id not contiguous")
      assert(rs.length <= 5)
      val cs = sorted.map(_._4)
      assert(cs.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
        s"cosine not non-increasing for $id")
    }
    // the pair scores once but feeds both endpoints: if b is a's
    // rank-1 neighbor with cosine c, then (b, a) carries the same c
    // somewhere in b's list OR was outranked by 5 better neighbors —
    // check the top-1 edges of the densest vertices survive reversed
    val edge = rows.map { case (id, _, nb, c) => ((id, nb), c) }.toMap
    val mutual = rows.filter { case (id, _, nb, _) => edge.contains((nb, id)) }
    assert(mutual.forall { case (id, _, nb, c) => edge((nb, id)) == c },
      "reversed edge must carry the identical cosine")
    // native bounded-aggregate ranking == window fallback
    val native = g.orderBy("id", "rank").collect().toSeq
    val fb = withNativeDisabled {
      Similarity.knnGraph(embs, "embedding", "vec_id", k = 5,
        dim = 64, numPlanes = 24, bands = 6).orderBy("id", "rank").collect().toSeq
    }
    assert(native == fb)
  }

  test("s16 ivfIndexTables/ivfAppendDelta: incremental == from-scratch, parquet round-trip, batch-split invariance") {
    import graft.ops.Similarity
    val isIdx = substring(md5(concat(col("vec_id").cast("string"),
      lit(":graft"))), 1, 4) < "c000"
    val idxPart = embs.filter(isIdx)
    val delPart = embs.filter(!isIdx)
    val (cents, idxAsg) = Similarity.ivfIndexTables(
      idxPart, "embedding", "vec_id", numCentroids = 4)
    // incremental == from-scratch: re-assigning the INDEX slice to the
    // frozen centroids must reproduce the fit-time assignment table
    // exactly (frozen-centroid assignment is a pure per-row function)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("cluster_id"),
          graft.functions.num.fround(col("cos"), 6).as("c6"))
        .orderBy("id").collect().toSeq
    assert(key(Similarity.ivfAppendDelta(cents, idxPart, "embedding", "vec_id"))
      == key(idxAsg))
    // parquet round-trip: the persisted artifact drives later batches
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    cents.write.mode("overwrite").parquet(s"$dir/cents")
    val reread = spark.read.parquet(s"$dir/cents")
    val mem = Similarity.ivfAppendDelta(cents, delPart, "embedding", "vec_id")
      .orderBy("id").collect().toSeq
    val disk = Similarity.ivfAppendDelta(reread, delPart, "embedding", "vec_id")
      .orderBy("id").collect().toSeq
    assert(mem == disk, "persisted centroid table diverges from in-memory")
    // batch-split invariance: two half-deltas == one delta
    val half = substring(md5(concat(col("vec_id").cast("string"),
      lit(":b"))), 1, 4) < "8000"
    val two = Similarity.ivfAppendDelta(cents, delPart.filter(half), "embedding", "vec_id")
      .unionByName(Similarity.ivfAppendDelta(cents, delPart.filter(!half), "embedding", "vec_id"))
      .orderBy("id").collect().toSeq
    assert(two == mem, "per-batch appends diverge from the one-shot append")
  }

  test("d24 semDedupIncremental: delta-index and delta-delta near-dups surface, index-index never; parquet-fed index works") {
    import graft.ops.Similarity
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    // index: two tight clusters alternating by id (one seed each)
    val idxEmb = (0 until 20).map { i =>
      if (i % 2 == 0) (i.toLong, v(1.0, 0.01 * i)) else (i.toLong, v(0.01 * i, 1.0))
    }.toDF("vec_id", "embedding")
    val (cents, asg) = Similarity.ivfIndexTables(idxEmb, "embedding", "vec_id",
      numCentroids = 2)
    val index = asg.select(col("id").as("vec_id"), col("cluster_id"))
      .join(idxEmb, Seq("vec_id"))
    // delta: 100 ~= index point 0 (cross pair), 101 ~= 102 (within-
    // batch pair, no index neighbor), 103 unrelated (45 degrees)
    val delta = Seq(
      (100L, v(1.0, 0.001)),
      (101L, v(-1.0, 0.004)), (102L, v(-1.0, 0.005)),
      (103L, v(1.0, 1.0))).toDF("vec_id", "embedding")
    val pairs = Cluster.semDedupIncremental(cents, index, delta,
        "embedding", "vec_id", threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the cross pair and the within-batch pair are present
    assert(pairs.contains((0L, 100L)), s"cross delta-index pair missing: $pairs")
    assert(pairs.contains((101L, 102L)), s"delta-delta pair missing: $pairs")
    // every pair touches the delta (history is never re-paired), and
    // the unrelated point pairs nothing
    assert(pairs.forall { case (a, b) => a >= 100L || b >= 100L },
      s"index-index pair leaked: $pairs")
    assert(!pairs.exists { case (a, b) => a == 103L || b == 103L },
      s"unrelated point paired: $pairs")
    // the persisted-artifact path: centroid + index tables read back
    // from parquet verdict identically
    val dir = java.nio.file.Files.createTempDirectory("d24idx").toString
    cents.write.parquet(s"$dir/cents"); index.write.parquet(s"$dir/index")
    val fromDisk = Cluster.semDedupIncremental(
        spark.read.parquet(s"$dir/cents"), spark.read.parquet(s"$dir/index"),
        delta, "embedding", "vec_id", threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromDisk == pairs, "parquet-fed index diverges")
  }

  test("s16 staleness: in-distribution delta reads fresh, out-of-distribution reads stale") {
    import graft.ops.Similarity
    // index = two tight clusters on axes 0 and 1; the train q05 is the
    // 5th-percentile cosine of points to their own centroid (high —
    // the clusters are tight). Delta: one in-distribution point (cos
    // to its centroid ~1 > q05) and one equidistant-from-everything
    // point (cos ~0.7 < q05).
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    // clusters ALTERNATE by id so the k-lowest-id init (ids 0, 1)
    // seeds one centroid in each mode
    val idx = (0 until 20).map { i =>
      if (i % 2 == 0) (i.toLong, v(1.0, 0.01 * i)) else (i.toLong, v(0.01 * i, 1.0))
    }
    val (cents, _) = Similarity.ivfIndexTables(
      idx.toDF("vec_id", "embedding"), "embedding", "vec_id", numCentroids = 2)
    val delta = Seq((100L, v(1.0, 0.09)), (101L, v(1.0, 1.0)))
      .toDF("vec_id", "embedding")
    val got = Similarity.ivfAppendDelta(cents, delta, "embedding", "vec_id")
      .orderBy("id").collect()
    assert(!got(0).getBoolean(3), s"in-distribution point flagged stale: ${got(0)}")
    assert(got(1).getBoolean(3), s"45-degree point not flagged stale: ${got(1)}")
  }

  test("s17 ivfRefitMigration: receipt partitions the corpus, re-fit absorbs planted drift, new tables == from-scratch") {
    import graft.ops.Similarity
    def v(x: Double, y: Double, z: Double) = Array(x.toFloat, y.toFloat, z.toFloat)
    // index corpus: two tight modes on axes 0 and 1 (ids alternate so
    // the 2-lowest-id init seeds both); delta: a THIRD mode on axis 2
    // the old fit never saw — its points read stale under the old q05
    val idx = (0 until 40).map { i =>
      if (i % 2 == 0) (i.toLong, v(1.0, 0.01 * i, 0.0))
      else (i.toLong, v(0.01 * i, 1.0, 0.0))
    }
    val delta = (100 until 120).map(i => (i.toLong, v(0.0, 0.01 * (i - 100), 1.0)))
    val idxDf = idx.toDF("vec_id", "embedding")
    val corpus = (idx ++ delta).toDF("vec_id", "embedding")
    val (oldCents, oldIdxAsg) = Similarity.ivfIndexTables(
      idxDf, "embedding", "vec_id", numCentroids = 2)
    val deltaAsg = Similarity.ivfAppendDelta(
      oldCents, delta.toDF("vec_id", "embedding"), "embedding", "vec_id")
    val oldAsg = oldIdxAsg.unionByName(
      deltaAsg.select(col("id"), col("cluster_id"), col("cos")))
    val (newCents, newAsg, receipt) = Similarity.ivfRefitMigration(
      oldCents, oldAsg, corpus, "embedding", "vec_id", numCentroids = 3)
    val rows = receipt.collect()
    // the receipt partitions the corpus exactly
    assert(rows.map(_.getLong(2)).sum == 60L,
      s"receipt rows must sum to the corpus: ${rows.toSeq}")
    // planted drift: every delta point was stale before (axis-2 is
    // ~90 degrees from both old centroids), none after (the k=3 refit
    // gives the new mode its own centroid; its points sit at cos ~1)
    val stBefore = rows.map(_.getLong(3)).sum
    val stAfter = rows.map(_.getLong(4)).sum
    assert(stBefore >= 20L,
      s"planted drift must read stale under the old index (got $stBefore)")
    assert(stAfter < stBefore,
      s"re-fit must absorb the drift: before=$stBefore after=$stAfter")
    // new tables ARE the from-scratch index over the corpus (swap
    // equality, asserted not assumed)
    val (fsCents, fsAsg) = Similarity.ivfIndexTables(
      corpus, "embedding", "vec_id", numCentroids = 3)
    def keyA(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "cluster_id").as[(Long, Long)].collect().sorted.toSeq
    assert(keyA(newAsg) == keyA(fsAsg), "reassignment != from-scratch")
    def keyC(df: org.apache.spark.sql.DataFrame) =
      df.select(col("cluster_id"), col("train_cos_q05")).as[(Long, Double)]
        .collect().sorted.toSeq
    assert(keyC(newCents) == keyC(fsCents), "centroid tables diverge")
    // a corrupted old centroid table (two q05 values) fails loud
    val bad = oldCents.withColumn("train_cos_q05",
      when(col("cluster_id") === 0, lit(0.1)).otherwise(col("train_cos_q05")))
    val e = intercept[Exception] {
      Similarity.ivfRefitMigration(bad, oldAsg, corpus,
        "embedding", "vec_id", numCentroids = 3)
    }
    assert(e.getMessage.contains("train_cos_q05"), s"wrong failure: ${e.getMessage}")
  }
}
