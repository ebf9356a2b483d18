package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, Similarity, TextAnalysis}
import graft.tables.Tables

/** Scale-robustness guarantees that CORRECTNESS can't see:
  *  - SimHash block-banding finds EXACTLY the brute-force hamming<=h
  *    pair set (recall 1.0 by pigeonhole — 3 flipped bits leave >=3 of
  *    6 blocks clean);
  *  - the bucketed ANN variants (LSH, IVF) reach quantified recall
  *    against the oracle-verified brute-force ground truth, and every
  *    pair they emit carries the exact brute-force cosine
  *    (precision 1.0 on scores);
  *  - every intermediate an op persists is released by
  *    `GraftSession.sweep`, and `minhashPrepare` persists nothing.
  */
class RobustSpec extends AnyFunSuite {
  import SparkHarness._

  private def docs = Tables(spark, sfDir).documents
  private def embs = Tables(spark, sfDir).embeddings

  test("intermediate lifetime: ops pin shared intermediates, sweep releases them") {
    val cache = spark.sharedState.cacheManager
    val sc = spark.sparkContext
    GraftSession.sweep(spark)
    assert(cache.isEmpty && sc.getPersistentRDDs.isEmpty, "precondition: a swept session")
    Dedup.minhashPairs(docs, "text", "doc_id").collect()
    TextAnalysis.tfidfTopTerms(docs, "text", "doc_id").collect()
    assert(!cache.isEmpty, "materialized ops registered no cached intermediate")
    assert(sc.getPersistentRDDs.nonEmpty, "materialized ops hold no cached blocks")
    GraftSession.sweep(spark)
    assert(cache.isEmpty, "sweep left cached Datasets behind")
    assert(sc.getPersistentRDDs.isEmpty,
      s"sweep left persisted RDDs behind: ${sc.getPersistentRDDs.keys}")
    // minhashPrepare's tables belong to the caller (the streaming sink
    // accumulates them), so materializing them must pin nothing
    val (hashes, bands) = Dedup.minhashPrepare(docs, "text", "doc_id")
    hashes.collect()
    bands.collect()
    assert(cache.isEmpty && sc.getPersistentRDDs.isEmpty,
      "minhashPrepare persisted an intermediate")
  }

  test("simhash block banding emits exactly the brute-force hamming<=3 pair set") {
    val sigs = Dedup.simhashSigs(docs, "text", "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val brute = sigs.as("a").join(sigs.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        graft.functions.hashing.hamming64(col("a.simhash"), col("b.simhash")).as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy("id1", "id2").collect().mkString("|")
    val banded = Dedup.simhashPairs(docs, "text", "doc_id")
      .orderBy("id1", "id2").collect().mkString("|")
    sigs.unpersist()
    assert(banded == brute,
      "block-banded candidate generation lost or invented a hamming<=3 pair")
  }

  test("bucketed ANN recall vs brute-force ground truth; emitted cosines exact") {
    val probes = embs.filter(col("vec_id") % 100 === 0)
    def pairSet(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
          col("cosine")).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val truth = pairSet(Similarity.bruteForceTopK(embs, probes, "embedding", "vec_id", 5))
    def check(name: String, df: org.apache.spark.sql.DataFrame, minRecall: Double): Double = {
      val got = pairSet(df)
      // every emitted (pair, cosine) must agree with the exact score
      got.foreach { case (pair, cos) =>
        truth.get(pair).foreach(t => assert(t == cos, s"$name cosine differs for $pair"))
      }
      val recall = truth.keys.count(got.contains).toDouble / truth.size
      info(f"$name recall vs brute force: $recall%.3f (${truth.size} truth pairs)")
      assert(recall >= minRecall, f"$name recall $recall%.3f below $minRecall")
      recall
    }
    // Measured on this corpus: multi-probe LSH (radius 1) reaches 1.0
    // (0.44 at radius 0); IVF sits near nProbe/numCentroids + margin
    // because the synthetic embeddings are unclustered — the regime
    // where an inverted file cannot beat its cell-coverage ratio
    // (0.48-0.88 as nProbe goes 4->8 at sf0.01). Bounds are set below
    // the measured floor so a silent recall regression fails the
    // suite without making the suite flaky.
    check("s2_ann_lsh", Similarity.lshTopK(embs, probes, "embedding", "vec_id", 5, 64,
      numPlanes = 16, bands = 4), 0.8)
    val r0 = check("s3_ann_ivf(iters=0)",
      Similarity.ivfTopK(embs, probes, "embedding", "vec_id", 5), 0.4)
    val r8 = check("s3_ann_ivf(nProbe=8)",
      Similarity.ivfTopK(embs, probes, "embedding", "vec_id", 5, nProbe = 8), 0.6)
    info(f"IVF cell coverage: recall ${r0}%.3f (nProbe=4) -> ${r8}%.3f (nProbe=8)")
  }

  test("embeddingStats: hand-computed norms/coherence; zero-norm and ragged-dim alarms fire") {
    import spark.implicits._
    val embs = Seq(
      // grp 1: unit axes -> centroid (.5,.5), cos to it = 1/sqrt(2) each
      (1L, Array(1f, 0f), 1), (2L, Array(0f, 1f), 1),
      // grp 2: a zero vector (cos guarded to 0) + a 3-4-5 vector
      // centroid (1.5,2) is colinear with (3,4) -> cos 1; mean .5
      (3L, Array(0f, 0f), 2), (4L, Array(3f, 4f), 2),
      // grp 3: ragged dims -> min/max differ (the broken-encoder alarm)
      (5L, Array(1f, 0f), 3), (6L, Array(1f, 0f, 0f), 3)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.embeddingStats(embs, "embedding", "label")
      .orderBy("grp").collect()
    val g1 = got(0)
    assert((g1.getLong(1), g1.getLong(2), g1.getLong(3), g1.getLong(4)) == (2L, 2L, 2L, 0L))
    assert(g1.getDouble(5) == 1.0 && g1.getDouble(6) == 1.0)
    assert(math.abs(g1.getDouble(7) - 0.7071) < 1e-9, s"coherence ${g1.getDouble(7)}")
    val g2 = got(1)
    assert(g2.getLong(4) == 1L, "zero-norm vector must be counted")
    assert(g2.getDouble(5) == 2.5 && g2.getDouble(6) == 2.5 && g2.getDouble(7) == 0.5)
    val g3 = got(2)
    assert(g3.getLong(2) == 2L && g3.getLong(3) == 3L, "ragged dims must surface in dim_min/dim_max")
  }

  test("fuzzyNameJoin: SymSpell candidates reproduce the brute-force pair set exactly") {
    import spark.implicits._
    import graft.ops.Fuzzy
    import org.apache.spark.sql.functions.levenshtein
    // short strings (shared-empty-string variants), a distance-2 pair,
    // a far-away name, and duplicated rows to exercise the counts
    val names = Seq("abc", "abcd", "abd", "ab", "xyz", "qrstuv", "qrstwv", "abc")
    val df = names.toDF("nm")
    val got = Fuzzy.fuzzyNameJoin(df, "nm", maxDist = 2)
      .orderBy("name_a", "name_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val dict = names.distinct
    val truth = (for {
      a <- dict; b <- dict if a < b
    } yield (a, b)).map { case (a, b) =>
      val d = spark.range(1).select(
        levenshtein(lit(a), lit(b))).head().getInt(0)
      (a, b, d.toLong, names.count(_ == a).toLong, names.count(_ == b).toLong)
    }.filter(_._3 <= 2).sortBy(t => (t._1, t._2))
    assert(got.toSeq == truth, s"got ${got.toSeq}")
    assert(got.exists(_._3 == 2L), "a distance-2 pair must be present")
    assert(got.exists(t => t._1 == "abc" && t._4 == 2L), "counts must reflect duplicate rows")
    // delete neighborhood of a 2-char string at k=2 includes the empty string
    val vs = spark.range(1)
      .select(Fuzzy.deleteVariants(lit("ab"), 2).as("v")).head().getSeq[String](0)
    assert(vs.toSet == Set("ab", "a", "b", ""))
  }

  test("jsonFieldProfile: malformed and null blobs count as unparsed, never throw") {
    import spark.implicits._
    import graft.ops.Enrich
    val df = Seq(("a", "{\"k\": 3}"), ("a", "not json"), ("b", "{\"k\": 5}"),
      ("b", null), ("b", "{\"j\": 9}")).toDF("et", "props")
    val got = Enrich.jsonFieldProfile(df, "props", "k BIGINT", "k", "et")
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("a", 2L, 1L), ("b", 3L, 1L)), got.toSeq.toString)
  }

  test("entityResolve: transitive cluster, frequency canonical, tie-break, singleton") {
    import spark.implicits._
    import graft.ops.Fuzzy
    // "color" (3 rows) ~ "colour" ~ "colouur" chain: transitive cluster
    // of 3, canonical = most frequent ("color"). "aa"/"bb" are within
    // distance 2 with equal counts: canonical = lexicographic min "aa".
    // "unrelatedzz" matches nothing: singleton, canonical = itself.
    val names = Seq("color", "color", "color", "colour", "colouur",
      "aa", "bb", "unrelatedzz")
    val got = Fuzzy.entityResolve(names.toDF("nm"), "nm")
      .orderBy("name").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getInt(5)))
    assert(got.toSeq == Seq(
      ("aa", "aa", 1L, 2L, 2L, 1),
      ("bb", "aa", 1L, 2L, 2L, 0),
      ("color", "color", 3L, 3L, 5L, 1),
      ("colour", "color", 1L, 3L, 5L, 0),
      ("colouur", "color", 1L, 3L, 5L, 0),
      ("unrelatedzz", "unrelatedzz", 1L, 1L, 1L, 1)), got.toSeq.toString)
  }

  test("recallAtK: hand-built hits/misses; exact-vs-itself recall is 1.0; missed queries get a 0 row") {
    import spark.implicits._
    val truth = Seq((1L, 1, 10L), (1L, 2, 11L), (2L, 1, 20L), (2L, 2, 21L))
      .toDF("query_id", "rank", "neighbor_id")
    // q1: one of two hit (extra non-truth neighbor ignored); q2: absent
    val approx = Seq((1L, 1, 10L), (1L, 2, 99L)).toDF("query_id", "rank", "neighbor_id")
    val got = Similarity.recallAtK(truth, approx, 2).orderBy("query_id").collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((1L, 1L, 0.5), (2L, 0L, 0.0)))
    // an exact result evaluated against itself scores recall 1.0 everywhere
    val probes = embs.filter(col("vec_id") % 100 === 0)
    val bf = Similarity.bruteForceTopK(embs, probes, "embedding", "vec_id", 5)
    val self = Similarity.recallAtK(bf, bf, 5).collect()
    assert(self.nonEmpty && self.forall(_.getDouble(2) == 1.0))
  }

  test("LSH-blocked embedding dedup: precision 1.0, measured recall vs all-pairs truth") {
    // ground truth: exact all-pairs cosine >= threshold (feasible at
    // test SF only — the operator exists precisely because this cross
    // join does not scale)
    val threshold = 0.4
    val prep = embs.select(col("vec_id").as("id"), col("embedding").as("v"),
      sqrt(graft.functions.vectors.dot(col("embedding"), col("embedding"))).as("nrm"))
    val truthRows = prep.as("a").join(prep.as("b"), col("a.id") < col("b.id"))
      .withColumn("cosine",
        graft.functions.vectors.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id1"), col("b.id").as("id2"), col("cosine"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val truth = truthRows.map(_._1).toSet
    val got = Dedup.embeddingNearDupPairsLsh(embs, "embedding", "vec_id",
        threshold, dim = 64, numPlanes = 24, bands = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision 1.0 by construction: every emitted pair is exact-verified
    assert(got.subsetOf(truth), "LSH-blocked dedup emitted a below-threshold pair")
    assert(truth.nonEmpty, "degenerate corpus: no true pairs at the test threshold")
    val recall = truth.count(got.contains).toDouble / truth.size
    // random-hyperplane theory: a pair at cosine c collides on one
    // 4-bit band w.p. p(c)^4 with p(c) = 1 - acos(c)/pi, and on >= 1
    // of 6 bands w.p. 1 - (1 - p^4)^6 — measured recall must sit in a
    // band around the per-pair mean of that expectation (this corpus
    // only has BORDERLINE pairs, max cosine ~0.5, so expected recall
    // is ~0.6-0.7 here; true near-dups at c >= 0.9 collide w.p. > 0.99)
    val expected = truthRows.map { case (_, c) =>
      val p = 1.0 - math.acos(math.min(c, 1.0)) / math.Pi
      1.0 - math.pow(1.0 - math.pow(p, 4.0), 6.0)
    }.sum / truthRows.length
    info(f"d8 recall vs all-pairs truth: $recall%.3f (${got.size}/${truth.size}), theory $expected%.3f")
    assert(math.abs(recall - expected) <= 0.15,
      f"d8 recall $recall%.3f outside theory band around $expected%.3f")
    assert(recall >= 0.5, f"d8 recall $recall%.3f collapsed")
  }

  test("threshold-derived LSH banding: t=0.5 unchanged, t=0.8 cuts candidates >= 4x with recall 1.0") {
    // the derivation itself: the long-standing t=0.5 banding is the
    // fixed point (nothing changes for existing callers), and higher
    // thresholds get steeper, further-right s-curves
    assert(Dedup.defaultBands(128, 0.5) == 32)
    assert(Dedup.defaultBands(128, 0.8) == 16)
    assert(Dedup.defaultBands(128, 0.9) == 16)

    // candidate volume at t=0.8: the derived banding must prune >= 4x
    // vs the fixed t=0.5 banding (candidates ARE the op's cost)
    val fixed = Dedup.minhashCandidates(docs, "text", "doc_id",
      bands = 32, jaccardThreshold = 0.8).count()
    val derived = Dedup.minhashCandidates(docs, "text", "doc_id",
      jaccardThreshold = 0.8).count()
    info(s"t=0.8 candidates: bands=32 -> $fixed, derived bands=16 -> $derived")
    assert(derived * 4 <= fixed,
      s"derived banding pruned ${fixed}->${derived}, less than 4x")

    // recall stays 1.0 at t=0.8: every brute-force pair at jaccard >=
    // 0.8 survives the derived banding (near-exact pairs agree on
    // nearly all minhash slots, so they collide on an 8-row band with
    // prob >= the 4-row band's — banding only got SAFER for them)
    val brute = bruteJaccardPairs(0.8)
    val banded = Dedup.minhashPairs(docs, "text", "doc_id", jaccardThreshold = 0.8)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "degenerate corpus: no pairs at jaccard >= 0.8")
    assert(brute == banded,
      s"derived banding lost pairs: ${(brute -- banded).take(5)}")

    // and the t=0.5 default result is byte-identical to the explicit
    // bands=32 call (the derived default IS 32 there)
    val a = Dedup.minhashPairs(docs, "text", "doc_id")
      .orderBy("id1", "id2").collect().mkString("|")
    val b = Dedup.minhashPairs(docs, "text", "doc_id", bands = 32)
      .orderBy("id1", "id2").collect().mkString("|")
    assert(a == b)
  }

  /** Brute-force shingle-jaccard pairs at `threshold` — O(N²), test SF
    * only.
    */
  private def bruteJaccardPairs(threshold: Double): Set[(Long, Long)] = {
    val hashed = docs.select(col("doc_id").as("id"),
      array_sort(graft.functions.hashing.charShingleHashes(
        graft.functions.text.normalize(col("text")), 5)).as("hs"))
      .filter(size(col("hs")) > 0)
    hashed.as("a").join(hashed.as("b"), col("a.id") < col("b.id"))
      .withColumn("inter", size(array_intersect(col("a.hs"), col("b.hs"))).cast("double"))
      .withColumn("j", col("inter") /
        (size(col("a.hs")) + size(col("b.hs")) - col("inter")))
      .filter(col("j") >= threshold)
      .select(col("a.id"), col("b.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("autoBandBits tracks corpus size; auto-banded lshTopK stays score-exact") {
    import graft.ops.Similarity.autoBandBits
    // 2^bits ~ corpus/targetBucket, floor 2, capped to the 63-bit sig
    assert(autoBandBits(2000) == 5)
    assert(autoBandBits(20000) == 9)
    assert(autoBandBits(20000000) == 15, "capped at 63/bands bits")
    assert(autoBandBits(10) == 2, "floor of 2 bits")
    // exact power-of-two boundaries: the integer rule has no FP wobble
    // (this is why it is an integer search — the oracle SQL runs the
    // same rule and the two engines must never round differently)
    assert(autoBandBits(2048) == 5 && autoBandBits(2049) == 6)
    // monotone: a bigger corpus never gets fewer bits
    val seq = Seq(100L, 1000L, 10000L, 100000L, 10000000L).map(autoBandBits(_))
    assert(seq == seq.sorted)
    // degenerate band counts fail with the intended message, not / by 0
    assert(intercept[IllegalArgumentException] {
      autoBandBits(1000, bands = 0)
    }.getMessage.contains("bands"))
    // the auto-derived banding produces valid results on the test
    // corpus: every emitted neighbor carries its exact brute-force
    // cosine (precision 1.0 on scores — recall is the tuned trade)
    val probes = embs.filter(col("vec_id") % 100 === 0)
    val bits = autoBandBits(embs.count())
    val auto = Similarity.lshTopK(embs, probes, "embedding", "vec_id", 5, 64,
      numPlanes = 4 * bits, bands = 4)
    val bf = Similarity.bruteForceTopK(embs, probes, "embedding", "vec_id", 1000)
      .select(col("query_id"), col("neighbor_id"), col("cosine").as("bf_cos"))
    val wrong = auto.join(bf, Seq("query_id", "neighbor_id"), "left_outer")
      .filter(col("bf_cos").isNull || col("bf_cos") =!= col("cosine")).count()
    assert(wrong == 0, "auto-banded lshTopK emitted a non-exact cosine")
    assert(auto.count() > 0)
  }

  test("ivf with nProbe = numCentroids equals brute force exactly") {
    val probes = embs.filter(col("vec_id") % 100 === 0)
    val bf = Similarity.bruteForceTopK(embs, probes, "embedding", "vec_id", 5)
      .orderBy("query_id", "rank").collect().mkString("|")
    val ivf = Similarity.ivfTopK(embs, probes, "embedding", "vec_id", 5,
        numCentroids = 8, nProbe = 8)
      .orderBy("query_id", "rank").collect().mkString("|")
    assert(ivf == bf)
  }

  test("pqTopK: recall vs exact-L2 truth, exhaustive-codebook exactness on ids, invariance") {
    import org.apache.spark.sql.expressions.Window
    // sf0.01 (the declared query's smallest gate corpus): recall is a
    // corpus property, so the floor is pinned to the corpus it was
    // measured on (sf0.001's 500-row slice measures 0.24 — smaller
    // corpora don't make PQ quantization error smaller)
    val embs = Tables(spark, "/root/testdata/sf0.01").embeddings
    val probes = embs.filter(col("vec_id") % 100 === 0)
    val pq = Similarity.pqTopK(embs, probes, "embedding", "vec_id", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // exact-L2 ground truth (PQ approximates L2, not cosine)
    val dot = graft.functions.vectors.dot _
    val p = probes.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val d2 = dot(col("qv"), col("qv")) - lit(2.0) * dot(col("qv"), col("cv")) +
      dot(col("cv"), col("cv"))
    val w = Window.partitionBy("query_id").orderBy(col("d").asc, col("neighbor_id"))
    val truth = embs.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .join(broadcast(p), col("query_id") =!= col("neighbor_id"))
      .withColumn("d", d2)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.count(pq.contains).toDouble / truth.size
    info(f"PQ(8x64) recall@5 vs exact L2: $recall%.3f (${truth.size} truth pairs)")
    // measured 0.52 at the 8-subspace x 64-code default on this
    // synthetic unclustered corpus (4x16 measured 0.12 — 16-dim
    // subvectors quantize a 64-dim near-uniform cloud too coarsely);
    // floor set below the measurement so a silent regression fails
    // without flaking
    assert(recall >= 0.3, f"PQ recall $recall%.3f below floor")
    // every probe gets exactly k rows, and the result is invariant to
    // input partitioning (the codebooks/codes are data-determined)
    val again = Similarity.pqTopK(embs.repartition(11), probes, "embedding",
      "vec_id", 5).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(again == pq)
    val counts = Similarity.pqTopK(embs, probes, "embedding", "vec_id", 5)
      .groupBy("query_id").count().collect().map(_.getLong(1)).toSet
    assert(counts == Set(5L))
  }

  test("pqRerankTopK: exact rerank repairs ADC ranking; candidates >= corpus equals brute force") {
    val embs = Tables(spark, "/root/testdata/sf0.01").embeddings
    val probes = embs.filter(col("vec_id") % 100 === 0)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    val bf = Similarity.bruteForceTopK(embs, probes, "embedding", "vec_id", 5)
    val rr = Similarity.pqRerankTopK(embs, probes, "embedding", "vec_id",
      k = 5, candidates = 50)
    val bfIds = bf.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val rrIds = rr.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = bfIds.count(rrIds.contains).toDouble / bfIds.size
    info(f"rerank(c=50) recall@5 vs exact cosine: $recall%.3f")
    // raw ADC ranking on this corpus measures ~0.52 (pqTopK spec); the
    // rerank stage must repair most of the quantization error — floor
    // below the measurement so a regression fails without flaking
    assert(recall >= 0.75, f"rerank recall $recall%.3f below floor")
    // with candidates >= corpus the candidate net is the whole corpus,
    // so the rerank IS brute force: rows must match exactly (ranks,
    // ids, and 4dp cosines), proving stage-2 scoring parity
    val full = Similarity.pqRerankTopK(embs, probes, "embedding", "vec_id",
      k = 5, candidates = 10000)
    assert(key(full) == key(bf), "candidates>=corpus rerank != brute force")
  }

  test("ivfPqTopK: complete prune equals pqTopK exactly; pruning only narrows; recall holds") {
    val embs = Tables(spark, "/root/testdata/sf0.01").embeddings
    val probes = embs.filter(col("vec_id") % 100 === 0)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    // nProbe = numCentroids reads every inverted list — the prune is
    // complete, so the composite must equal the exhaustive ADC scan
    // row-for-row (ranks, ids, and exact adist)
    val full = Similarity.ivfPqTopK(embs, probes, "embedding", "vec_id", 5,
      numCentroids = 8, nProbe = 8)
    val pq = Similarity.pqTopK(embs, probes, "embedding", "vec_id", 5)
    assert(key(full) == key(pq), "nProbe=numCentroids ivfpq != pqTopK")
    // the declared 4-of-16 prune: every emitted (query, neighbor,
    // adist) is one the exhaustive scan scores identically (the prune
    // narrows the candidate net, never changes a score), and recall
    // vs the unpruned ADC ranking stays useful
    val pruned = Similarity.ivfPqTopK(embs, probes, "embedding", "vec_id", 5,
      numCentroids = 16, nProbe = 4)
    val prunedRows = pruned.collect()
    val pqAll = Similarity.ivfPqTopK(embs, probes, "embedding", "vec_id", 20,
        numCentroids = 16, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    prunedRows.foreach { r =>
      val k = (r.getLong(0), r.getLong(2))
      assert(pqAll.get(k).forall(_ == r.getDouble(3)),
        s"pruned pair $k scored differently than the exhaustive scan")
    }
    val pqIds = pq.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val prIds = prunedRows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = pqIds.count(prIds.contains).toDouble / pqIds.size
    info(f"ivfpq(16 lists, 4 probes) recall@5 vs exhaustive ADC: $recall%.3f")
    // measured 0.56 on this corpus (the 4/16 prune's own recall, on
    // top of PQ quantization); floor below the measurement
    assert(recall >= 0.4, f"ivfpq recall $recall%.3f below floor")
    // partitioning invariance (centroids, codebooks, codes are all
    // data-determined)
    assert(key(Similarity.ivfPqTopK(embs.repartition(11), probes,
      "embedding", "vec_id", 5, numCentroids = 16, nProbe = 4)) ==
      key(pruned))
  }

  test("ivfPqRerankTopK: rerank repairs pruned-ADC ranking; full degradation recovers brute force") {
    val embs = Tables(spark, "/root/testdata/sf0.01").embeddings
    val probes = embs.filter(col("vec_id") % 100 === 0)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val bf = Similarity.bruteForceTopK(embs, probes, "embedding", "vec_id", 5)
    val bfIds = ids(bf)
    // declared shape: 4-of-16 prune, 50 ADC candidates, exact rerank
    val rr = Similarity.ivfPqRerankTopK(embs, probes, "embedding", "vec_id",
      k = 5, candidates = 50, numCentroids = 16, nProbe = 4)
    val raw = Similarity.ivfPqTopK(embs, probes, "embedding", "vec_id",
      5, numCentroids = 16, nProbe = 4)
    val rec = (d: Set[(Long, Long)]) => bfIds.count(d.contains).toDouble / bfIds.size
    info(f"ivfpq+rerank recall@5 vs exact cosine: ${rec(ids(rr))}%.3f (raw pruned ADC ${rec(ids(raw))}%.3f)")
    assert(rec(ids(rr)) >= rec(ids(raw)),
      "exact rerank must not lose recall vs the raw pruned ADC ranking")
    // full degradation: every list probed + candidate net >= corpus
    // means stage 1 proposes everything and stage 2 IS brute force
    val full = Similarity.ivfPqRerankTopK(embs, probes, "embedding", "vec_id",
      k = 5, candidates = 10000, numCentroids = 8, nProbe = 8)
    assert(key(full) == key(bf), "fully-degraded ivfpq rerank != brute force")
  }

  test("t38: broadcast and shuffle dictionary-join legs are row-identical") {
    // the distinct-word (t38) table GROWS with the corpus (Heaps' law),
    // so the 100 TB path is broadcastModel = false — a plain equi-join
    // AQE plans. Both legs must be row-identical (the d2/d4 verify-join
    // treatment; VERDICT r09 #1)
    import graft.ops.TextAnalysis
    val train = substring(md5(concat(col("doc_id").cast("string"),
      lit(":"), lit("graft"))), 1, 4) < "e666"
    val costLegs = Seq(true, false).map(b =>
      TextAnalysis.tokenizerCost(docs, "text", "doc_id", train, broadcastModel = b)
        .orderBy("doc_id").collect().mkString("|"))
    assert(costLegs.distinct.size == 1,
      "tokenizerCost diverges between broadcast and shuffle dictionary joins")
    assert(costLegs.head.nonEmpty)
  }

  test("round-6 operators are partitioning-invariant") {
    import graft.ops.{Curation, Graph, TextAnalysis}
    def run[A](f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
               src: org.apache.spark.sql.DataFrame): Seq[String] =
      Seq(src.repartition(13), src.coalesce(1), src)
        .map(d => f(d).collect().mkString("|"))
    // g3: labels must not depend on how edges are partitioned
    val pairs = Dedup.embeddingNearDupPairs(embs, "embedding", "vec_id",
      "label", 0.2)
    val g3 = run(p => Graph.labelPropagation(p, "id1", "id2", iters = 3)
      .orderBy("id"), pairs)
    assert(g3.distinct.size == 1, "labelPropagation diverges across partitionings")
    // s10: the k-NN graph is a pure function of the corpus
    val s10 = run(e => Similarity.knnGraph(e, "embedding", "vec_id", 5,
      dim = 64, numPlanes = 24, bands = 6)
      .orderBy("id", "rank"), embs)
    assert(s10.distinct.size == 1, "knnGraph diverges across partitionings")
    // t31: the A-ES sample is a pure function of (ids, weights)
    val scored = docs.select(col("doc_id"), col("lang"),
      graft.functions.text.qualityScore(col("text")).as("q"))
    val t31 = run(d => Curation.weightedSample(d, "doc_id", "lang", "q", "ws", 5)
      .orderBy("grp", "rank"), scored)
    assert(t31.distinct.size == 1, "weightedSample diverges across partitionings")
    // t33: PMI totals are global aggregates — no partition sensitivity
    val t33 = run(d => TextAnalysis.pmiPairs(d, "text", minCount = 2L, topN = 20),
      docs)
    assert(t33.distinct.size == 1, "pmiPairs diverges across partitionings")
  }

  test("bandingRecall: planted known-recall configurations — one 128-row band misses the mid-J pair, many narrow bands find it") {
    import spark.implicits._
    // A/B are byte-identical (J = 1.0: identical signatures collide in
    // EVERY band layout); C/D share a long prefix (exact shingle
    // J ≈ 0.55 — above the 0.5 threshold but far from 1, so a single
    // 128-row band requires all 128 minhash slots to agree, which a
    // J≈0.55 pair essentially never does). E is unrelated filler.
    // keep-all sample ('g000') so sampling cannot confound the plant.
    // non-repetitive shared prefix (every shingle distinct) so the
    // C/D overlap is ~|prefix| / (|prefix| + both suffixes) ≈ 0.55
    val prefixCD = (0 until 40).map(i => f"tok$i%02dabc").mkString(" ")
    val sfx3 = (0 until 15).map(i => s"omg${i}qq").mkString(" ")
    val sfx4 = (0 until 15).map(i => s"zed${i}vv").mkString(" ")
    val docs = Seq(
      (1L, "identical twin text with several words repeated nowhere else body"),
      (2L, "identical twin text with several words repeated nowhere else body"),
      (3L, s"$prefixCD $sfx3"),
      (4L, s"$prefixCD $sfx4"),
      (5L, "completely unrelated filler content nothing shared here at all"))
      .toDF("doc_id", "text")
    def recallAt(bands: Int) =
      Dedup.bandingRecall(docs, "text", "doc_id", numPerm = 128,
          bands = bands, sampleHex = "g000")
        .head()
    // ground truth is banding-independent: pairs (1,2) J=1.0 and
    // (3,4) J≈0.55 — two true pairs under every configuration
    val one = recallAt(1)
    assert(one.getLong(1) == 2L, s"truth pairs: $one")
    // ONE 128-row band: the identical pair still collides, the
    // mid-J pair cannot -> recall exactly 0.5, deterministically
    assert(one.getLong(3) == 1L && one.getDouble(4) == 0.5, one.toString)
    // 128 one-row bands: per-band collision probability = J, 128
    // trials -> the mid-J pair collides somewhere -> recall 1.0
    val wide = recallAt(128)
    assert(wide.getLong(1) == 2L && wide.getDouble(4) == 1.0, wide.toString)
    // the production default (32 x 4 at t = 0.5) also recovers both
    val dflt = recallAt(0)
    assert(dflt.getDouble(4) == 1.0, dflt.toString)
  }

  test("bandingRecall: empty-shingle docs drop from the sample (the d2 rule) — no sentinel-signature candidate blowup") {
    import spark.implicits._
    // five docs too short to shingle (norm < 5 chars) plus one real
    // near-dup pair: before the r12-advice fix every short doc shared
    // the all-sentinel signature, so all C(5,2)=10 short pairs passed
    // the 0>=0 size prefilter into candidates — a quadratic blowup
    // d2's production bander (which drops empty-shingle docs) never
    // produces. After the fix the short docs leave the sample
    // entirely: sample_docs = 2, candidates = the one real pair.
    val docs = Seq(
      (1L, "ab"), (2L, "cd"), (3L, "ef"), (4L, "gh"), (5L, "ij"),
      (6L, "identical twin text with several words nobody else has"),
      (7L, "identical twin text with several words nobody else has"))
      .toDF("doc_id", "text")
    val r = Dedup.bandingRecall(docs, "text", "doc_id", numPerm = 128,
      bands = 32, sampleHex = "g000").head()
    assert(r.getLong(0) == 2L, s"sample_docs should drop short docs: $r")
    assert(r.getLong(1) == 1L && r.getLong(2) == 1L && r.getLong(3) == 1L,
      s"only the real pair should be a candidate: $r")
    assert(r.getDouble(4) == 1.0, r.toString)
  }

  test("embeddingBandingRecall: planted known-recall configurations — one 24-bit band misses the mid-cosine pair, 24 one-bit bands find it") {
    import spark.implicits._
    // A/B are byte-identical (identical signature: collide in EVERY
    // band layout). C/D sit 40 degrees apart (cos ~0.766 — above the
    // 0.7 threshold but far from 1: a single 24-bit band needs all 24
    // hyperplane signs to agree, probability ~0.78^24 ~ 0.003, which
    // the fixed seed-42 planes realize as a miss). E is orthogonal
    // filler. keep-all sample so sampling cannot confound the plant.
    val rad = math.toRadians(40)
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    // A/B live in the (2,3) plane, C/D in the (0,1) plane, E on axis
    // 7 — cross-pair cosines are all 0, so truth is exactly the plant
    val embs = Seq(
      (1L, v(0, 0, 1, 1, 0, 0, 0, 0)),
      (2L, v(0, 0, 1, 1, 0, 0, 0, 0)),
      (3L, v(1, 0, 0, 0, 0, 0, 0, 0)),
      (4L, v(math.cos(rad), math.sin(rad), 0, 0, 0, 0, 0, 0)),
      (5L, v(0, 0, 0, 0, 0, 0, 0, 1)))
      .toDF("vec_id", "embedding")
    def recallAt(bands: Int) =
      Dedup.embeddingBandingRecall(embs, "embedding", "vec_id",
          threshold = 0.7, dim = 8, numPlanes = 24, bands = bands,
          sampleHex = "g000")
        .head()
    // truth is banding-independent: pairs (1,2) cos=1 and (3,4)
    // cos~0.766 — two true pairs under every configuration
    val one = recallAt(1)
    assert(one.getLong(0) == 5L && one.getLong(1) == 2L, one.toString)
    // ONE 24-bit band: the identical pair still collides, the
    // 40-degree pair cannot -> recall exactly 0.5
    assert(one.getLong(3) == 1L && one.getDouble(4) == 0.5, one.toString)
    // 24 one-bit bands: per-band collision probability ~0.78, 24
    // trials -> the mid-cosine pair collides somewhere -> recall 1.0
    val wide = recallAt(24)
    assert(wide.getLong(1) == 2L && wide.getDouble(4) == 1.0, wide.toString)
    // the d8-pinned production default (6 x 4-bit) also recovers both
    val dflt = recallAt(6)
    assert(dflt.getDouble(4) == 1.0, dflt.toString)
  }

  test("embeddingBandingRecall: argument validation — mixed sampleHex and non-multiple plane counts fail loud") {
    import spark.implicits._
    val embs = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Dedup.embeddingBandingRecall(embs, "embedding", "vec_id",
        threshold = 0.5, dim = 2, sampleHex = "0g0g")
    }
    assert(e1.getMessage.contains("sampleHex"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.embeddingBandingRecall(embs, "embedding", "vec_id",
        threshold = 0.5, dim = 2, numPlanes = 25, bands = 6)
    }
    assert(e2.getMessage.contains("multiple of bands"), e2.getMessage)
  }

  test("bandingRecall: argument validation fires the intended require, not arithmetic errors") {
    import spark.implicits._
    val docs = Seq((1L, "some text long enough")).toDF("doc_id", "text")
    // numPerm = 0 must hit the range require, never a / by zero in
    // defaultBands (the r12-advice ordering case)
    val e1 = intercept[IllegalArgumentException] {
      Dedup.bandingRecall(docs, "text", "doc_id", numPerm = 0)
    }
    assert(e1.getMessage.contains("numPerm must be in [1, 2048]"), e1.getMessage)
    // mixed hex/sentinel strings are rejected — only pure hex or the
    // g-prefixed keep-all form parse
    val e2 = intercept[IllegalArgumentException] {
      Dedup.bandingRecall(docs, "text", "doc_id", sampleHex = "0g0g")
    }
    assert(e2.getMessage.contains("sampleHex"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      Dedup.dupRateSample(docs, "text", sampleHex = "0g0g")
    }
    assert(e3.getMessage.contains("sampleHex"), e3.getMessage)
  }
}
