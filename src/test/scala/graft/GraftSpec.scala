package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.tables.Tables
import graft.functions.{geo, text, vectors, hashing}
import graft.ops._

object SparkHarness {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

class FunctionsSpec extends AnyFunSuite {
  import SparkHarness._
  import spark.implicits._

  test("normalize strips punctuation and collapses whitespace") {
    val got = Seq("  Hello,   WORLD!! 42 ").toDF("t")
      .select(text.normalize($"t")).as[String].head()
    assert(got == "hello world 42")
  }

  test("tokenCount handles empty and multi-space strings") {
    val got = Seq(("", 0L), ("a b  c", 3L), ("  x ", 1L)).toDF("t", "want")
      .select(text.tokenCount($"t").as("got"), $"want").as[(Long, Long)].collect()
    got.foreach { case (g, w) => assert(g == w) }
  }

  test("bpeTokenCount splits letter runs, digit runs, punct marks") {
    val got = Seq(("hello, world42!", 5L), ("", 0L), ("a.b", 3L))
      .toDF("t", "want")
      .select(text.bpeTokenCount($"t").as("got"), $"want").as[(Long, Long)].collect()
    got.foreach { case (g, w) => assert(g == w) }
  }

  test("compass8 maps cardinal bearings correctly") {
    val cases = Seq((0.0, "N"), (45.0, "NE"), (90.0, "E"), (135.0, "SE"),
      (180.0, "S"), (225.0, "SW"), (270.0, "W"), (315.0, "NW"), (359.9, "N"))
    val got = cases.toDF("b", "want")
      .select(geo.compass8($"b").as("got"), $"want").as[(String, String)].collect()
    got.foreach { case (g, w) => assert(g == w) }
  }

  test("bearing due north/east from town center") {
    val df = Seq((geo.TownCenterLat + 0.1, geo.TownCenterLon),
      (geo.TownCenterLat, geo.TownCenterLon + 0.1)).toDF("lat", "lon")
    val got = df.select(geo.sideOfTown($"lat", $"lon")).as[String].collect()
    assert(got.toSeq == Seq("N", "E"))
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), 1.0),
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f), 0.0)).toDF("a", "b", "want")
    val got = df.select(vectors.cosine($"a", $"b").as("got"), $"want")
      .as[(Double, Double)].collect()
    got.foreach { case (g, w) => assert(math.abs(g - w) < 1e-9) }
  }

  test("minhash signature is deterministic and length numPerm") {
    val df = Seq(Seq("ab", "bc", "cd")).toDF("sh")
    val s1 = df.select(hashing.minhash($"sh", 16)).as[Seq[Long]].head()
    val s2 = df.select(hashing.minhash($"sh", 16)).as[Seq[Long]].head()
    assert(s1 == s2 && s1.length == 16)
  }

  test("identical token lists get identical simhash; hamming 0") {
    val df = Seq((Seq("a", "b", "c"), Seq("a", "b", "c"))).toDF("x", "y")
    val got = df.select(hashing.hamming64(
      hashing.simhash64($"x"), hashing.simhash64($"y"))).as[Long].head()
    assert(got == 0L)
  }
}

class OperatorSpec extends AnyFunSuite {
  import SparkHarness._

  test("dedupKeepFirst keeps exactly one row per key, the earliest") {
    import spark.implicits._
    val df = Seq((1L, "a", 10L, 100L), (1L, "a", 5L, 50L), (2L, "b", 7L, 70L))
      .toDF("k", "t", "ord", "payload")
    val got = Enrich.dedupKeepFirst(df, Seq("k", "t"), Seq("ord"))
    assert(got.count() == 2)
    assert(got.filter($"k" === 1L).select("payload").as[Long].head() == 50L)
  }

  test("propagateFlag raises the whole group when any member is 1") {
    import spark.implicits._
    val df = Seq((1L, 0), (1L, 1), (2L, 0)).toDF("g", "flag")
    val got = Enrich.propagateFlag(df, Seq("g"), "flag")
      .groupBy("g").agg(min("flag_propagated").as("m"))
      .orderBy("g").as[(Long, Int)].collect()
    assert(got.toSeq == Seq((1L, 1), (2L, 0)))
  }

  test("scd2History collapses runs, reopens on change-back, NULL current version") {
    import spark.implicits._
    val log = Seq(
      (1L, "a", 10L, 1L), (1L, "a", 20L, 2L),   // run collapses
      (1L, "b", 30L, 3L), (1L, "b", 30L, 4L),   // dup ts, tie on id
      (1L, "a", 40L, 5L),                       // change BACK reopens
      (2L, "x", 15L, 6L))                       // second key
      .toDF("user_id", "v", "ts_ms", "event_id")
    val got = Enrich.scd2History(log, Seq("user_id"), "v", "ts_ms",
        tieCols = Seq("event_id"))
      .orderBy("user_id", "version")
      .select("user_id", "version", "v", "valid_from", "valid_to")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, 1L, "a", 10L, 30L), (1L, 2L, "b", 30L, 40L),
      (1L, 3L, "a", 40L, -1L), (2L, 1L, "x", 15L, -1L)))
  }

  test("pitJoin attaches the version in effect; NULL before first / unknown key") {
    import spark.implicits._
    val log = Seq((1L, "a", 10L, 1L), (1L, "b", 30L, 2L), (2L, "x", 5L, 3L))
      .toDF("user_id", "v", "ts_ms", "event_id")
    val history = Enrich.scd2History(log, Seq("user_id"), "v", "ts_ms",
      tieCols = Seq("event_id"))
    val facts = Seq((100L, 1L, 5L), (101L, 1L, 10L), (102L, 1L, 29L),
      (103L, 1L, 30L), (104L, 1L, 99L), (105L, 9L, 50L))
      .toDF("fact_id", "user_id", "ts_ms")
    val got = Enrich.pitJoin(facts, history, Seq("user_id"), "ts_ms")
      .orderBy("fact_id")
      .select("fact_id", "v", "version").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) "-" else r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(got.toSeq == Seq(
      (100L, "-", -1L),       // before the key's first version
      (101L, "a", 1L),        // at valid_from (inclusive)
      (102L, "a", 1L),        // strictly below the next valid_from
      (103L, "b", 2L),        // boundary ts belongs to the NEW version
      (104L, "b", 2L),        // open current version
      (105L, "-", -1L)))      // unknown key
  }

  test("rateAnomaly flags a spike; cold-start and zero-variance windows score NULL") {
    import spark.implicits._
    // minutes 1..10 alternate 4/6 events (mean 5, var 10/9), minute 11
    // spikes to 50; trailing stats exclude the current row
    val rows = (1 to 10).flatMap { m =>
      val cnt = if (m % 2 == 1) 4 else 6
      Seq.fill(cnt)((m.toLong, "a"))
    } ++ Seq.fill(50)((11L, "a"))
    val df = rows.toDF("m", "grp")
      .select((col("m") * 60).cast("timestamp").as("ts"), col("grp"))
    val got = Enrich.rateAnomaly(df, "ts", "grp", windowRows = 20,
        minPoints = 5, zThreshold = 3.0)
      .orderBy("minute_ms")
      .select("cnt", "z", "anomaly").collect()
    // minutes 1..5: fewer than 5 trailing points -> NULL, no flag
    (0 until 5).foreach { i => assert(got(i).isNullAt(1) && got(i).getLong(2) == 0L) }
    // minute 6 scores against 5 points; minute 11 is the spike
    assert(!got(5).isNullAt(1))
    val n = 10.0; val s = 50.0; val s2 = 260.0
    val varr = (s2 - s * s / n) / (n - 1)
    val want = math.floor((50.0 - s / n) / math.sqrt(varr) * 10000 + 0.5) / 10000
    assert(got(10).getDouble(1) == want && got(10).getLong(2) == 1L)
    // constant-rate series: zero variance -> NULL z, never a flag
    val const = (1 to 8).flatMap(m => Seq.fill(3)((m.toLong, "c"))).toDF("m", "grp")
      .select((col("m") * 60).cast("timestamp").as("ts"), col("grp"))
    val gz = Enrich.rateAnomaly(const, "ts", "grp", windowRows = 20,
      minPoints = 5, zThreshold = 3.0)
    assert(gz.filter(col("z").isNotNull).count() == 0)
    assert(gz.filter(col("anomaly") =!= 0L).count() == 0)
  }

  test("normalizeScores: robust center/spread per group; IQR=0 group collapses to 0.0") {
    import spark.implicits._
    val df = Seq((1L, "g1", 0.0), (2L, "g1", 1.0), (3L, "g1", 2.0),
      (4L, "g1", 3.0), (5L, "g1", 4.0),
      (6L, "g2", 7.0), (7L, "g2", 7.0), (8L, "g2", 7.0))
      .toDF("doc_id", "grp", "score")
    val got = TextAnalysis.normalizeScores(df, "doc_id", "grp", "score")
      .orderBy("id").select("id", "norm_score").as[(Long, Double)].collect().toSeq
    // g1: med 2, iqr (p75 - p25) = 2 -> (x - 2) / 2
    assert(got == Seq((1L, -1.0), (2L, -0.5), (3L, 0.0), (4L, 0.5), (5L, 1.0),
      (6L, 0.0), (7L, 0.0), (8L, 0.0)))
  }

  test("zValue interleaves bits and orders tiles; known values") {
    import spark.implicits._
    import graft.functions.num
    // (a=1, b=0) -> 1; (0, 1) -> 2; (3, 3) -> 15; (4, 0) -> 16
    val got = Seq((1L, 0L), (0L, 1L), (3L, 3L), (4L, 0L)).toDF("a", "b")
      .select(num.zValue(col("a"), col("b"), 8)).as[Long].collect().toSeq
    assert(got == Seq(1L, 2L, 15L, 16L))
  }

  test("exact dedup groups duplicates under one fingerprint") {
    import spark.implicits._
    val df = Seq((1L, "Hello World"), (2L, "hello,   world!"), (3L, "other"))
      .toDF("doc_id", "text")
    val got = Dedup.exactGroups(df, "text", "doc_id")
    assert(got.count() == 2)
    assert(got.filter($"n_dups" === 2).select("canonical_id").as[Long].head() == 1L)
  }

  test("incrementalDedup: index dup wins, within-delta first is new, rest dup_delta") {
    import spark.implicits._
    val index = Seq((1L, "alpha text"), (2L, "beta text")).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "Alpha,   TEXT!"),  // normalizes to an index fingerprint
      (11L, "gamma text"),      // first of a within-delta pair -> new
      (12L, "gamma   text"),    // same fingerprint, larger id -> dup_delta
      (13L, "beta text"),       // index dup...
      (14L, "beta text"),       // ...and ALSO a within-delta dup: index wins for BOTH
      (15L, "delta text")       // unique -> new
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(index, delta, "text", "doc_id")
    val verdicts = got.select("doc_id", "verdict").as[(Long, String)].collect().toMap
    assert(verdicts == Map(10L -> "dup_index", 11L -> "new", 12L -> "dup_delta",
      13L -> "dup_index", 14L -> "dup_index", 15L -> "new"))
    // every delta row gets exactly one verdict row
    assert(got.count() == 6)
    // fingerprint-keyed equi-joins only: a pairwise or nested-loop form
    // would not survive a 100 TB index
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
    // passing the persisted fingerprint table directly (the production
    // path: prior batches' index, never rescanned as text) agrees
    val fps = index.select(org.apache.spark.sql.functions.md5(
      graft.functions.text.normalize($"text")).as("fingerprint"))
    val got2 = Dedup.incrementalDedup(fps, delta, "text", "doc_id",
      indexIsFingerprints = true)
    assert(got2.orderBy("doc_id").collect().toSeq == got.orderBy("doc_id").collect().toSeq)
  }

  test("minhashIncremental: index near-dup wins, delta pair splits first/dup, short doc is new") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away across the wide green field toward the river"
    val other = "completely different content about spark shuffles and " +
      "partition pruning in a distributed analytics engine at scale"
    val index = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val delta = Seq(
      (10L, base.replace("lazy", "sleepy")),  // near-dup of index 1
      (11L, "a standalone story about mountains valleys glaciers and " +
            "the slow patient work of ice over geological time spans"),
      (12L, ("a standalone story about mountains valleys glaciers and " +
            "the slow patient work of ice over geological time spans")
            .replace("patient", "steady")),   // near-dup of delta 11
      (13L, "ab")                             // zero shingles after norm pad
    ).toDF("doc_id", "text")
    val got = Dedup.minhashIncremental(index, delta, "text", "doc_id")
    val verdicts = got.select("doc_id", "verdict").as[(Long, String)].collect().toMap
    assert(verdicts == Map(10L -> "dup_index", 11L -> "new",
      12L -> "dup_delta", 13L -> "new"))
    // every delta row verdicted exactly once; match counts line up
    assert(got.count() == 4)
    val counts = got.select("doc_id", "n_index_matches", "n_delta_matches")
      .as[(Long, Long, Long)].collect().map { case (k, v, w) => k -> ((v, w)) }.toMap
    assert(counts(10L)._1 >= 1 && counts(12L)._2 == 1 && counts(13L) == ((0L, 0L)))
    // band equi-joins only — index×index is never paired and nothing
    // degenerates to a product
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("dupRateSample: fingerprint-coherent sampling estimates the dup rate") {
    import spark.implicits._
    // 30 distinct texts, each with 1 extra copy -> true dup rate 0.5
    val docs = (1 to 30).flatMap { i =>
      Seq((i.toLong, s"unique document number $i"),
          (100L + i, s"unique document number $i"))
    }.toDF("doc_id", "text")
    val full = Dedup.dupRateSample(docs, "text", sampleHex = "g000").head()
    // "g000" > any hex prefix -> whole corpus sampled: exact answer
    assert(full.getLong(0) == 60 && full.getLong(1) == 30 && full.getLong(2) == 30)
    assert(full.getDouble(3) == 0.5)
    val sampled = Dedup.dupRateSample(docs, "text", sampleHex = "8000").head()
    // cluster-coherent: every sampled fingerprint brings BOTH copies,
    // so the in-sample rate is exactly the corpus rate regardless of
    // which groups the hash picked
    assert(sampled.getLong(0) == 2 * sampled.getLong(1))
    assert(sampled.getDouble(3) == 0.5)
    val empty = Dedup.dupRateSample(docs, "text", sampleHex = "0000").head()
    assert(empty.getLong(0) == 0 && empty.isNullAt(3))
    intercept[IllegalArgumentException] {
      Dedup.dupRateSample(docs, "text", sampleHex = "XYZ")
    }
  }

  test("minhashPairs finds a planted near-duplicate") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again " * 5
    val df = Seq((1L, base), (2L, base + " tail"), (3L, "completely different text entirely"))
      .toDF("doc_id", "text")
    val got = Dedup.minhashPairs(df, "text", "doc_id", numPerm = 64, bands = 16)
    val pairs = got.select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("bruteForceTopK returns k ranked neighbors per probe") {
    import spark.implicits._
    val emb = Tables(spark, sfDir).embeddings
    val probes = emb.filter(col("vec_id") === 0)
    val got = Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", 3)
    val rows = got.orderBy("rank").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getInt(1)).toSeq == Seq(1, 2, 3))
    val scores = rows.map(_.getDouble(3))
    assert(scores.sliding(2).forall(s => s(0) >= s(1)))
  }

  test("withinDistancePairs: brute-force parity, exactly-once pairs, cell-boundary recall") {
    import graft.ops.Spatial
    import spark.implicits._
    // a lattice + near-boundary stragglers: pairs straddling cell
    // edges are exactly the ones naive per-cell joins lose
    val pts = Seq(
      (1L, 0.000, 0.000), (2L, 0.009, 0.000),   // same cell, dist .009
      (3L, 0.011, 0.000),                        // next cell, dist .002 from 2
      (4L, 0.0, 0.011), (5L, 0.05, 0.05),        // 5 isolated
      (6L, -0.001, -0.001)                       // negative coords cell
    ).toDF("id", "lat", "lon")
    val got = Spatial.withinDistancePairs(pts, "id", col("lat"), col("lon"),
        maxDist = 0.01).orderBy("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // brute-force truth in scala
    val raw = Seq((1L, 0.000, 0.000), (2L, 0.009, 0.000), (3L, 0.011, 0.000),
      (4L, 0.0, 0.011), (5L, 0.05, 0.05), (6L, -0.001, -0.001))
    val truth = (for {
      (a, la, lo) <- raw; (b, lb, lob) <- raw if a < b
      if (la - lb) * (la - lb) + (lo - lob) * (lo - lob) <= 0.01 * 0.01
    } yield (a, b)).sorted
    assert(got == truth, s"got $got expected $truth")
    // exactly-once: no duplicate unordered pairs even via 9 cells
    assert(got.distinct == got)
    // the straddler (2,3) crosses a cell boundary and must be found
    assert(got.contains((2L, 3L)))
  }

  test("withinDistancePairs: exact-boundary delta == maxDist is found; cellSize == maxDist refused") {
    import graft.ops.Spatial
    import spark.implicits._
    // per-axis delta EXACTLY maxDist: the real-number Chebyshev bound
    // needs delta < cellSize, so the default must be one ulp wider
    // than maxDist or FP floor can park the pair 2 cells apart
    val pts = Seq((1L, 0.01, 0.0), (2L, 0.02, 0.0)).toDF("id", "lat", "lon")
    val got = Spatial.withinDistancePairs(pts, "id", col("lat"), col("lon"),
        maxDist = 0.01).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 2L)), s"boundary pair lost: $got")
    // an explicit cellSize equal to maxDist silently breaks that
    // recall guarantee — the API refuses it outright
    val e = intercept[IllegalArgumentException] {
      Spatial.withinDistancePairs(pts, "id", col("lat"), col("lon"),
        maxDist = 0.01, cellSize = 0.01)
    }
    assert(e.getMessage.contains("STRICTLY"))
  }

  test("frequencyRankTop: ranks equal the global ranks for the retained keys") {
    import graft.ops.Enrich
    import spark.implicits._
    // key k repeated k times → counts 1..6, no ties: top-3 is {6,5,4}
    val df = (for { k <- 1 to 6; _ <- 1 to k } yield k.toString)
      .toDF("k")
    val full = Enrich.frequencyRank(df, "k")
      .collect().map(r => r.getString(0) -> r.getInt(2)).toMap
    val top = Enrich.frequencyRankTop(df, "k", topN = 3)
      .orderBy("rank").collect()
      .map(r => (r.getString(0), r.getInt(2))).toSeq
    assert(top == Seq(("6", 1), ("5", 2), ("4", 3)))
    assert(top.forall { case (k, r) => full(k) == r })
  }

  test("containmentPairs flags the subset-dup symmetric Jaccard misses") {
    import spark.implicits._
    val small = "alpha beta gamma delta epsilon"
    val big = "one two three four five six seven " + small +
      " eight nine ten eleven twelve"
    val docs = Seq(
      (1L, small, "s"),               // 3 grams, all inside doc 2
      (2L, big, "s"),                 // 15 grams
      (3L, "unrelated totally different words here", "s"),
      (4L, small, "t")                // identical to 1 but other block
    ).toDF("doc_id", "text", "block")
    val got = Dedup.containmentPairs(docs, "text", "doc_id", col("block"),
        threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // only the DIRECTED row survives: 1 ⊂ 2 at 3/3 = 1.0; the reverse
    // direction is 3/15 = 0.2, and Jaccard (0.2) would miss the pair
    // entirely at this threshold; block 't' never pairs with 's'
    assert(got == Seq((1L, 2L, 1.0)))
    val loose = Dedup.containmentPairs(docs, "text", "doc_id", col("block"),
        threshold = 0.2)
      .orderBy("id_sub", "id_sup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(loose == Seq((1L, 2L, 1.0), (2L, 1L, 0.2)))
  }

  test("prefix-filter candidates reproduce the full pair join exactly (d4 + d17 A/B)") {
    // The r14 scale fix: candidate generation via the df-ordered
    // prefix filter must be output-IDENTICAL to the quadratic
    // within-block pair join it replaced — recall 1.0 by the prefix
    // lemma, precision 1.0 because the verify is exact. The reference
    // is that pair join, brute force: every ordered pair of docs in a
    // block, intersected over the expression-built gram hashes. Run
    // on the real sf0.001 corpus so boilerplate/hot grams and the
    // rounding margin are exercised, not a toy.
    import graft.functions.num.fround
    val docs = Tables(spark, sfDir).documents
    val sets = docs
      .select(col("doc_id").as("id"), col("source").as("block"),
        text.tokens(text.normalize(col("text"))).as("toks"))
      .select(col("id"), col("block"),
        hashing.elementHashes(text.wordNgramsOfTokens(col("toks"), 3)).as("g"))
    val pairs = sets.as("a").join(sets.as("b"),
        col("a.block") === col("b.block") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"),
        size(col("a.g")).cast("double").as("na"),
        size(col("b.g")).cast("double").as("nb"),
        size(array_intersect(col("a.g"), col("b.g"))).cast("double").as("inter"))
    def triples(df: DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val union = col("na") + col("nb") - col("inter")
    val jFull = triples(pairs.where(col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        fround(when(union === 0.0, 0.0).otherwise(col("inter") / union), 4).as("j"))
      .where(col("j") >= 0.4))
    val jPref = triples(Dedup.ngramJaccardPairs(docs, "text", "doc_id", col("source")))
    assert(jPref == jFull,
      s"d4 paths diverge: prefix-only ${(jPref -- jFull).take(3)}, " +
        s"full-only ${(jFull -- jPref).take(3)}")
    assert(jPref.nonEmpty, "corpus must produce at least one d4 pair")
    val cFull = triples(pairs.where(col("na") > 0 && col("nb") > 0)
      .select(col("ida"), col("idb"), fround(col("inter") / col("na"), 4).as("c"))
      .where(col("c") >= 0.5))
    val cPref = triples(Dedup.containmentPairs(docs, "text", "doc_id",
      col("source"), threshold = 0.5))
    assert(cPref == cFull,
      s"d17 paths diverge: prefix-only ${(cPref -- cFull).take(3)}, " +
        s"full-only ${(cFull -- cPref).take(3)}")
    assert(cPref.nonEmpty, "corpus must produce at least one d17 pair")
  }

  test("rangeSearch returns every neighbor above the floor, map-only") {
    import spark.implicits._
    val corpus = Seq(
      (0L, Array(1f, 0f)), (1L, Array(1f, 0f)), (2L, Array(0f, 1f)),
      (3L, Array(-1f, 0f)), (4L, Array(1f, 1f))).toDF("vec_id", "embedding")
    val probes = corpus.filter(col("vec_id") === 0)
    val got = Similarity.rangeSearch(corpus, probes, "embedding", "vec_id", 0.5)
      .orderBy("neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // self excluded; cos(0,1)=1, cos(0,4)=1/sqrt(2); 2 and 3 below floor
    assert(got == Seq((0L, 1L, 1.0), (0L, 4L, 0.7071)))
    // a radius query is a filter, not a ranking: no shuffle anywhere
    val plan = Similarity.rangeSearch(corpus, probes, "embedding", "vec_id", 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"),
      s"rangeSearch must not shuffle:\n$plan")
  }

  test("ivfTopK with nProbe = numCentroids equals brute force exactly") {
    import spark.implicits._
    val emb = Tables(spark, sfDir).embeddings
    val probes = emb.filter(col("vec_id") % 100 === 0)
    val brute = Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", 5)
      .orderBy("query_id", "rank").collect().toSeq
    val ivf = Similarity.ivfTopK(emb, probes, "embedding", "vec_id", 5,
        numCentroids = 8, nProbe = 8)
      .orderBy("query_id", "rank").collect().toSeq
    assert(ivf == brute)
  }

  test("payloadDedup: identical bytes collapse to the lowest id; payloads never shuffle") {
    import spark.implicits._
    val docs = Seq((5L, "same bytes"), (2L, "same bytes"), (9L, "unique"))
      .toDF("doc_id", "text")
      .withColumn("payload", encode(col("text"), "UTF-8"))
    val got = Multimodal.payloadDedup(docs, "payload", "doc_id")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(3))).toSeq
    assert(got == Seq((2L, 2L, 0), (5L, 2L, 1), (9L, 9L, 0)))
    // scale contract: only (id, digest) reaches the exchange
    val plan = Multimodal.payloadDedup(docs, "payload", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.linesIterator.filter(_.contains("Exchange"))
      .exists(_.contains("payload")), s"payload must not shuffle:\n$plan")
  }

  test("frameSample emits strided frames; resizeStub shrinks by factor") {
    import spark.implicits._
    val df = Seq((7L, "ab" * 2048)).toDF("doc_id", "text") // 4096 bytes
      .withColumn("payload", encode(col("text"), "UTF-8"))
    val frames = Multimodal.frameSample(df, "payload", "doc_id",
      frameSize = 1024, stride = 2).collect()
    assert(frames.map(_.getLong(1)).toSeq == Seq(0L, 2L)) // frames 0,2 of 4
    assert(frames.forall(_.getAs[Array[Byte]]("frame").length == 1024))
    val resized = Multimodal.resizeStub(df, "payload", "small", factor = 4)
      .select(octet_length(col("small"))).as[Int].head()
    assert(resized == 1024)
  }

  test("multimodal feature extraction is deterministic and chunk-correct") {
    import spark.implicits._
    val df = Seq((0L, "x" * 2500)).toDF("doc_id", "text")
      .withColumn("payload", encode(col("text"), "UTF-8"))
    val got = Multimodal.extractFeatures(df, "payload", "doc_id").collect().head
    assert(got.getLong(1) == 2500L)
    assert(got.getLong(2) == 3L) // ceil(2500/1024)
    val again = Multimodal.extractFeatures(df, "payload", "doc_id").collect().head
    assert(got.getSeq[Long](4) == again.getSeq[Long](4))
  }

  test("cdcChunks boundaries are content-defined: an excised byte range only touches its neighborhood") {
    import spark.implicits._
    // an edited copy (header prepended + mid-payload excision) keeps
    // every chunk outside the edit's neighborhood — m4's whole-payload
    // md5 and fixed frames keep NOTHING after the first shifted byte
    val base = Tables(spark, "/root/testdata/sf0.01").documents
      .where(col("n_chars") >= 400).limit(8)
    val orig = base.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val edited = base.select((col("doc_id") + 100000L).as("doc_id"),
      encode(concat(lit("HDRv2 q50 "), substring(col("text"), 1, 100),
        expr("substring(text, 131)")), "UTF-8").as("payload"))
    val chunks = Multimodal.cdcChunks(orig.unionAll(edited), "payload", "doc_id")
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
    for (id <- chunks.keys.filter(_ < 100000L)) {
      val a = chunks(id); val b = chunks(id + 100000L)
      val shared = (a & b).size
      assert(shared * 2 > a.size,
        s"doc $id: edited copy must keep most chunks ($shared of ${a.size})")
      assert(a != b, s"doc $id: the edit must change SOME chunks")
    }
    // m4 blindness on the same pairs: zero shared fingerprints
    val m4 = Multimodal.payloadDedup(orig.unionAll(edited), "payload", "doc_id")
      .where(col("is_dup") === 1).count()
    assert(m4 == 0L, "byte-exact dedup must not pair edited payloads")
  }

  test("payloadNearDupPairs recovers every planted re-encode; payloads never shuffle") {
    import spark.implicits._
    val base = Tables(spark, "/root/testdata/sf0.01").documents
    val payloads = base.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val variants = base.where(col("doc_id") % 20 === 0 && col("n_chars") >= 400)
      .select((col("doc_id") + lit(1000000000L)).as("doc_id"),
        encode(concat(lit("HDRv2 q50 "), substring(col("text"), 1, 100),
          expr("substring(text, 131)")), "UTF-8").as("payload"))
    val nVariants = variants.count()
    assert(nVariants >= 5, s"corpus must provide planted variants, got $nVariants")
    val pairs = Multimodal.payloadNearDupPairs(payloads.unionAll(variants),
      "payload", "doc_id")
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = variants.select(col("doc_id") - lit(1000000000L)).collect()
      .map(_.getLong(0)).map(id => (id, id + 1000000000L)).toSet
    assert(planted.subsetOf(got),
      s"missed planted re-encodes: ${planted -- got}")
    // scale contract: the payload bytes never cross a KEYED exchange
    // (a round-robin one may appear: the `Tables.documents` loader's
    // small-scan parallelism floor, a no-op on an already-parallel
    // cluster scan)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.linesIterator.filter(_.contains("hashpartitioning"))
      .exists(_.contains("payload")), s"payload must not hash-shuffle:\n$plan")
  }
}

class QueriesSpec extends AnyFunSuite {
  import SparkHarness._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs and returns a schema-stable result") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.count() >= 0, s"$name failed to execute")
    }
  }

  test("every oracle key has a matching query") {
    val oracles = SparkEntry.oracleSql.keySet
    val queries = SparkEntry.queries.keySet
    assert(oracles == queries,
      s"oracle without query: ${oracles -- queries}; query without oracle: ${queries -- oracles}")
  }

  test("query selection: all when unset; empty or unknown names fail; valid names kept in order") {
    assert(SparkEntry.selectQueries(None) == SparkEntry.queries.keys.toSeq.sorted)
    Seq("", " , ,").foreach { v =>
      val e = intercept[IllegalArgumentException](SparkEntry.selectQueries(Some(v)))
      assert(e.getMessage.contains("names no queries"), e.getMessage)
    }
    val e = intercept[IllegalArgumentException](
      SparkEntry.selectQueries(Some("q1_pricing_summary,q1_typo")))
    assert(e.getMessage.contains("q1_typo") &&
      !e.getMessage.contains("q1_pricing_summary"), e.getMessage)
    assert(SparkEntry.selectQueries(Some(" t2_quality_score, q1_pricing_summary,t2_quality_score")) ==
      Seq("t2_quality_score", "q1_pricing_summary"))
  }
}

class StreamingSpec extends AnyFunSuite {
  import SparkHarness._

  test("hourlyRollup over a file stream matches batch counts") {
    import spark.implicits._
    val batch = Tables(spark, sfDir).events.select("ts", "event_type", "value")
    val expected = graft.streaming.EventStream.hourlyRollup(batch).count()

    val src = batch // same plan, driven as a stream via an in-memory round-trip
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
    src.write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(src.schema).parquet(tmp)
    val q = graft.streaming.EventStream.hourlyRollup(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("rollup_out").start()
    q.processAllAvailable()
    val got = spark.sql("SELECT count(*) FROM rollup_out").as[Long].head()
    q.stop()
    assert(got == expected)
  }

  test("sessionize splits on gap and counts events") {
    import spark.implicits._
    import graft.streaming.EventStream._
    val t0 = 1700000000000L
    val events = Seq(
      Event(1L, 1L, new java.sql.Timestamp(t0)),
      Event(1L, 2L, new java.sql.Timestamp(t0 + 60000)),
      Event(1L, 3L, new java.sql.Timestamp(t0 + 2 * 3600 * 1000))).toDS()
    val got = sessionize(events).collect()
    // batch mode: final sessions are flushed only on timeout, so we
    // check the emitted (closed) session from the gap split
    assert(got.exists(s => s.n_events == 2 && s.start_ms == t0))
  }

  test("map-only curation ops run unchanged on a stream") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val docs = ms.toDS().toDF("doc_id", "text")
    // stateless select/filter ops need no watermark or state store —
    // the same operator body serves batch and streaming callers
    val q = graft.ops.Curation.scrubPii(
        graft.ops.Curation.deterministicSplit(docs, "doc_id", "s",
          Seq(("train", 0.9), ("val", 0.1))),
        "text", "doc_id")
      .writeStream.outputMode("append").format("memory").queryName("cur_stream").start()
    try {
      ms.addData((1L, "mail bob@x.io now"), (2L, "clean"))
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, clean_text, n_emails FROM cur_stream")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got == Set((1L, "mail <EMAIL> now", 1L), (2L, "clean", 0L)), s"got $got")
    } finally q.stop()
  }

  test("stream-stream interval join matches views in the window, drops stale ones") {
    import spark.implicits._
    import graft.streaming.EventStream._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(u: Long, id: Long, ms: Long) = Event(u, id, new java.sql.Timestamp(ms))
    val t0 = 1700000000000L
    val views = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = viewPurchaseJoin(views.toDS(), purchases.toDS(), maxGap = "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("vp_join").start()
    try {
      views.addData(
        ev(1, 100, t0),                      // in window
        ev(1, 101, t0 - 2 * 3600 * 1000),    // too old -> no match
        ev(2, 200, t0))                      // other user -> no match
      purchases.addData(ev(1, 900, t0 + 60000))
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM vp_join")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == Set((1L, 900L, 100L, 60000L)), s"got $got")
    } finally q.stop()
    // batch path: same semantics on plain Datasets
    val bv = Seq(ev(1, 100, t0), ev(1, 101, t0 - 2 * 3600 * 1000)).toDS()
    val bp = Seq(ev(1, 900, t0 + 60000)).toDS()
    val batch = viewPurchaseJoin(bv, bp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(batch == Set((1L, 900L, 100L, 60000L)), s"batch got $batch")
  }

  test("runningAvg: watermark-ordered emission equals the batch trailing average") {
    import spark.implicits._
    import graft.streaming.EventStream._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(u: Long, id: Long, ms: Long, v: Double) =
      ValEvent(u, id, new java.sql.Timestamp(ms), v)
    val t0 = 1700000000000L
    val all = Seq(
      ev(1, 1, t0, 2.0), ev(1, 2, t0 + 60000, 4.0), ev(1, 3, t0 + 120000, 6.0),
      ev(1, 4, t0 + 180000, 8.0), ev(1, 5, t0 + 240000, 10.0),
      ev(2, 10, t0, 1.0), ev(2, 11, t0 + 30000, 3.0))
    // batch path: everything emitted, trailing-4 average in order
    val batch = runningAvg(all.toDS()).collect().sortBy(r => (r.user_id, r.event_id))
    assert(batch.map(_.mov_avg).toSeq == Seq(2.0, 3.0, 4.0, 5.0, 7.0, 1.0, 2.0))
    // streaming path: rows arrive OUT OF ORDER across batches within
    // the lateness; emitted rows must match the batch result exactly
    val ms = MemoryStream[ValEvent]
    val q = runningAvg(ms.toDS(), watermarkDelay = "2 minutes")
      .writeStream.outputMode("append").format("memory").queryName("run_avg").start()
    try {
      ms.addData(ev(1, 2, t0 + 60000, 4.0), ev(1, 1, t0, 2.0))   // out of order
      q.processAllAvailable()
      ms.addData(ev(1, 3, t0 + 120000, 6.0), ev(2, 10, t0, 1.0)) // wm -> t0
      q.processAllAvailable()
      ms.addData(ev(1, 4, t0 + 180000, 8.0), ev(2, 11, t0 + 30000, 3.0))
      q.processAllAvailable()
      ms.addData(ev(1, 5, t0 + 240000, 10.0))                    // wm -> t0+120s
      q.processAllAvailable()
      ms.addData(ev(9, 99, t0 + 3600 * 1000, 0.0))               // push wm far ahead
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM run_avg").as[RunOut].collect()
        .sortBy(r => (r.user_id, r.event_id))
      val expectUsers12 = batch.filter(_.user_id <= 2)
      assert(got.filter(_.user_id <= 2).toSeq == expectUsers12.toSeq,
        s"streaming emission diverged: got ${got.toSeq}")
    } finally q.stop()
  }

  test("runningAvg: the trailing tail survives a buffer drain (no premature eviction)") {
    import spark.implicits._
    import graft.streaming.EventStream._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(u: Long, id: Long, ms: Long, v: Double) =
      ValEvent(u, id, new java.sql.Timestamp(ms), v)
    val t0 = 1700000000000L
    val ms = MemoryStream[ValEvent]
    val q = runningAvg(ms.toDS(), watermarkDelay = "1 minute")
      .writeStream.outputMode("append").format("memory").queryName("run_avg2").start()
    try {
      // user 1's first burst; then OTHER users drive the watermark far
      // past it, draining user 1's buffer and firing its flush timeout
      ms.addData(ev(1, 1, t0, 2.0), ev(1, 2, t0 + 1000, 4.0))
      q.processAllAvailable()
      ms.addData(ev(9, 90, t0 + 10 * 60000, 0.0))
      q.processAllAvailable()
      ms.addData(ev(9, 91, t0 + 11 * 60000, 0.0))  // timeout fires for user 1
      q.processAllAvailable()
      // an ON-TIME event for user 1 well after the drain (but inside
      // evictAfterMs): its frame must still include the earlier values
      ms.addData(ev(1, 3, t0 + 12 * 60000, 6.0))
      q.processAllAvailable()
      ms.addData(ev(9, 92, t0 + 30 * 60000, 0.0))  // flush user 1's event
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM run_avg2 WHERE user_id = 1").as[RunOut]
        .collect().sortBy(_.event_id)
      assert(got.map(_.mov_avg).toSeq == Seq(2.0, 3.0, 4.0),
        s"tail lost across drain: got ${got.toSeq}")
    } finally q.stop()
  }

  test("streaming sessionize: event-time timeout emits after watermark; late out-of-order event merges") {
    import spark.implicits._
    import graft.streaming.EventStream._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(u: Long, id: Long, ms: Long) = Event(u, id, new java.sql.Timestamp(ms))
    val t0 = 1700000000000L
    val ms = MemoryStream[Event]
    val q = sessionize(ms.toDS(), watermarkDelay = "5 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_et").start()
    try {
      // batch 1: an open session for user 1; watermark -> t0+60s-5min
      ms.addData(ev(1, 1, t0), ev(1, 2, t0 + 60000))
      q.processAllAvailable()
      // batch 2: a LATE out-of-order event inside the allowed lateness
      // (t0+30s > watermark) must merge without rewinding the span;
      // user 2 pushes the watermark past user 1's end + gap
      ms.addData(ev(1, 3, t0 + 30000), ev(2, 10, t0 + 2 * 3600 * 1000))
      q.processAllAvailable()
      // batch 3: timeouts are evaluated against the advanced watermark
      ms.addData(ev(2, 11, t0 + 2 * 3600 * 1000 + 1000))
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM sess_et").as[SessionOut].collect()
      assert(got.exists(s => s.user_id == 1 && s.n_events == 3 &&
        s.start_ms == t0 && s.end_ms == t0 + 60000),
        s"expected user 1's 3-event session closed by event-time timeout, got ${got.toSeq}")
    } finally q.stop()
  }

  test("cdcApply collapses a changelog to live rows, honoring deletes and re-inserts") {
    import spark.implicits._
    val log = Seq(
      (1L, 10L, 100L, false, 1.0),  // upsert
      (1L, 20L, 101L, false, 2.0),  // later upsert wins
      (2L, 10L, 102L, false, 3.0),
      (2L, 30L, 103L, true, 0.0),   // delete after upsert → gone
      (3L, 10L, 104L, true, 0.0),   // delete then re-insert → alive
      (3L, 40L, 105L, false, 4.0),
      (4L, 50L, 106L, false, 5.0),  // same ts: higher event_id wins
      (4L, 50L, 107L, false, 6.0))
      .toDF("k", "seq_ts", "change_id", "del", "v")
    val got = Enrich.cdcApply(log, Seq("k"), Seq("seq_ts", "change_id"),
        "del", Seq("v"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, 20L, 101L, 2.0),
      (3L, 40L, 105L, 4.0),
      (4L, 50L, 107L, 6.0)))
    // partial-agg collapse, not a window: the map side pre-reduces
    val plan = Enrich.cdcApply(log, Seq("k"), Seq("seq_ts", "change_id"),
      "del", Seq("v")).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"cdcApply must not plan a window:\n$plan")
    assert(plan.contains("partial_max") || plan.contains("partial"),
      s"cdcApply must partial-aggregate:\n$plan")
  }
}
