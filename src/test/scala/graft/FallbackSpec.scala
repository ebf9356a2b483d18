package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Cluster, Curation, Dedup, Similarity, TextAnalysis}
import graft.tables.Tables

/** The ops must produce identical results with native kernels disabled
  * (`graft.native.disabled`) — this exercises the pure-expression
  * fallback branches that a session without GraftExtensions would run.
  * The conf also turns TopKRewriteRule off, so window top-k forms run
  * as written.
  */
class FallbackSpec extends AnyFunSuite {
  import SparkHarness._

  private def withFallback[A](body: => A): A = {
    spark.conf.set("graft.native.disabled", "true")
    try body finally spark.conf.unset("graft.native.disabled")
  }

  private def run(): Seq[String] = {
    val docs = Tables(spark, sfDir).documents
    val emb = Tables(spark, sfDir).embeddings
    val probes = emb.filter(col("vec_id") % 100 === 0)
    val scored = TextAnalysis.withQualityScore(docs, "text", "quality")
      .select("doc_id", "lang", "source", "quality")
    Seq(
      Dedup.exactGroups(docs, "text", "doc_id")
        .orderBy("fingerprint").collect().mkString("|"),
      graft.ops.TextAnalysis.fingerprints(docs, "text", "doc_id")
        .orderBy("doc_id").collect().mkString("|"),
      Dedup.minhashPairs(docs, "text", "doc_id")
        .orderBy("id1", "id2").collect().mkString("|"),
      Dedup.simhashPairs(docs, "text", "doc_id")
        .orderBy("id1", "id2").collect().mkString("|"),
      Dedup.ngramJaccardPairs(docs, "text", "doc_id", col("source"))
        .orderBy("id1", "id2").collect().mkString("|"),
      Dedup.embeddingNearDupPairs(emb, "embedding", "vec_id", "label", 0.3)
        .orderBy("id1", "id2").collect().mkString("|"),
      Dedup.embeddingNearDupPairsLsh(emb, "embedding", "vec_id", 0.4, dim = 64)
        .orderBy("id1", "id2").collect().mkString("|"),
      Similarity.lshTopK(emb, probes, "embedding", "vec_id", 5, 64)
        .orderBy("query_id", "rank").collect().mkString("|"),
      Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", 5)
        .orderBy("query_id", "rank").collect().mkString("|"),
      Similarity.ivfTopK(emb, probes, "embedding", "vec_id", 5)
        .orderBy("query_id", "rank").collect().mkString("|"),
      // native path: dense codes + graft_pq_adc kernel tables;
      // fallback: cid-labeled codes + scattered expression tables —
      // the adist values and ranking must be bit-identical
      Similarity.pqTopK(emb, probes, "embedding", "vec_id", 5)
        .orderBy("query_id", "rank").collect().mkString("|"),
      Similarity.pqRerankTopK(emb, probes, "embedding", "vec_id", 5,
          candidates = 20)
        .orderBy("query_id", "rank").collect().mkString("|"),
      Similarity.ivfPqTopK(emb, probes, "embedding", "vec_id", 5,
          numCentroids = 16, nProbe = 4)
        .orderBy("query_id", "rank").collect().mkString("|"),
      graft.ops.TextAnalysis.winnowFingerprints(docs, "text", "doc_id")
        .orderBy("doc_id", "pos").collect().mkString("|"),
      // md5-fold consumers: bucket hashes (t24/t28) + simhash token
      // hashes must be value-identical behind kernel vs string chain
      graft.ops.Curation.dsirWeights(docs, "text", "doc_id", col("source") === "src1")
        .orderBy("doc_id").collect().mkString("|"),
      graft.ops.TextAnalysis.distributionDrift(docs, "text",
          col("source") === "src1")
        .collect().mkString("|"),
      // cos-argmax consumers: native path = graft_cos_topc over one
      // flat literal; fallback = the k-wide HOF struct sort — the
      // assignment, cosine, multi-probe blocking, and downstream
      // pairs must be identical
      graft.ops.Cluster.kmeansAssign(emb, "embedding", "vec_id", 8, 2)
        .orderBy("id").collect().mkString("|"),
      graft.ops.Cluster.semDedupPairs(emb, "embedding", "vec_id", 4, 0.4)
        .orderBy("id1", "id2").collect().mkString("|"),
      // text-stats consumers: graft_text_stats vs the expression struct
      TextAnalysis.qualityScores(docs, "text", "doc_id")
        .orderBy("doc_id").collect().mkString("|"),
      TextAnalysis.languageId(docs, "text", "doc_id")
        .orderBy("doc_id").collect().mkString("|"),
      Curation.qualityFilter(docs, "text", "doc_id")
        .orderBy("doc_id").collect().mkString("|"),
      TextAnalysis.bm25Search(docs, "text", "doc_id",
          Seq(0L -> "spark window merge", 1L -> "vector stream"), k = 5)
        .orderBy("query_id", "rank").collect().mkString("|"),
      // n-gram hash consumers: graft_ngram_hashes vs gram strings hashed
      TextAnalysis.sourceOverlap(docs, "text", "source")
        .orderBy("grp_a", "grp_b").collect().mkString("|"),
      Dedup.containmentPairs(docs, "text", "doc_id", col("source"), threshold = 0.5)
        .orderBy("id_sub", "id_sup").collect().mkString("|"),
      // hyperplane-signature consumers
      Similarity.knnGraph(emb, "embedding", "vec_id", k = 5, dim = 64, bands = 4)
        .orderBy("id", "rank").collect().mkString("|"),
      Dedup.embeddingBandingRecall(emb, "embedding", "vec_id",
          threshold = 0.4, dim = 64)
        .collect().mkString("|"),
      Curation.decontaminateByEmbedding(emb, "embedding", "vec_id",
          col("vec_id") % 10 === 0, threshold = 0.4, dim = 64)
        .orderBy("doc_id").collect().mkString("|"),
      // top-k consumers: graft_topk vs the row_number window
      Curation.weightedSample(scored, "doc_id", "lang", "quality", "ws", 5)
        .orderBy("grp", "rank").collect().mkString("|"),
      Curation.sourceCap(scored, "doc_id", "source", "quality", 5)
        .orderBy("grp", "rank").collect().mkString("|"),
      Cluster.clusterSample(emb, "embedding", "vec_id", k = 4, nPer = 5)
        .orderBy("cluster_id", "rank").collect().mkString("|"))
  }

  test("fallback expression paths match native kernel results exactly") {
    val native = run()
    val fallback = withFallback(run())
    for (((n, f), i) <- native.zip(fallback).zipWithIndex)
      assert(n == f, s"op $i diverges between native and fallback")
  }

  test("sourceCap drops null-score rows on both the native and the window path") {
    import spark.implicits._
    val df = Seq[(Long, String, Option[Double])](
        (1L, "a", Some(0.5)), (2L, "a", None), (3L, "a", Some(0.9)),
        (4L, "b", None), (5L, "b", Some(0.1)))
      .toDF("doc_id", "source", "quality")
    def cap(): String = Curation.sourceCap(df, "doc_id", "source", "quality", 3)
      .orderBy("grp", "rank").collect().mkString("|")
    val native = cap()
    assert(native == withFallback(cap()), "null scores rank differently across paths")
    assert(native == "[a,1,3,0.9]|[a,2,1,0.5]|[b,1,5,0.1]", native)
  }

  test("asofJoin composed fallback matches the planned physical operator row-for-row") {
    // the q19 shape: purchases as-of matched to the user's latest
    // distinct view time — planned via AsofJoinExec with extensions,
    // composed via union + last-non-null window without them
    def asof(): String = {
      val e = Tables(spark, sfDir).events
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_millis(col("ts").cast("timestamp")).as("ts_ms"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts_ms")
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_ms")).distinct()
      graft.ops.Asof.asofJoin(purchases, views,
          Seq(("user_id", "user_id")), "ts_ms", "ts_ms")
        .select(col("event_id"), col("ts_ms"), col("ts_ms_r"))
        .orderBy("event_id").collect().mkString("|")
    }
    val planned = asof()
    val composed = withFallback(asof())
    assert(planned == composed,
      "composed as-of fallback diverges from the planned operator")
    // null semantics parity: null right times never match, a left row
    // with no candidate gets nulls, a null left time matches nothing
    import spark.implicits._
    val left = Seq((1L, 10L, 100L), (1L, 11L, 5L), (2L, 20L, 100L))
      .toDF("k", "lid", "lt")
      .union(Seq((3L, 30L)).toDF("k", "lid").withColumn("lt", lit(null).cast("long")))
    val right = Seq((1L, 50L), (1L, 90L), (2L, 200L))
      .toDF("k", "rt")
      .union(Seq(2L).toDF("k").withColumn("rt", lit(null).cast("long")))
    def run2(): String = graft.ops.Asof.asofJoin(left, right,
        Seq(("k", "k")), "lt", "rt")
      .orderBy("lid").collect().mkString("|")
    val p2 = run2()
    assert(p2 == withFallback(run2()))
    assert(p2.contains("[1,10,100,1,90]"), s"latest-at-or-before missing: $p2")
    assert(p2.contains("[1,11,5,null,null]"), s"no-candidate nulls missing: $p2")
    assert(p2.contains("[3,30,null,null,null]"), s"null left time must match nothing: $p2")
    // null KEYS never match (equi-join semantics — null != null): a
    // null-keyed left row must get nulls even when null-keyed right
    // rows exist at eligible times, identically in both forms
    val lf = spark.sql("SELECT * FROM VALUES (CAST(1 AS BIGINT),CAST(10 AS BIGINT),CAST(100 AS BIGINT)),(NULL,11,100),(NULL,12,50) AS t(k,lid,lt)")
    val rf = spark.sql("SELECT * FROM VALUES (CAST(1 AS BIGINT),CAST(90 AS BIGINT)),(NULL,40),(NULL,60) AS t(k,rt)")
    def run3(): String = graft.ops.Asof.asofJoin(lf, rf, Seq(("k", "k")), "lt", "rt")
      .orderBy("lid").collect().mkString("|")
    val p3 = run3()
    assert(p3 == withFallback(run3()))
    assert(p3 == "[1,10,100,1,90]|[null,11,100,null,null]|[null,12,50,null,null]",
      s"null keys must match nothing in both forms: $p3")
  }

  test("ragged vectors fail loud on BOTH the native kernel and the expression fallback") {
    // the two execution paths must fail on the SAME corrupt input —
    // before the guard, the fallback silently null-padded a ragged
    // vector into a NULL cosine while the kernel threw (the ADVICE
    // r09 finding: intentional divergence weakens this suite's
    // 'both paths agree exactly' invariant)
    import spark.implicits._
    val ragged = Seq((1L, Array(1f, 0f, 0f)), (2L, Array(0f, 1f, 0f)),
      (3L, Array(1f, 1f))).toDF("vec_id", "embedding")
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else String.valueOf(t.getMessage) +: chain(t.getCause)
    def messages(body: => Unit): Seq[String] =
      chain(intercept[Throwable](body))
    val native = messages(
      graft.ops.Cluster.kmeansAssign(ragged, "embedding", "vec_id", 2, 1)
        .collect())
    assert(native.exists(_.contains("ragged embedding")),
      s"native path: ${native.mkString(" | ")}")
    val fallback = messages(withFallback(
      graft.ops.Cluster.kmeansAssign(ragged, "embedding", "vec_id", 2, 1)
        .collect()))
    assert(fallback.exists(_.contains("ragged embedding")),
      s"fallback path: ${fallback.mkString(" | ")}")
  }
}
