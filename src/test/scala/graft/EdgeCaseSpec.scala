package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Dedup

/** Degenerate inputs — null, empty, and shorter-than-shingle texts —
  * must flow through every dedup operator without errors and without
  * fabricating pairs, while real duplicates are still found.
  */
class EdgeCaseSpec extends AnyFunSuite {
  import SparkHarness._
  import spark.implicits._

  // Long text with DISTINCT tokens: simhash's one-token sensitivity
  // degrades on few-distinct-token text (zero-vote bits flip), which
  // is a property of the algorithm, not of this implementation.
  private val base = (1 to 400).map(i => s"tok$i").mkString(" ")
  private lazy val docs = Seq(
    (1L, base),
    (2L, base + " tail"),
    (3L, null.asInstanceOf[String]),
    (4L, ""),
    (5L, "ab"),                       // shorter than shingle k
    (6L, "completely different text entirely about other things")
  ).toDF("doc_id", "text").withColumn("block", lit("b"))

  test("minhashPairs tolerates null/empty/short docs and finds the dup") {
    val pairs = Dedup.minhashPairs(docs, "text", "doc_id", numPerm = 64, bands = 16)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.forall { case (a, b) => Set(1L, 2L)(a) && Set(1L, 2L)(b) })
  }

  test("simhashPairs tolerates null/empty/short docs and finds the dup") {
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id")
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("ngramJaccardPairs tolerates null/empty/short docs and finds the dup") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", col("block"))
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.forall { case (a, b) => Set(1L, 2L)(a) && Set(1L, 2L)(b) })
  }

  test("exactGroups keeps null and empty apart from real content") {
    val groups = Dedup.exactGroups(docs, "text", "doc_id")
    // null text → null fingerprint row is allowed but must not merge
    // with the empty-string group
    val counts = groups.select("n_dups").as[Long].collect()
    assert(counts.forall(_ >= 1))
    assert(groups.count() >= 4)
  }

  test("embeddingNearDupPairsLsh tolerates empty input and zero-norm vectors") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Dedup.embeddingNearDupPairsLsh(empty, "embedding", "vec_id",
      0.5, dim = 4, numPlanes = 8, bands = 2).count() == 0L)
    // zero-norm vectors score cosine 0 against everything — never a pair
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(1f, 0.01f, 0f, 0f)),
      (3L, Array(0f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairsLsh(vecs, "embedding", "vec_id",
        0.9, dim = 4, numPlanes = 8, bands = 2)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("bm25 indexed search over an empty or unmatched corpus returns no rows") {
    import graft.ops.TextAnalysis
    val docs = Seq((1L, "alpha beta"), (2L, "")).toDF("doc_id", "text")
    val (postings, stats) = TextAnalysis.bm25Index(docs, "text", "doc_id")
    // zero-token docs emit no postings but count toward the stats
    assert(postings.filter(col("doc_id") === 2L).count() == 0L)
    assert(stats.collect().head.getDouble(0) == 2.0)
    assert(TextAnalysis.bm25SearchIndexed(postings, stats,
      Seq(0L -> "missingterm"), k = 5).count() == 0L)
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val (p2, s2) = TextAnalysis.bm25Index(emptyDocs, "text", "doc_id")
    assert(TextAnalysis.bm25SearchIndexed(p2, s2, Seq(0L -> "alpha"), k = 5).count() == 0L)
  }

  test("curation ops tolerate null/empty text") {
    import graft.ops.Curation
    val cds = Seq((1L, null.asInstanceOf[String], "train"), (2L, "", "eval"),
      (3L, "real content words here", "train"))
      .toDF("doc_id", "text", "split")
    // scrub: null stays null, counts stay null-safe (no throw)
    val scrubbed = Curation.scrubPii(cds, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(scrubbed.length == 3 && scrubbed(2).getString(1) == "real content words here")
    // packing: null text counts 0 tokens
    val packed = Curation.packSequences(cds, "doc_id", "text", "split", 10L)
      .orderBy("shard", "doc_id").collect()
    assert(packed.map(_.getLong(2)).toSeq == Seq(0L, 0L, 4L))  // (eval,2), (train,1), (train,3)
    // contamination: null/empty produce no grams and no pairs, no throw
    val pairs = Curation.contaminationPairs(cds, "text", "doc_id", "split", "eval")
    assert(pairs.count() == 0)
  }

  test("Tables floors the corpus scans' parallelism directly above the scan, and only those") {
    import graft.tables.Tables
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec,
      InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val want = spark.sparkContext.defaultParallelism
    // on a single-core runner (defaultParallelism == 1) the "under-
    // parallel scan" precondition cannot exist — cancel, don't fail
    assume(want > 1, "the floor is a no-op at defaultParallelism == 1")
    object Plan extends AdaptiveSparkPlanHelper
    def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] =
      Plan.collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case c: ColumnarToRowExec => unwrap(c.child)
      case i: InputAdapter => unwrap(i.child)
      case w: WholeStageCodegenExec => unwrap(w.child)
      case other => other
    }
    def corpora(dir: String, files: Int): Unit = {
      def write(df: DataFrame, name: String): Unit =
        df.repartition(files).write.mode("overwrite").parquet(s"$dir/$name.parquet")
      val ids = (1L to 64L).toDF("id")
      write(ids.select(col("id").as("doc_id"),
        concat(lit("doc "), col("id").cast("string")).as("text")), "documents")
      write(ids.select(col("id").as("vec_id"),
        array(col("id").cast("float"), lit(1f)).as("embedding")), "embeddings")
      write(ids.select(col("id").as("event_id"),
        timestamp_seconds(col("id")).as("ts")), "events")
    }
    // one tiny file per table = one row group = one scan split
    val small = java.nio.file.Files.createTempDirectory("floor").toString
    corpora(small, 1)
    val t = Tables(spark, small)
    for ((name, df) <- Seq("documents" -> t.documents, "embeddings" -> t.embeddings)) {
      assert(df.rdd.getNumPartitions >= want, s"$name not floored")
      val ex = exchanges(df)
      assert(ex.size == 1 && ex.head.outputPartitioning.isInstanceOf[RoundRobinPartitioning],
        s"$name: want one round-robin exchange, got ${ex.map(_.outputPartitioning)}")
      assert(unwrap(ex.head.child).isInstanceOf[FileSourceScanExec],
        s"$name: the exchange must sit directly on the scan:\n${ex.head}")
      assert(df.count() == 64L)
    }
    assert(exchanges(t.events).isEmpty, "events must keep its plan")
    // a corpus already written as defaultParallelism files passes through
    val wide = java.nio.file.Files.createTempDirectory("floor-wide").toString
    corpora(wide, want)
    assert(exchanges(Tables(spark, wide).documents).isEmpty)
    assert(exchanges(Tables(spark, wide).embeddings).isEmpty)
  }

  // The parallelism floor that Par.widen inserted per operator now sits
  // in the corpus loader (Tables.documents / Tables.embeddings); its
  // nondeterminism guarantee is checked against that floor.
  test("Par.widen keeps nondeterministic expressions above its repartition") {
    import graft.tables.Tables
    import org.apache.spark.sql.catalyst.expressions.Nondeterministic
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val want = spark.sparkContext.defaultParallelism
    assume(want > 1, "the floor is a no-op at defaultParallelism == 1")
    val dir = java.nio.file.Files.createTempDirectory("floor-nd").toString
    // one tiny file = one row group = one scan split
    (1L to 64L).toDF("id").select(col("id").as("doc_id"),
      concat(lit("doc "), col("id").cast("string")).as("text"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val docs = Tables(spark, dir).documents
    assert(docs.rdd.getNumPartitions >= want, "precondition: the scan was floored")
    object Plan extends AdaptiveSparkPlanHelper
    // no nondeterministic expression may be evaluated below the exchange
    def belowExchange(df: DataFrame): Seq[String] = {
      val ex = Plan.collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
      assert(ex.nonEmpty, "precondition: the plan keeps the floor's exchange")
      ex.flatMap(_.child.collect { case p => p.expressions }.flatten)
        .filter(_.exists(_.isInstanceOf[Nondeterministic])).map(_.sql)
    }
    // rand and monotonically_increasing_id read the partition index, so
    // evaluated below a reshuffle they would change value between actions
    val nd = docs.select(col("doc_id"), rand(7).as("r"),
      monotonically_increasing_id().as("mid"))
    assert(belowExchange(nd).isEmpty, s"nondeterministic below the exchange: ${belowExchange(nd)}")
    def byId(d: DataFrame) =
      d.collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val first = byId(nd)
    assert(first.size == 64 && byId(nd) == first,
      "rand / monotonically_increasing_id changed between actions")
    // same for a nondeterministic generator
    val gen = docs.select(col("doc_id"), explode(array(rand(3), rand(4))).as("v"))
    assert(belowExchange(gen).isEmpty, s"generator below the exchange: ${belowExchange(gen)}")
    def valuesById(d: DataFrame) = d.collect().groupBy(_.getLong(0))
      .map { case (k, rs) => k -> rs.map(_.getDouble(1)).sorted.toSeq }
    val firstGen = valuesById(gen)
    assert(firstGen.size == 64 && valuesById(gen) == firstGen,
      "a nondeterministic generator's values changed between actions")
  }

  test("round-7 operators tolerate degenerate inputs") {
    import graft.ops.{Curation, TextAnalysis}
    // bpeTrain: all-1-char vocabulary has no pairs — empty table, no
    // crash; empty corpus likewise
    val singles = Seq((1L, "a b c"), (2L, "a")).toDF("doc_id", "text")
    assert(TextAnalysis.bpeTrain(singles, "text", merges = 5).count() == 0)
    assert(TextAnalysis.bpeTrain(singles.limit(0), "text", merges = 5).count() == 0)
    // bpeSegment with a dry vocabulary: pieces = the raw characters
    val seg = TextAnalysis.bpeSegment(singles, "text", merges = 5)
      .orderBy("piece").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(seg == Seq(("a", 2L), ("b", 1L), ("c", 1L)), s"raw chars: $seg")
    // decontaminateByEmbedding: no eval rows → every train row clean;
    // no train rows → empty verdict table; both no-crash
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val emb = Seq((1L, v(1, 0)), (2L, v(0, 1))).toDF("vec_id", "embedding")
    val noEval = Curation.decontaminateByEmbedding(emb, "embedding", "vec_id",
        lit(false), threshold = 0.5, dim = 2, numPlanes = 6)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(noEval == Set((1L, 0), (2L, 0)), s"all clean: $noEval")
    assert(Curation.decontaminateByEmbedding(emb, "embedding", "vec_id",
      lit(true), threshold = 0.5, dim = 2, numPlanes = 6).count() == 0)
  }

  test("round-8 operators tolerate degenerate inputs") {
    import graft.ops.{Cluster, Similarity}
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    // a 4-row, 8-dim corpus (dim divisible by subspaces=4), with a
    // ZERO vector and a duplicated pair
    val emb = Seq(
      (1L, v(1, 0, 0, 0, 1, 0, 0, 0)),
      (2L, v(1, 0, 0, 0, 1, 0, 0, 0)),
      (3L, v(0, 0, 0, 0, 0, 0, 0, 0)),
      (4L, v(0, 1, 0, 0, 0, 1, 0, 0))).toDF("vec_id", "embedding")
    // ivfPqTopK: numCentroids/codebookSize beyond the corpus, a zero
    // vector in corpus AND probes, nProbe = numCentroids — no crash,
    // every probe row ranked, no self-pairs
    val r = Similarity.ivfPqTopK(emb, emb, "embedding", "vec_id", 3,
      numCentroids = 16, nProbe = 16, subspaces = 4, codebookSize = 64)
    assert(r.filter(col("query_id") === col("neighbor_id")).count() == 0)
    assert(r.groupBy("query_id").count().filter(col("count") > 3).count() == 0)
    assert(r.select("query_id").distinct().count() == 4)
    // empty corpus is an explicit error (the PQ init needs rows)
    intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(emb.limit(0), emb, "embedding", "vec_id", 3)
    }
    // ivfTopK shares the coarse scorer — the zero sampled centroid
    // must not divide-by-zero there either (the same latent crash
    // this test exposed in ivfPqTopK)
    assert(Similarity.ivfTopK(emb, emb, "embedding", "vec_id", 3,
      numCentroids = 4, nProbe = 4)
      .filter(col("query_id") === col("neighbor_id")).count() == 0)
    // ivfPqRerankTopK: candidates < k rejected; candidates >= corpus
    // on the tiny corpus still ranks every probe
    intercept[IllegalArgumentException] {
      Similarity.ivfPqRerankTopK(emb, emb, "embedding", "vec_id",
        k = 5, candidates = 3)
    }
    assert(Similarity.ivfPqRerankTopK(emb, emb, "embedding", "vec_id",
      k = 3, candidates = 100, numCentroids = 4, nProbe = 4, subspaces = 4)
      .select("query_id").distinct().count() == 4)
    // semDedupPairsAuto: empty corpus rejected; single-row corpus
    // derives k=1 and yields no pairs; the duplicated pair IS found
    // on the tiny corpus (k=1 block = exact)
    intercept[IllegalArgumentException] {
      Cluster.semDedupPairsAuto(emb.limit(0), "embedding", "vec_id", 0.4)
    }
    assert(Cluster.semDedupPairsAuto(emb.limit(1), "embedding", "vec_id",
      threshold = 0.4).count() == 0)
    val pairs = Cluster.semDedupPairsAuto(emb, "embedding", "vec_id",
        threshold = 0.99)
      .collect().map(r2 => (r2.getLong(0), r2.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"exact dup pair: $pairs")
  }

  test("asofJoin composed fallback rejects user columns in its reserved namespace") {
    val lf = Seq((1L, 10L, 100L)).toDF("k", "__asof_t", "lt")
    val rf = Seq((1L, 90L)).toDF("k", "rt")
    spark.conf.set("graft.native.disabled", "true")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.ops.Asof.asofJoin(lf, rf, Seq(("k", "k")), "lt", "rt").collect()
      }
      assert(e.getMessage.contains("__asof_"), s"wrong failure: ${e.getMessage}")
    } finally spark.conf.unset("graft.native.disabled")
  }

  test("round-6 operators tolerate degenerate inputs") {
    import graft.ops.{Curation, Enrich, Graph, Multimodal, Similarity, TextAnalysis}
    // containment: null/empty/short docs form no pairs; real subset found
    val cp = Dedup.containmentPairs(docs, "text", "doc_id", col("block"), threshold = 0.9)
      .select("id_sub", "id_sup").as[(Long, Long)].collect().toSet
    assert(cp.contains((1L, 2L)) && cp.forall(p => Set(1L, 2L)(p._1)))
    // LPA: self-loops only → every vertex is its own singleton? a
    // self-pair carries no edge, so the vertex set is empty
    val selfOnly = Seq((7L, 7L)).toDF("id1", "id2")
    assert(Graph.labelPropagation(selfOnly, "id1", "id2", iters = 2).count() == 0)
    assert(Graph.labelPropagation(selfOnly.limit(0), "id1", "id2").count() == 0)
    // rangeSearch: zero-norm corpus vector scores 0.0, never NaN
    val zc = Seq((1L, Array(0f, 0f)), (2L, Array(1f, 0f)))
      .toDF("vec_id", "embedding")
    val rs = Similarity.rangeSearch(zc, zc.filter(col("vec_id") === 2),
      "embedding", "vec_id", -1.0).collect()
    assert(rs.length == 1 && rs.head.getDouble(2) == 0.0)
    // knnGraph: empty corpus (auto band bits) → empty result
    assert(Similarity.knnGraph(zc.limit(0), "embedding", "vec_id", k = 3, dim = 2).count() == 0)
    // weightedSample: all weights non-positive → empty
    val ws = Seq((1L, "g", 0.0), (2L, "g", -3.0)).toDF("id", "grp", "w")
    assert(Curation.weightedSample(ws, "id", "grp", "w", "s", 5).count() == 0)
    // sourceOverlap: a single source has no pairs (no 0-row crash)
    val one = Seq((1L, "alpha beta gamma delta", "only")).toDF("doc_id", "text", "source")
    assert(TextAnalysis.sourceOverlap(one, "text", "source").count() == 0)
    // pmiPairs: corpus of 1-token docs → no pairs
    val tiny = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(TextAnalysis.pmiPairs(tiny, "text", minCount = 1L).count() == 0)
    // payloadDedup: null payloads group together, never crash
    val np = Seq((1L, null.asInstanceOf[Array[Byte]]), (2L, Array[Byte](1, 2)))
      .toDF("doc_id", "payload")
    assert(Multimodal.payloadDedup(np, "payload", "doc_id").count() == 2)
    // empty events → empty panels
    val ee = Seq.empty[(java.sql.Timestamp, Long, String, Double)]
      .toDF("ts", "user_id", "event_type", "value")
    assert(Enrich.activeUsers(ee, "ts", "user_id").count() == 0)
    assert(Enrich.retentionCohorts(ee, "ts", "user_id",
      col("event_type") === "x").count() == 0)
    assert(Enrich.numericProfile(ee, "event_type", "value").count() == 0)
  }
}
