package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{hashing, text, vectors}

/** Native codegen'd kernels must agree with the pure-expression
  * fallbacks — same values (dot: bit-identical; hashes: same sets).
  */
class NativeSpec extends AnyFunSuite {
  import SparkHarness._
  import spark.implicits._

  test("extension functions are registered in the session") {
    for (f <- Seq("graft_vector_dot", "graft_shingle_hashes", "graft_ngram_hashes"))
      assert(spark.catalog.functionExists(f), s"$f missing")
  }

  test("graft_vector_dot is bit-identical to the HOF dot") {
    val emb = tables.Tables(spark, sfDir).embeddings.limit(50)
    val both = emb.select(
      call_function("graft_vector_dot", col("embedding"), col("embedding")).as("native"),
      vectors.dot(col("embedding"), col("embedding")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("graft_pq_argmin equals the struct-argmin expression, ties to lowest index") {
    val emb = tables.Tables(spark, sfDir).embeddings.limit(64)
    // a 4-centroid codebook over the first 8 dims, incl. a DUPLICATED
    // centroid so the tie lands on the lower index both ways
    val rows = emb.select(slice(col("embedding"), 1, 8).as("x")).collect()
      .map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
    val books: Seq[Array[Double]] = Seq(rows(0), rows(1), rows(1), rows(2))
    def sq(c: Array[Double]) = c.map(v => v * v).sum
    val exprArgmin = array_min(array(books.zipWithIndex.map { case (c, i) =>
      struct((lit(sq(c)) - lit(2.0) * vectors.dot(slice(col("embedding"), 1, 8),
        array(c.map(lit).toSeq: _*))).as("r"), lit(i).as("cid"))
    }: _*)).getField("cid")
    val both = emb.select(
      call_function("graft_pq_argmin", slice(col("embedding"), 1, 8),
        lit(books.flatMap(_.toSeq).toArray), lit(8)).as("native"),
      exprArgmin.as("expr"))
    assert(both.filter(col("native") =!= col("expr")).count() == 0)
    // the duplicated centroid's higher index is never selected
    assert(both.filter(col("native") === 2).count() == 0)
  }

  test("graft_cos_topc equals the struct-sort expression path, ties and zero vectors included") {
    val emb = tables.Tables(spark, sfDir).embeddings.limit(64)
    // 5 centroids over the full dim, incl. a DUPLICATED centroid (tie
    // must keep the lower index both ways) and a ZERO centroid (the
    // cosOf nn==0 guard must yield 0.0 both ways)
    val rows = emb.select(col("embedding")).collect()
      .map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
    val dim = rows(0).length
    val cents: Seq[Array[Double]] =
      Seq(rows(0), rows(1), rows(1), Array.fill(dim)(0.0), rows(2))
    def cosExpr(c: Array[Double]) = {
      val cl = array(c.map(lit).toSeq: _*)
      val nn = sqrt(vectors.dot(col("embedding"), col("embedding"))) *
        sqrt(vectors.dot(cl, cl))
      when(nn === 0.0, lit(0.0))
        .otherwise(vectors.dot(col("embedding"), cl) / nn)
    }
    val scored = cents.zipWithIndex.map { case (c, i) =>
      struct(cosExpr(c).as("cos"), lit(-i.toLong).as("ncid"))
    }
    for (n <- Seq(1, 3, 5)) {
      val both = emb
        // append a zero PROBE row via a union of one literal-vector row
        .select(col("embedding"))
        .union(emb.limit(1).select(
          transform(col("embedding"), _ => lit(0.0f)).as("embedding")))
        .select(
          call_function("graft_cos_topc", col("embedding"),
            lit(cents.flatMap(_.toSeq).toArray), lit(dim), lit(n)).as("native"),
          transform(slice(reverse(array_sort(array(scored: _*))), 1, n),
            s => struct(s.getField("cos").as("cos"),
              (-s.getField("ncid")).cast("int").as("idx"))).as("expr"))
      assert(both.filter(col("native") =!= col("expr")).count() == 0,
        s"cos_topc diverges from the expression sort at n=$n")
      // the duplicated centroid's higher index (2) never outranks its
      // twin (1): whenever 2 is in the top-n, 1 is there before it
      if (n >= 3) {
        val idxs = transform(col("native"), s => s.getField("idx"))
        val p1 = array_position(idxs, 1)
        val p2 = array_position(idxs, 2)
        assert(both.filter(p2 =!= 0 && (p1 === 0 || p2 < p1)).count() == 0,
          "duplicated centroid's higher index outranked the lower")
      }
    }
  }

  test("graft_cos_topc fails loud on ragged vectors (length != dim)") {
    // a ragged embedding has no consistent answer on either path (the
    // expression fallback's zip_with null-pads to a NULL cosine), so
    // the kernel must reject it rather than silently return a
    // partial-dot cosine (the ADVICE r08 finding)
    val emb = tables.Tables(spark, sfDir).embeddings.limit(4)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val cent = emb.select(col("embedding")).head()
      .getSeq[Number](0).map(_.doubleValue()).toArray
    val e = intercept[Throwable] {
      emb.select(call_function("graft_cos_topc",
          slice(col("embedding"), 1, dim - 1), lit(cent), lit(dim), lit(1)))
        .collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else String.valueOf(t.getMessage) +: chain(t.getCause)
    assert(chain(e).exists(_.contains("graft_cos_topc: vector length")),
      chain(e).mkString(" | "))
  }

  test("graft_md5_fold64 equals conv(substring(md5,1,15),16,10) exactly") {
    val docs = tables.Tables(spark, sfDir).documents.limit(200)
      .select(explode(text.tokens(text.normalize(col("text")))).as("f"))
    val both = docs.select(
      call_function("graft_md5_fold64", col("f")).as("native"),
      conv(substring(md5(col("f")), 1, 15), 16, 10).cast("long").as("expr"))
    assert(both.filter(col("native") =!= col("expr")).count() == 0)
    // sanity: values are 60-bit non-negative (top 4 bits zero)
    assert(both.filter(col("native") < 0 ||
      col("native") >= (1L << 60)).count() == 0)
  }

  test("graft_pq_adc equals the expression micro-unit ADC table bit-for-bit") {
    val emb = tables.Tables(spark, sfDir).embeddings.limit(32)
    val rows = emb.select(slice(col("embedding"), 1, 8).as("x")).collect()
      .map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
    val books: Seq[Array[Double]] = Seq(rows(0), rows(1), rows(2), rows(3))
    def sq(c: Array[Double]) = {
      var acc = 0.0; var i = 0
      while (i < c.length) { acc += c(i) * c(i); i += 1 }
      acc
    }
    // the expression form pqTopK's fallback builds: micro-units of
    // fround_6(c·c − 2·x·c) through the decimal(18,6) cast
    val exprTable = array(books.map { c =>
      ((graft.functions.num.fround(lit(sq(c)) - lit(2.0) *
        vectors.dot(slice(col("embedding"), 1, 8), array(c.map(lit).toSeq: _*)), 6)
        .cast("decimal(18,6)")) * lit(1000000L)).cast("long")
    }: _*)
    val both = emb.select(
      call_function("graft_pq_adc", slice(col("embedding"), 1, 8),
        lit(books.flatMap(_.toSeq).toArray), lit(8)).as("native"),
      exprTable.as("expr"))
    assert(both.filter(col("native") =!= col("expr")).count() == 0)
  }

  test("typed kernels reject wrong input types at ANALYSIS, not silently at runtime") {
    // graft_pq_adc reads the probe via getFloat — an array<double>
    // probe used to yield silently wrong table entries for direct SQL
    // callers (internal sites guard via probeIsFloat); ExpectsInputTypes
    // turns that into an analysis error
    val emb = tables.Tables(spark, sfDir).embeddings.limit(4)
    intercept[org.apache.spark.sql.AnalysisException] {
      emb.select(call_function("graft_pq_adc",
        transform(slice(col("embedding"), 1, 8), x => x.cast("double")),
        lit(Array.fill(32)(0.0)), lit(8))).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      emb.select(call_function("graft_md5_fold64", col("vec_id"))).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      emb.select(call_function("graft_hyperplane_sig",
        transform(slice(col("embedding"), 1, 8), x => x.cast("double")),
        lit(Array.fill(8)(0.0)), lit(8))).collect()
    }
  }

  test("graft_shingle_hashes produces the expected distinct shingle count") {
    val df = Seq("abcdefg", "aaaaaa", "abc", "").toDF("s")
    val got = df.select(size(call_function("graft_shingle_hashes", col("s"), lit(5))))
      .as[Int].collect().toSeq
    // "abcdefg": 3 shingles; "aaaaaa": 2 windows, 1 distinct; len<5: 0
    assert(got == Seq(3, 1, 0, 0))
  }

  test("graft_minhash equals the expression-built per-perm minima") {
    val docs = tables.Tables(spark, sfDir).documents.limit(20)
      .select(hashing.elementHashes(text.tokens(text.normalize(col("text")))).as("th"))
      .filter(size(col("th")) > 0)
    val exprSig = array((0 until 16).map { seed =>
      array_min(transform(col("th"), h => xxhash64(lit(seed), h)))
    }: _*)
    val both = docs.select(
      call_function("graft_minhash", col("th"), lit(16)).as("native"),
      exprSig.as("expr"))
    assert(both.filter(col("native") =!= col("expr")).count() == 0)
  }

  test("graft_simhash64 equals the expression-built simhash") {
    val docs = tables.Tables(spark, sfDir).documents.limit(20)
      .select(hashing.elementHashes(text.tokens(text.normalize(col("text")))).as("th"))
    val both = docs
      .withColumn("votes", hashing.simhashVotesFromHashes(col("th")))
      .select(
        call_function("graft_simhash64", col("th")).as("native"),
        hashing.votesToSimhash(col("votes")).as("expr"))
    assert(both.filter(col("native") =!= col("expr")).count() == 0)
  }

  test("graft_sorted_intersect_size equals array_intersect size") {
    val df = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 9L, 11L)),
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(4L, 8L), Seq(4L, 8L))).toDF("a", "b")
    val both = df.select(
      call_function("graft_sorted_intersect_size", col("a"), col("b")).as("native"),
      size(array_intersect(col("a"), col("b"))).as("expr"))
    assert(both.filter(col("native") =!= col("expr")).count() == 0)
  }

  test("graft_ngram_hashes equals xxhash64 of the joined gram strings") {
    val docs = tables.Tables(spark, sfDir).documents.limit(20)
      .select(text.tokens(text.normalize(col("text"))).as("toks"))
    val both = docs.select(
      array_sort(call_function("graft_ngram_hashes", col("toks"), lit(3))).as("native"),
      array_sort(hashing.elementHashes(text.wordNgramsOfTokens(col("toks"), 3))).as("expr"))
    assert(both.filter(col("native") =!= col("expr")).count() == 0)
  }

  test("graft_topk agg equals the window row_number idiom, including ties") {
    val rows = Seq(
      // group 1: a tie on score resolved by lower id
      (1L, 0.9, 10L), (1L, 0.9, 7L), (1L, 0.5, 3L), (1L, 0.95, 20L),
      // group 2: fewer rows than k
      (2L, 0.1, 1L),
      // group 3: negative scores
      (3L, -0.2, 5L), (3L, -0.1, 6L), (3L, -0.3, 4L),
      // group 4: NaN ranks above every number
      (4L, 0.5, 7L), (4L, 1.0, 8L), (4L, Double.NaN, 9L),
      // group 5: -0.0 equals 0.0, so the id breaks the tie
      (5L, 0.0, 3L), (5L, -0.0, 2L), (5L, 0.0, 1L))
      .toDF("query_id", "cosine", "neighbor_id")
    val agg = rows.groupBy("query_id")
      .agg(call_function("graft_topk", col("cosine"), col("neighbor_id"), lit(2)).as("t"))
      .select(col("query_id"), posexplode(col("t")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("neighbor_id"), col("col.score").as("cosine"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val win = rows.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 2)
      .select("query_id", "rank", "neighbor_id", "cosine")
    assert(agg.orderBy("query_id", "rank").collect().toSeq ==
      win.orderBy("query_id", "rank").collect().toSeq)
  }

  test("graft_topk is a partial aggregate (no window sort in the plan)") {
    val emb = tables.Tables(spark, sfDir).embeddings
    val probes = emb.filter(col("vec_id") % 100 === 0)
    val plan = ops.Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_topk"),
      s"expected a map-side partial graft_topk aggregate in:\n$plan")
    assert(!plan.contains("Window"), s"window top-k should be gone from:\n$plan")
  }

  test("graft_normalize equals the lower/regexp/trim expression chain") {
    val df = Seq(
      "  Hello,   WORLD!! 42 ",
      "tabs\tand\nnewlines",
      "",
      "   ",
      "already clean text",
      "!!!???",
      "Caf\u00e9 na\u00efve \u4e2d\u6587 mixed ASCII 7",   // non-ASCII slow path
      "UPPER lower 123 MiXeD").toDF("t")
    val both = df.select(
      call_function("graft_normalize", col("t")).as("native"),
      text.normalize(col("t")).as("expr"))
    val diff = both.filter(col("native") =!= col("expr")).collect()
    assert(diff.isEmpty, s"diverged: ${diff.toSeq}")
  }

  test("k-means assign at k = 96: graft_cos_topc == expression fallback end-to-end") {
    import spark.implicits._
    // CLUSTERED corpus (16 well-separated axis centers, small noise);
    // the disabled path takes the k-wide expression sort — identical
    // assignment through a full Lloyd round (fit + final assign) at a
    // k well above any declared query's proves the kernel is a pure
    // perf substitution there too.
    val rnd = new scala.util.Random(7)
    val dim = 16
    val rows = (0 until 800).map { i =>
      val c = i % 16
      val v = Array.tabulate(dim)(d =>
        (if (d == c) 1.0f else 0.0f) + (rnd.nextFloat() - 0.5f) * 0.1f)
      (i.toLong, v)
    }
    val embs = rows.toDF("vec_id", "embedding")
    def run(): Seq[(Long, Long)] =
      graft.ops.Cluster.kmeansAssign(embs, "embedding", "vec_id",
          k = 96, iters = 1)
        .select(col("id"), col("cluster_id"))
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
    val native = run()
    spark.conf.set("graft.native.disabled", "true")
    try {
      val fallback = run()
      assert(native == fallback,
        s"native assign diverges from fallback: ${native.diff(fallback).take(3)}")
    } finally spark.conf.unset("graft.native.disabled")
    assert(native.map(_._2).distinct.size > 10,
      "k=96 fit must actually spread assignments")
  }

  test("graft_text_stats equals the expression quality/language forms on " +
      "whitespace edges, unicode, markers and nulls") {
    val rows = Seq(
      "The quick brown fox. And the dog, of course!",
      "the a and of to in is",                  // every EN marker
      "THE AND In IS Of",                       // case-insensitive marker hits
      "IN caf\u00e9 IS",                        // non-ASCII: locale lowercasing
      "el la de que y los le et les des der die und das ein zu",
      "  leading and trailing spaces  ",
      "\ttab-led start",                        // leading tab -> empty token
      "trailing tab\t",                         // trailing tab -> empty token
      "\t",                                     // two empty tokens
      "one",
      "12345 67890 ...,,,;;;:::!!!???",
      "\u00fcml\u00e4ut stra\u00dfe \u212AELVIN \u0130stanbul the",
      "multi  \n  line\r\nand\u000bvertical\ffeeds",
      "",
      " ",
      null
    ).toDF("text")
    val stats = call_function("graft_text_stats", col("text"))
    def check(): Unit = {
      // quality + language: the kernel struct vs the expression struct
      val q = rows.select(
        text.qualityScoreFromStats(col("text"), stats).as("nq"),
        text.qualityScore(col("text")).as("eq"),
        text.langIdFromStats(stats).as("nl"),
        text.langId(col("text")).as("el"))
      assert(q.filter(!(col("nq") <=> col("eq"))).count() == 0, "quality diverges")
      assert(q.filter(!(col("nl") <=> col("el"))).count() == 0, "langId diverges")
      // every field of the fallback struct (the null struct included)
      val bad = rows.select(col("text"), stats.as("k"), text.textStats(col("text")).as("e"))
        .collect().filter(r => r.get(1) != r.get(2))
        .map(r => s"'${r.getString(0)}': kernel ${r.get(1)} vs expression ${r.get(2)}")
      assert(bad.isEmpty, bad.mkString("\n"))
    }
    check()
    // the non-ASCII rows lowercase with the default locale on both paths
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
    try check() finally java.util.Locale.setDefault(saved)
  }

  test("graft_text_stats lowercases markers as lower() does under a tr-TR default locale") {
    // lower() takes its bytewise ASCII path only when the WHOLE string
    // is ASCII; otherwise it lowercases with the JVM default locale,
    // where Turkish maps 'I' to dotless 'ı' — "IN" and "IS" then miss
    import graft.ops.TextAnalysis
    val docs = Seq((1L, "IN caf\u00e9 IS")).toDF("doc_id", "text")
    def run() = TextAnalysis.qualityScores(docs, "text", "doc_id")
      .select("n_stopwords", "quality").collect().toSeq
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
    try {
      val native = run()
      spark.conf.set("graft.native.disabled", "true")
      val fallback = try run() finally spark.conf.unset("graft.native.disabled")
      assert(native == fallback, s"kernel $native != fallback $fallback")
    } finally java.util.Locale.setDefault(saved)
  }

  test("languageId and curationPipelineFull call graft_text_stats once per " +
      "scoring projection, without subexpression elimination") {
    // t30_score_norm rides along: SparkEntry's quality-score columns
    // (t30, t31, t43) share TextAnalysis.withQualityScore
    import graft.ops.{Curation, TextAnalysis}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val docs = tables.Tables(spark, sfDir).documents
    // kernel calls of each optimized projection that makes any
    def callsPerProjection(df: DataFrame): Seq[Int] =
      df.queryExecution.optimizedPlan.collect { case p: Project =>
        p.projectList.map(_.collect {
          case e if e.prettyName == "graft_text_stats" => e
        }.size).sum
      }.filter(_ > 0)
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "languageId" -> (() => TextAnalysis.languageId(docs, "text", "doc_id")
        .orderBy("doc_id")),
      "curationPipelineFull" -> (() => Curation.curationPipelineFull(docs,
        "text", "doc_id", "lang", "source").orderBy("doc_id")),
      "t30_score_norm" -> (() => SparkEntry.queries("t30_score_norm")(spark, sfDir)))
    spark.conf.set("spark.sql.subexpressionElimination.enabled", "false")
    try for ((name, op) <- ops) {
      val native = op()
      val calls = callsPerProjection(native)
      assert(calls.nonEmpty && calls.forall(_ == 1),
        s"$name: kernel calls per projection $calls\n" +
          native.queryExecution.optimizedPlan)
      spark.conf.set("graft.native.disabled", "true")
      val fallback = try op().collect().toSeq
        finally spark.conf.unset("graft.native.disabled")
      assert(fallback.nonEmpty, s"$name: empty result")
      assert(native.collect().toSeq == fallback, s"$name: kernel != fallback")
    } finally spark.conf.unset("spark.sql.subexpressionElimination.enabled")
  }
}
