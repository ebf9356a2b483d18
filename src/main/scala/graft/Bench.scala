package graft
object Bench {

  /** Fixed single-thread CPU spin (xorshift64*, 3e8 steps): a box/VM
    * under CPU contention reads this HIGH regardless of what Spark is
    * doing — the machine-health half of the calibration probe. The
    * fold is returned AND observably consumed (the probe JSON carries
    * its low bits) — a call site that discarded it would let the JIT
    * elide the spin loop after inlining, skewing the probe and any
    * baseline recorded from it.
    */
  private def cpuProbe(): (Double, Long) = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var acc = 0L
    var i = 0
    while (i < 300000000) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      acc += x * 0x2545f4914f6cdd1dL
      i += 1
    }
    ((System.nanoTime() - t0) / 1e9, acc)
  }

  /** Fixed Spark job (range-sum over 64 fixed partitions): times the
    * scheduler + codegen + task-launch path — the session-health half
    * of the probe (the r10 degraded pair was session-wide scheduling,
    * not data-dependent). Comparable only at the same `local[n]`, so
    * the baseline records its cpus and the compare skips on mismatch.
    */
  private def sparkProbe(spark: org.apache.spark.sql.SparkSession): Double = {
    val t0 = System.nanoTime()
    // modulo keeps the running sum far below long overflow (ANSI mode)
    spark.range(0L, 1000000000L, 1L, 64)
      .selectExpr("sum(id % 97)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Per-box probe baseline: {"cpus":n,"cpu_sec":x,"spark_sec":y}
    * medians recorded by `SPARK_GRAFT_PROBE_ONLY=1` runs (see
    * tools/bench_probe_baseline.json). A board whose probes read
    * >1.5× the stored median is stamped `degraded` in the record
    * itself, so a bad session is machine-flagged, not adjudicated by
    * narrative after the fact.
    *
    * Returns (parsed baseline, error flag): a present-but-unparseable
    * file yields (None, true) so the record distinguishes "compare
    * deliberately disabled / file absent" (degraded:null alone) from
    * "baseline file is corrupt" (degraded:null + baseline_error:true)
    * — otherwise a malformed baseline silently reads as a disabled
    * compare.
    */
  private def readBaseline(path: String): (Option[(Int, Double, Double)], Boolean) = {
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      return (None, false)
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)
      def num(key: String): Option[Double] =
        (s"""\"$key\"\\s*:\\s*([0-9.eE+-]+)""").r
          .findFirstMatchIn(s).map(_.group(1).toDouble)
      val parsed = for (c <- num("cpus"); a <- num("cpu_sec"); b <- num("spark_sec"))
        yield (c.toInt, a, b)
      if (parsed.isEmpty)
        System.err.println(s"[bench] probe baseline at $path exists but has no " +
          "parseable cpus/cpu_sec/spark_sec — degraded compare disabled")
      (parsed, parsed.isEmpty)
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] probe baseline at $path unreadable " +
          s"(${e.getClass.getSimpleName}) — degraded compare disabled")
        (None, true)
    }
  }

  /** One timed run of a query: its wall time, the part of it spent in
    * the `fn(spark, dir)` call (eager driver work: fits, collects,
    * checkpoints), and the classes it compiled and jobs it started.
    */
  private final case class Run(secs: Double, eagerSecs: Double, compiles: Long, jobs: Int)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = QueryRunner.cpus
    // SPARK_GRAFT_QUERIES=a,b,c restricts the run (sf1 headline set)
    val only = SparkEntry.selectQueries(sys.env.get(SparkEntry.QueriesEnv)).toSet
    val spark = QueryRunner.session()
    // ---- Calibration probe (pre) ----------------------------------
    // One tiny untimed job first so the pre-probe measures the session,
    // not first-job init; then the fixed CPU spin + fixed Spark job.
    spark.range(100000L).selectExpr("count(*)").collect()
    val (preCpu, preAcc) = cpuProbe()
    val preSpark = sparkProbe(spark)
    // probe-only mode: print the probe line and exit — used to record
    // the per-box baseline medians without a full sweep. cpu_acc makes
    // the spin's fold observable (see cpuProbe scaladoc).
    if (sys.env.get("SPARK_GRAFT_PROBE_ONLY").contains("1")) {
      println(s"""{"probe_only":true,"cpus":$cpus,"cpu_sec":$preCpu,""" +
        s""""spark_sec":$preSpark,"cpu_acc":${preAcc & 0xffffL}}""")
      spark.stop()
      return
    }
    // Deterministic order, relational queries first: they warm the
    // JVM/codegen paths cheaply so the heavy pairwise ops are not
    // charged the session's one-time costs.
    val familyRank =
      Map('q' -> 0, 't' -> 1, 'm' -> 2, 'c' -> 3, 's' -> 4, 'd' -> 5)
    val ordered = SparkEntry.queries.keys.toSeq.filter(only.contains)
      .sortBy(name => (familyRank.getOrElse(name.head, 9),
        name.drop(1).takeWhile(_.isDigit).toInt))
    // ---- Warmup phase A: page cache + parquet footers -------------
    // A cold recording box charges the first scan of every table its
    // disk reads; read each input once so timed runs measure the
    // query, not the storage layer's first touch.
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      val dir = new java.io.File(sfDir)
      val tables = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
      tables.foreach(p => QueryRunner.materialize(sources.Sources.readParquet(spark, p)))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] table warmup failed: " +
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    // ---- Warmup phase B: one untimed pass of every selected query -
    // Runs each query end-to-end at the sibling sf0.001 of sfDir. It
    // JITs the library's kernels and Spark's execution paths the timed
    // run executes — this is what lets the heavy ITERATIVE tail (graph
    // ops, composed pipelines), whose wall clock keeps falling with
    // repeat depth (the documented d7 monotone-warmth effect), reach
    // steady state within min-of-2 even in a cold single-session
    // recording. It does not keep every query's generated classes for
    // its timed run: they are plan-derived, but the LRU cache that
    // keeps them holds GraftSession.CodegenCacheEntries classes, so a
    // timed run reuses its warm-up's classes only while fewer than
    // that many were generated after them (by the rest of this pass
    // and the timed runs before it), and compiles the others again —
    // each row's `codegen_compiles` records how many.
    val sibling = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
    val warmDir = if (sibling.isDirectory) Some(sibling.getPath) else None
    warmDir match {
      case Some(wd) =>
        QueryRunner.run(spark, ordered) { name =>
          QueryRunner.materialize(SparkEntry.queries(name)(spark, wd))
        }.collect { case (name, Left(err)) =>
          System.err.println(s"[bench] warmup of $name at $wd failed: $err")
        }
      case None =>
        // no small-SF sibling: fall back to warming the pairwise-op
        // kernels on a tiny slice so their native/codegen paths are
        // at least compiled before timing
        QueryRunner.run(spark, Seq("kernels")) { _ =>
          import org.apache.spark.sql.functions.col
          val docs = sources.Sources.readParquet(spark, s"$sfDir/documents.parquet").limit(64)
          val emb = sources.Sources.readParquet(spark, s"$sfDir/embeddings.parquet").limit(64)
          Seq(graft.ops.Dedup.minhashPairs(docs, "text", "doc_id"),
            graft.ops.Dedup.simhashPairs(docs, "text", "doc_id"),
            graft.ops.Dedup.ngramJaccardPairs(docs, "text", "doc_id", col("source")),
            graft.ops.Dedup.embeddingNearDupPairs(emb, "embedding", "vec_id", "label", 0.3),
            graft.ops.Similarity.lshTopK(emb, emb.limit(4), "embedding", "vec_id", 5, 64)
          ).foreach(QueryRunner.materialize)
        }.collect { case (_, Left(err)) =>
          System.err.println(s"[bench] warmup failed (timings may include one-time costs): $err")
        }
    }
    // ---- Timed runs: min-of-2, adaptive third ----------------------
    // Each run executes the query's full plan (QueryRunner.materialize;
    // `count()` let Catalyst prune most of it). min over repeats =
    // steady-state latency, robust to one-off GC/compilation hiccups.
    // When the two runs still disagree by >30% on a non-trivial query,
    // the query is still descending its warmth curve (or caught a
    // scheduling hiccup) — one more run decides which; the extra cost
    // is bounded to the queries that need it. A query that throws is
    // NOT timed as fast: it reads -1 and its error surfaces in the JSON.
    // A row reports the compiles, jobs and eager time of the run whose
    // time it reports.
    def compiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def timedRun(name: String): Run = {
      val c0 = compiles()
      val ((secs, eagerSecs), jobs) = QueryRunner.jobsDuring(spark) {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        val t1 = System.nanoTime()
        QueryRunner.materialize(df)
        ((System.nanoTime() - t0) / 1e9, (t1 - t0) / 1e9)
      }
      Run(secs, eagerSecs, compiles() - c0, jobs)
    }
    val results = QueryRunner.run(spark, ordered) { name =>
      val firstTwo = Seq(timedRun(name), timedRun(name))
      val times = firstTwo.map(_.secs)
      val runs =
        if (times.min > 0.3 && times.max / times.min > 1.3) firstTwo :+ timedRun(name)
        else firstTwo
      runs.minBy(_.secs)
    }
    // ---- Calibration probe (post) + degraded stamp -----------------
    val (postCpu, postAcc) = cpuProbe()
    val postSpark = sparkProbe(spark)
    val basePath = sys.env.get("SPARK_GRAFT_PROBE_BASELINE") match {
      case Some("") => None
      case Some(p) => Some(p)
      case None => Some("tools/bench_probe_baseline.json")
    }
    val (baseline, baselineError) = basePath match {
      case Some(p) => readBaseline(p)
      case None => (None, false)
    }
    // degraded iff a probe reads >1.5x its stored per-box median at
    // BOTH ends of the sweep (min of pre/post): a session-wide
    // slowdown — the r10 failure mode — is high throughout, while a
    // healthy box still throws occasional single-draw spikes (measured
    // ~1.5x once in five idle-box probes) that must not stamp a clean
    // board. The spark probe only compares at the baseline's local[n].
    val degraded: Option[Boolean] = baseline.map { case (bCpus, bCpu, bSpark) =>
      math.min(preCpu, postCpu) > 1.5 * bCpu ||
        (bCpus == cpus && math.min(preSpark, postSpark) > 1.5 * bSpark)
    }
    val probeJson = {
      val base = baseline match {
        case Some((bc, ba, bb)) =>
          s""","baseline_cpus":$bc,"baseline_cpu":$ba,"baseline_spark":$bb"""
        case None => ""
      }
      val baseErr = if (baselineError) ""","baseline_error":true""" else ""
      // cpu_acc: the spins' folds, observably consumed (see cpuProbe).
      // SUM, not XOR — the two runs compute the same deterministic
      // fold, so an XOR would read a constant 0 and look unconsumed
      s""""probe":{"pre_cpu":$preCpu,"pre_spark":$preSpark,""" +
        s""""post_cpu":$postCpu,"post_spark":$postSpark,""" +
        s""""cpu_acc":${(preAcc + postAcc) & 0xffffL}$base$baseErr,""" +
        s""""degraded":${degraded.map(_.toString).getOrElse("null")}}"""
    }
    def row(value: Option[Run] => String): String = results.map { case (k, r) =>
      QueryRunner.json(k) + ":" + value(r.toOption)
    }.mkString("{", ",", "}")
    val secs = results.map(_._2.fold(_ => -1.0, _.secs))
    val qs = row(_.fold("-1.0")(_.secs.toString))
    val cs = row(_.fold("-1")(_.compiles.toString))
    val js = row(_.fold("-1")(_.jobs.toString))
    val es = row(_.fold("-1.0")(_.eagerSecs.toString))
    val errs = results.collect { case (k, Left(e)) => s"${QueryRunner.json(k)}:${QueryRunner.json(e.take(200))}" }
    val errJson = if (errs.isEmpty) "" else errs.mkString(""","errors":{""", ",", "}")
    val line = s"""{"metric":"total","value":${secs.sum},"unit":"sec","queries":$qs,""" +
      s""""codegen_compiles":$cs,"jobs":$js,"eager_s":$es$errJson,$probeJson,"sf":${QueryRunner.json(sfDir)}}"""
    println(line)
    // The driver's record truncates the per-query tail at ~2000 chars,
    // hiding the front of the board from audit — so ALSO write the
    // complete record, with the protocol stamped on it, into the repo.
    val proto = s""""protocol":{"master":"local[$cpus]","sweep":true,""" +
      s""""warmup":${QueryRunner.json(warmDir.getOrElse("kernels-only"))},""" +
      s""""repeats":"min-of-2+adaptive-3rd","timing":"materialize"}"""
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_full_latest.json"),
        (line.dropRight(1) + "," + proto + "}\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] full-record write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
