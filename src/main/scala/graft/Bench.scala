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

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_QUERIES=a,b,c restricts the run (sf1 headline set)
    val only = SparkEntry.selectQueries(sys.env.get(SparkEntry.QueriesEnv)).toSet
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
    val ordered = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.contains(name) }
      .sortBy { case (name, _) =>
        (familyRank.getOrElse(name.head, 9),
          name.drop(1).takeWhile(_.isDigit).toInt)
      }
    // Session hygiene between queries (GraftSession.sweep: clearCache
    // alone releases cached DATASETS but not localCheckpoint() RDD
    // blocks — the r06 bleed).
    def sweep(): Unit = GraftSession.sweep(spark)
    // ---- Warmup phase A: page cache + parquet footers -------------
    // A cold recording box charges the first scan of every table its
    // disk reads; count() each input once so timed runs measure the
    // query, not the storage layer's first touch.
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      val dir = new java.io.File(sfDir)
      val tables = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
      tables.foreach(p => sources.Sources.readParquet(spark, p).count())
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] table warmup failed: " +
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    // ---- Warmup phase B: one untimed pass of every selected query -
    // Runs each query end-to-end at a small SF (default: the sibling
    // sf0.001 of sfDir; SPARK_GRAFT_WARMUP_DIR overrides, empty
    // disables). It JITs the library's kernels and Spark's execution
    // paths the timed run executes — this is what lets the heavy
    // ITERATIVE tail (graph ops, composed pipelines), whose wall clock
    // keeps falling with repeat depth (the documented d7
    // monotone-warmth effect), reach steady state within min-of-2 even
    // in a cold single-session recording. It does not keep every
    // query's generated classes for its timed run: they are
    // plan-derived, but the LRU cache that keeps them holds
    // GraftSession.CodegenCacheEntries classes, so a timed run reuses
    // its warm-up's classes only while fewer than that many were
    // generated after them (by the rest of this pass and the timed
    // runs before it), and compiles the others again — each row's
    // `codegen_compiles` records how many.
    val warmDir: Option[String] = sys.env.get("SPARK_GRAFT_WARMUP_DIR") match {
      case Some("") => None
      case Some(d) => Some(d)
      case None =>
        val sib = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
        if (sib.isDirectory) Some(sib.getPath) else None
    }
    warmDir match {
      case Some(wd) =>
        ordered.foreach { case (name, fn) =>
          try { fn(spark, wd).count() }
          catch {
            case e: Throwable =>
              System.err.println(s"[bench] warmup of $name at $wd failed: " +
                s"${e.getClass.getSimpleName}: ${e.getMessage}")
          }
          sweep()
        }
      case None =>
        // no small-SF sibling: fall back to warming the pairwise-op
        // kernels on a tiny slice so their native/codegen paths are
        // at least compiled before timing
        try {
          import org.apache.spark.sql.functions.col
          val docs = sources.Sources.readParquet(spark, s"$sfDir/documents.parquet")
            .limit(64).cache()
          val emb = sources.Sources.readParquet(spark, s"$sfDir/embeddings.parquet")
            .limit(64).cache()
          graft.ops.Dedup.minhashPairs(docs, "text", "doc_id").count()
          graft.ops.Dedup.simhashPairs(docs, "text", "doc_id").count()
          graft.ops.Dedup.ngramJaccardPairs(docs, "text", "doc_id", col("source")).count()
          graft.ops.Dedup.embeddingNearDupPairs(emb, "embedding", "vec_id", "label", 0.3).count()
          graft.ops.Similarity.lshTopK(emb, emb.limit(4), "embedding", "vec_id", 5, 64).count()
          docs.unpersist(); emb.unpersist()
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] warmup failed (timings may include " +
              s"one-time costs): ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        sweep()
    }
    // ---- Timed runs: min-of-2, adaptive third ----------------------
    // min over repeats = steady-state latency, robust to one-off
    // GC/compilation hiccups. When the two runs still disagree by
    // >30% on a non-trivial query, the query is still descending its
    // warmth curve (or caught a scheduling hiccup) — one more run
    // decides which; the extra cost is bounded to the queries that
    // need it. A query that throws is NOT silently timed as fast: its
    // error surfaces in the JSON.
    // Each run also records the classes it compiled (the compile-count
    // delta); a row reports those of the run whose time it reports.
    def compiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val results = ordered.map { case (name, fn) =>
      var err: Option[String] = None
      def timedRun(): Option[(Double, Long)] = {
        val c0 = compiles()
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            err = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
            false
          }
        // a failed run's duration is not a latency — min over failures
        // would report a fast-failing query as a speedup
        if (ok) Some(((System.nanoTime() - t0) / 1e9, compiles() - c0)) else None
      }
      val firstTwo = (1 to 2).flatMap(_ => timedRun())
      val times = firstTwo.map(_._1)
      val runs =
        if (times.size == 2 && times.min > 0.3 && times.max / times.min > 1.3)
          firstTwo ++ timedRun()
        else firstTwo
      // release the ops' persisted intermediates between queries so the
      // cached blocks of one query never occupy the next one's memory
      sweep()
      val best = runs.minByOption(_._1)
      (name, best.fold(-1.0)(_._1), best.fold(-1L)(_._2), err)
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
        (bCpus == cpus.toInt && math.min(preSpark, postSpark) > 1.5 * bSpark)
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
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val qs = results.map { case (k, v, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val cs = results.map { case (k, _, c, _) => s"\"" + k + "\":" + c }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, _, Some(e)) => s"\"${esc(k)}\":\"${esc(e)}\"" }
    val errJson = if (errs.isEmpty) "" else errs.mkString(""","errors":{""", ",", "}")
    val total = results.map(_._2).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"codegen_compiles":$cs$errJson,$probeJson,"sf":"$sfDir"}"""
    println(line)
    // The driver's record truncates the per-query tail at ~2000 chars,
    // hiding the front of the board from audit — so ALSO write the
    // complete record, with the protocol stamped on it, into the repo
    // (SPARK_GRAFT_BENCH_FULL overrides the path; empty disables).
    val fullPath = sys.env.get("SPARK_GRAFT_BENCH_FULL") match {
      case Some("") => None
      case Some(p) => Some(p)
      case None => Some("BENCH_full_latest.json")
    }
    fullPath.foreach { p =>
      val proto = s""""protocol":{"master":"local[$cpus]","sweep":true,""" +
        s""""warmup":"${esc(warmDir.getOrElse("kernels-only"))}","repeats":"min-of-2+adaptive-3rd"}"""
      val full = line.dropRight(1) + "," + proto + "}"
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(p),
          (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] full-record write to $p failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
