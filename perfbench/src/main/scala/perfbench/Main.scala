package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one process, `local[cores]`, one caller.
  *
  * Builds the session `Setups` times (setup time), runs one cold pass,
  * `WarmUpPasses` untimed ones and then warm passes of the workload
  * until `--seconds` have passed and at least `MinWarmPasses` were
  * run, each pass one unit after another, every result fully
  * materialized: the cold pass writes the results the correctness
  * gate checks to parquet, the warm passes through the `noop` sink.
  * With `--trace 1` the warm passes alternate traced and untraced, and
  * the per-layer numbers come from the traced ones. The summary goes
  * to `<work>/result.json`, the spans to `<work>/spans.jsonl`, the
  * checked results under `<work>/results`.
  *
  * Usage: perfbench.Main --workload W --input DIR --work DIR
  *          --seconds S --trace 0|1 --cores N --run-id ID
  */
object Main {

  /** Session builds per run; setup time is their median. */
  val Setups = 7

  /** Warm passes a run makes at least, however long they take: the
    * end-to-end times are medians over them. A traced run alternates
    * traced and untraced warm passes and makes at least `MinTracedPasses`
    * of each, for medians on both sides of the tracing overhead.
    */
  val MinWarmPasses = 5
  val MinTracedPasses = 2

  /** Passes after the cold one that no figure counts: the first of them
    * still pays most of the JIT compiles left after the cold pass.
    */
  val WarmUpPasses = 1

  val Layers: Seq[String] = Seq("Enrich", "Dedup", "Graph", "Similarity",
    "Cluster", "TextAnalysis", "Curation", "SparkEntry")

  final case class Pass(index: Int, traced: Boolean, wallS: Double, cpuS: Double,
                        gcS: Double, jitS: Double, units: Seq[(String, Double)])

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def session(cores: Int, work: String): SparkSession = {
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val input = new File(opt("input")).getAbsolutePath
    val work = new File(opt("work")).getAbsolutePath
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val runId = opt("run-id")

    val phases = mutable.LinkedHashMap[String, Double]()
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases(name) = (System.nanoTime() - t0) / 1e9
    }

    // ---- setup: session build with GraftExtensions up to its first job
    val setupS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    phase("setup") {
      for (_ <- 1 to Setups) {
        if (spark != null) spark.stop()
        val t0 = System.nanoTime()
        spark = session(cores, work)
        spark.range(0L, 1000L, 1L, cores).selectExpr("sum(id)").collect()
        setupS += (System.nanoTime() - t0) / 1e9
      }
    }

    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager.register(rec)
    val runner = new Runner(spark, rec)
    val wl = Workloads(workload, spark, input, work)
    val errors = mutable.ArrayBuffer[String]()
    var attempted = 0
    phase("prepare")(wl.prepare(runner))

    def runPass(index: Int, traced: Boolean): Pass = {
      wl.resetPass()
      runner.startPass(index, traced)
      val (cpu0, gc0, jit0) = (Proc.cpuS, Proc.gcS, Proc.jitS)
      val t0 = System.nanoTime()
      val unitS = runner.span("pass", s"pass $index") {
        wl.units.map { case (name, body) =>
          val u0 = System.nanoTime()
          attempted += 1
          try runner.span("unit", name)(body(runner))
          catch { case e: Throwable => errors += s"pass $index $name: ${describe(e)}" }
          name -> (System.nanoTime() - u0) / 1e9
        }
      }
      runner.sweep()
      val p = Pass(index, traced, (System.nanoTime() - t0) / 1e9, Proc.cpuS - cpu0,
        Proc.gcS - gc0, Proc.jitS - jit0, unitS)
      runner.startPass(index, tracedPass = false)
      p
    }

    val wl0 = Clock.ms
    val results = s"$work/results"
    runner.resultDir = Some(results)
    val passes = mutable.ArrayBuffer(phase("cold_pass")(runPass(0, traced = false)))
    runner.resultDir = None
    wl.keepResults(results)
    phase("warm_up")(for (_ <- 1 to WarmUpPasses) passes += runPass(passes.size, traced = false))
    val measured = passes.size
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val minPasses = measured + (if (trace) 2 * MinTracedPasses else MinWarmPasses)
    phase("warm_passes") {
      while (System.nanoTime() < deadline || passes.size < minPasses)
        passes += runPass(passes.size, trace && (passes.size - measured) % 2 == 0)
    }
    val wl1 = Clock.ms
    val peakRss = Proc.peakRssMb

    // ---- untimed: input facts
    val facts = if (!trace) Map.empty[String, Any] else phase("facts") {
      try wl.facts() catch {
        case e: Throwable => Map[String, Any]("facts_error" -> describe(e))
      }
    }

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "cores" -> cores, "run_id" -> runId,
      "setup_s" -> setupS.toSeq, "peak_rss_mb" -> peakRss, "warm_up_passes" -> WarmUpPasses,
      "attempted" -> attempted, "errors" -> errors.toSeq,
      "passes" -> passes.map(p => Map("traced" -> p.traced, "wall_s" -> p.wallS,
        "cpu_s" -> p.cpuS, "gc_s" -> p.gcS, "jit_s" -> p.jitS,
        "units" -> p.units.map { case (n, t) => Map("name" -> n, "s" -> t) })).toSeq,
      "checks" -> wl.checks(results).map(c => Map("name" -> c.name, "path" -> c.path,
        "sql" -> c.sql)),
      "facts" -> facts, "phases_s" -> phases.toMap,
      "versions" -> Map("spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "scala" -> scala.util.Properties.versionNumberString))
    if (trace) {
      out("layers") = layerMetrics(runner, passes.toSeq, cores, wl.offeredRows)
      out("calls") = runner.calls.filter(_.pass == 1 + WarmUpPasses).map(c => Map(
        "name" -> c.name, "layer" -> c.layer, "eager_s" -> c.eagerS,
        "plan_s" -> c.planS, "exec_s" -> c.execS, "jobs" -> c.jobs,
        "tasks" -> c.tasks, "repartitions" -> c.counts.repartitions,
        "kernel_nodes" -> c.counts.kernels, "topk_nodes" -> c.counts.topk)).toSeq
      runner.spans += Span(Runner.WorkloadSpan, 0, "workload", workload, wl0, wl1)
      val w = new PrintWriter(s"$work/spans.jsonl", "UTF-8")
      try runner.spans.sortBy(_.start).foreach { s =>
        w.println(Json(Map("run" -> runId, "id" -> s.id, "parent" -> s.parent,
          "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end)))
      } finally w.close()
    }
    val w = new PrintWriter(s"$work/result.json", "UTF-8")
    try w.println(Json(out.toMap)) finally w.close()
    spark.stop()
  }

  /** Per-layer metrics of the traced passes: each one summed over a
    * pass, then the median over traced passes.
    */
  def layerMetrics(runner: Runner, passes: Seq[Pass], cores: Int,
                   offered: Long): Map[String, Double] = {
    val traced = passes.filter(_.traced)
    val perPass = traced.map { p =>
      val cs = runner.calls.filter(_.pass == p.index).toSeq
      val sw = runner.sweeps.filter(_._1 == p.index)
      val m = mutable.LinkedHashMap[String, Double]()
      for (layer <- Layers) {
        val lc = cs.filter(_.layer == layer)
        val wall = lc.map(_.wallS).sum
        def put(k: String, v: Double): Unit = m(s"$layer.$k") = v
        put("eager_s", lc.map(_.eagerS).sum)
        put("plan_s", lc.map(_.planS).sum)
        put("exec_s", lc.map(_.execS).sum)
        put("driver_gap_s", lc.map(_.driverGapS).sum)
        put("jobs", lc.map(_.jobs).sum)
        put("tasks", lc.map(_.tasks).sum)
        put("task_wait_s", lc.map(_.taskWaitS).sum)
        put("core_busy_frac", if (wall > 0) lc.map(_.taskS).sum / (wall * cores) else 0.0)
        put("cpu_s", lc.map(_.cpuS).sum)
        put("gc_s", lc.map(_.gcS).sum)
        put("shuffle_write_mb", lc.map(_.shuffleWriteMb).sum)
        put("spill_mb", lc.map(_.spillMb).sum)
      }
      // a parquet sink's call belongs to the layer whose plan it runs;
      // Sources gets the output stage and the commit of that call
      val src = cs.filter(_.filesWritten > 0)
      m("tables.scan_mb") = cs.map(_.scanMb).sum
      m("tables.scan_tasks") = cs.map(_.scanTasks).sum
      m("Sources.write_s") = src.map(_.writeS).sum
      m("Sources.write_mb") = src.map(_.writeMb).sum
      m("Sources.files_written") = src.map(_.filesWritten).sum
      m("Sources.appended_frac") =
        if (offered > 0) src.filter(_.name == "write").map(_.rowsWritten).sum.toDouble / offered
        else 0.0
      m("Par.repartition_exchanges") = cs.map(_.counts.repartitions).sum
      m("GraftExtensions.kernel_nodes") = cs.map(_.counts.kernels).sum
      m("GraftExtensions.topk_nodes") = cs.map(_.counts.topk).sum
      m("GraftSession.sweep_s") = sw.map(_._2).sum
      m("GraftSession.cached_mb") = if (sw.isEmpty) 0.0 else sw.map(_._3).max
      val self = cs.map(_.wallS).sum + sw.map(_._2).sum
      m("trace.self_cover_frac") = self / p.wallS
      m("trace.jobs_per_call") = if (cs.isEmpty) 0.0 else cs.map(_.jobs).sum.toDouble / cs.size
      m.toMap
    }
    val keys = perPass.head.keys.toSeq
    val med = keys.map(k => k -> median(perPass.map(_(k)))).toMap
    val tracedPass = median(traced.map(_.wallS))
    val plainPass = median(passes.drop(1 + WarmUpPasses).filterNot(_.traced).map(_.wallS))
    med ++ Map("trace.pass_s" -> tracedPass, "trace.untraced_pass_s" -> plainPass,
      "trace.overhead_s" -> (tracedPass - plainPass))
  }
}

/** Just enough JSON for the result and span files. */
object Json {
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
