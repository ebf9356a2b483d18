package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** How a call's result is materialized. */
sealed trait Sink
object Sink {
  /** Full materialization through the `noop` sink: every row of the
    * result is computed and dropped. Never `count()`, which lets
    * Catalyst prune the query.
    */
  case object Noop extends Sink
  /** A result the correctness gate checks: written to parquet under
    * the runner's result directory while one is set (the cold pass),
    * otherwise materialized as `Noop`.
    */
  final case class Result(name: String) extends Sink
  /** The call itself writes: `Sources.writeParquet` into `path`. */
  final case class Parquet(path: String) extends Sink
  /** The result feeds a later call; nothing runs here. */
  case object Lazy extends Sink
}

/** One traced call: its phases and what its Spark jobs did. */
final case class CallRec(pass: Int, name: String, layer: String,
                         eagerS: Double, planS: Double, execS: Double,
                         driverGapS: Double, jobs: Int, tasks: Int,
                         taskWaitS: Double, taskS: Double, cpuS: Double,
                         gcS: Double, shuffleWriteMb: Double, spillMb: Double,
                         scanMb: Double, scanTasks: Int, writeS: Double, writeMb: Double,
                         rowsWritten: Long, filesWritten: Int,
                         counts: PlanCounts) {
  def wallS: Double = eagerS + planS + execS
}

object Runner {
  val PhaseProp = "perfbench.phase"
  val WorkloadSpan = 1
  private val MB = 1024.0 * 1024.0
}

/** Runs calls into graft. Each call's jobs carry a job group naming
  * the call. In a traced pass the runner also records the span tree
  * (pass, unit, call, eager/plan/exec phase, job, stage) and one
  * `CallRec` per call; untraced passes do only the work.
  */
final class Runner(spark: SparkSession, rec: Recorder) {
  import Runner._
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  val calls = mutable.ArrayBuffer[CallRec]()
  /** (pass, sweep seconds, storage MiB held before the sweep) */
  val sweeps = mutable.ArrayBuffer[(Int, Double, Double)]()
  private var nextId = WorkloadSpan + 1
  private val stack = mutable.Stack[Int](WorkloadSpan)
  private var traced = false
  private var pass = 0
  /** Where `Sink.Result` writes while set. */
  var resultDir: Option[String] = None

  private def alloc(): Int = { nextId += 1; nextId - 1 }

  def startPass(index: Int, tracedPass: Boolean): Unit = {
    pass = index
    traced = tracedPass
    rec.on = tracedPass
  }

  def span[T](kind: String, name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = alloc()
      val parent = stack.top
      val t0 = Clock.ms
      stack.push(id)
      try body
      finally { stack.pop(); spans += Span(id, parent, kind, name, t0, Clock.ms) }
    }

  private def runSink(df: DataFrame, sink: Sink): Unit = sink match {
    case Sink.Noop => df.write.format("noop").mode("overwrite").save()
    case Sink.Result(name) => resultDir match {
      case Some(dir) => df.write.mode("overwrite").parquet(s"$dir/$name")
      case None => runSink(df, Sink.Noop)
    }
    case Sink.Parquet(path) => graft.sources.Sources.writeParquet(df, path)
    case Sink.Lazy => ()
  }

  def call(name: String, layer: String, sink: Sink)(eager: => DataFrame): DataFrame =
    if (!traced) {
      sc.setJobGroup(s"$layer.$name", s"$layer.$name")
      try { val df = eager; runSink(df, sink); df }
      finally sc.clearJobGroup()
    } else tracedCall(name, layer, sink, eager)

  private def tracedCall(name: String, layer: String, sink: Sink,
                         eager: => DataFrame): DataFrame = {
    val callId = alloc()
    val parent = stack.top
    val group = s"call-$callId"
    sc.setJobGroup(group, s"$layer.$name")
    val gc0 = Proc.gcS
    val eagerId = alloc()
    val execId = alloc()
    try {
      sc.setLocalProperty(PhaseProp, eagerId.toString)
      val e0 = Clock.ms
      val df = eager
      val e1 = Clock.ms
      var s0 = e1
      var s1 = e1
      if (sink != Sink.Lazy) {
        // eager-phase query executions must not be read as the sink's
        PerfbenchBus.drain(sc)
        rec.clearSinks()
        sc.setLocalProperty(PhaseProp, execId.toString)
        s0 = Clock.ms
        runSink(df, sink)
        s1 = Clock.ms
      }
      val gcS = Proc.gcS - gc0
      PerfbenchBus.drain(sc)
      val (jobs, stages, qes) = rec.take(group)
      val planS = math.min(qes.map(PlanCounts.planS).sum, (s1 - s0) / 1e3)
      val execS = (s1 - s0) / 1e3 - planS
      val eagerS = (e1 - e0) / 1e3
      val wallMs = (e1 - e0) + (s1 - s0)
      // job intervals clipped to the call, merged; the rest is driver time
      val busy = jobs.map(j => (math.max(j.start, e0), math.min(j.end, s1)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
        .foldLeft(List.empty[(Double, Double)]) {
          case ((a, b) :: rest, (c, d)) if c <= b => (a, math.max(b, d)) :: rest
          case (acc, iv) => iv :: acc
        }.map(iv => iv._2 - iv._1).sum
      val st = stages.values
      val files = sink match {
        case Sink.Parquet(path) =>
          Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
            .count(_.getName.endsWith(".parquet"))
        case _ => 0
      }
      // a write's own time: the result stage of its last job (the one
      // that writes the files) and the driver-side commit after that job
      val writeS = if (files == 0 || jobs.isEmpty) 0.0 else {
        val last = jobs.maxBy(_.end)
        val out = stages.get(last.stageIds.max).filter(_.submitted > 0)
          .map(s => math.max(0.0, s.completed - s.submitted)).getOrElse(0.0)
        (out + math.max(0.0, s1 - last.end)) / 1e3
      }
      calls += CallRec(pass, name, layer, eagerS, planS, execS,
        math.max(0.0, wallMs - busy) / 1e3, jobs.size, st.map(_.tasks).sum,
        st.filter(_.tasks > 0).map(s => math.max(0.0, s.firstLaunch - s.submitted)).sum / 1e3,
        st.map(_.taskMs).sum / 1e3, st.map(_.cpuNs).sum / 1e9, gcS,
        st.map(_.shuffleWrite).sum / MB, st.map(_.spill).sum / MB,
        st.map(_.inputBytes).sum / MB, st.map(_.inputTasks).sum, writeS,
        if (files > 0) st.map(_.outputBytes).sum / MB else 0.0,
        if (files > 0) st.map(_.outputRecords).sum else 0L, files,
        qes.map(PlanCounts.of).foldLeft(PlanCounts.zero)(_ + _))
      spans += Span(callId, parent, "call", s"$layer.$name", e0, s1)
      spans += Span(eagerId, callId, "phase", "eager", e0, e1)
      if (sink != Sink.Lazy) {
        spans += Span(alloc(), callId, "phase", "plan", s0, s0 + planS * 1e3)
        spans += Span(execId, callId, "phase", "exec", s0 + planS * 1e3, s1)
      }
      for (j <- jobs) {
        val jobSpan = alloc()
        spans += Span(jobSpan, if (j.phase > 0) j.phase else callId, "job",
          s"job ${j.id}", j.start, j.end)
        for (sid <- j.stageIds; s <- stages.get(sid) if s.submitted > 0)
          spans += Span(alloc(), jobSpan, "stage", s"stage $sid", s.submitted,
            math.max(s.submitted, s.completed))
      }
      df
    } finally {
      sc.setLocalProperty(PhaseProp, null)
      sc.clearJobGroup()
    }
  }

  /** The library's storage sweep between logical jobs (as a
    * long-lived session is told to do), timed as GraftSession's.
    */
  def sweep(): Unit =
    if (!traced) graft.GraftSession.sweep(spark)
    else {
      val held = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MB
      val t0 = Clock.ms
      graft.GraftSession.sweep(spark)
      val t1 = Clock.ms
      spans += Span(alloc(), stack.top, "call", "GraftSession.sweep", t0, t1)
      sweeps += ((pass, (t1 - t0) / 1e3, held))
    }
}
