package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds at nanosecond resolution: driver-timed spans and
  * the listener's job/stage/task times share one axis.
  */
object Clock {
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble
  def ms: Double = ms0 + (System.nanoTime() - nano0) / 1e6
}

object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9
  def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  /** Wall time the JIT compilers have spent so far, seconds. */
  def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  /** Peak resident set of this process (VmHWM), MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }
}

/** A timed interval of the run's span tree. All spans of a run share
  * the run id they are written out with.
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      start: Double, end: Double)

final class StageRec {
  var submitted = 0.0
  var completed = 0.0
  var firstLaunch = Double.MaxValue
  var tasks = 0
  var taskMs = 0.0
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputTasks = 0
  var outputBytes = 0L
  var outputRecords = 0L
}

final class JobRec(val id: Int, val group: String, val phase: Int,
                   val start: Double, val stageIds: Seq[Int]) {
  var end: Double = start
}

/** Listener half of the traced run: jobs (tagged with the calling
  * span through the job group and a local property), their stages and
  * tasks, and the query executions of each sink. Recording is off in
  * untraced passes.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  @volatile var on = false
  private val jobs = mutable.ArrayBuffer[JobRec]()
  private val stages = mutable.HashMap[Int, StageRec]()
  private val sinks = mutable.ArrayBuffer[QueryExecution]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
    val props = Option(e.properties)
    val group = props.map(_.getProperty("spark.jobGroup.id")).orNull
    val phase = props.flatMap(p => Option(p.getProperty(Runner.PhaseProp)))
      .map(_.toInt).getOrElse(0)
    jobs += new JobRec(e.jobId, group, phase, e.time.toDouble, e.stageIds)
    e.stageIds.foreach(s => stages.getOrElseUpdate(s, new StageRec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (on) synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.submitted = e.stageInfo.submissionTime.map(_.toDouble).getOrElse(Clock.ms)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.completed = e.stageInfo.completionTime.map(_.toDouble).getOrElse(Clock.ms)
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = if (on) synchronized {
    stages.get(e.stageId).foreach { s =>
      s.firstLaunch = math.min(s.firstLaunch, e.taskInfo.launchTime.toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) synchronized {
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      s.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        s.cpuNs += m.executorCpuTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        if (m.inputMetrics.bytesRead > 0) s.inputTasks += 1
        s.outputBytes += m.outputMetrics.bytesWritten
        s.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (on) synchronized { sinks += qe }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def clearSinks(): Unit = synchronized { sinks.clear() }

  /** Remove and return the jobs of `group` with their stages, and the
    * query executions recorded since the last `clearSinks`.
    */
  def take(group: String): (Seq[JobRec], Map[Int, StageRec], Seq[QueryExecution]) = synchronized {
    val (mine, rest) = jobs.partition(_.group == group)
    jobs.clear(); jobs ++= rest
    val st = mine.flatMap(_.stageIds).distinct
      .flatMap(i => stages.remove(i).map(i -> _)).toMap
    val qes = sinks.toList
    sinks.clear()
    (mine.toSeq, st, qes)
  }
}

/** Counts read from a sink's final executed plan. */
final case class PlanCounts(repartitions: Int, kernels: Int, topk: Int) {
  def +(o: PlanCounts): PlanCounts =
    PlanCounts(repartitions + o.repartitions, kernels + o.kernels, topk + o.topk)
}

object PlanCounts {
  val zero: PlanCounts = PlanCounts(0, 0, 0)

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children ++ o.subqueries
    }
    p +: kids.flatMap(nodes)
  }

  def of(qe: QueryExecution): PlanCounts = {
    val all = nodes(qe.executedPlan)
    val reps = all.count {
      case s: ShuffleExchangeExec => s.shuffleOrigin == REPARTITION_BY_NUM
      case _ => false
    }
    val graft = all.flatMap(_.expressions.flatMap(_.collect {
      case e if e.prettyName.startsWith("graft_") => e.prettyName
    }))
    PlanCounts(reps, graft.count(_ != "graft_topk"), graft.count(_ == "graft_topk"))
  }

  /** Catalyst optimization + physical planning time recorded by the
    * sink's QueryPlanningTracker, seconds.
    */
  def planS(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3
}
