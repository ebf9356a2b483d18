package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one runner the query mains (`Bench`, `Verify`,
  * `tools.PlanDump`) share: their session, their per-query loop, the
  * way a query is executed, the job count and the JSON escaping.
  */
object QueryRunner {

  /** Cores of the `local[n]` session: `SPARK_GRAFT_CPUS`, else every
    * processor this JVM sees.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `extensions = false` builds the session without GraftExtensions
    * (see [[GraftSession.builder]]).
    */
  def session(extensions: Boolean = true): SparkSession = {
    val n = cpus
    val spark = GraftSession.builder(s"local[$n]", n, extensions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` once per name, in order. Each query's jobs carry the
    * description `graft: <name>`; a throw is captured as
    * `<exception class>: <message>` and the loop goes on to the next
    * name; after each query [[GraftSession.sweep]] releases what it
    * persisted, `localCheckpoint` blocks included, so one query's
    * intermediates never occupy the next one's memory.
    */
  def run[A](spark: SparkSession, names: Seq[String])(body: String => A)
      : Seq[(String, Either[String, A])] = names.map { name =>
    val sc = spark.sparkContext
    sc.setJobDescription(s"graft: $name")
    val out =
      try Right(body(name))
      catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      finally {
        sc.setJobDescription(null)
        GraftSession.sweep(spark)
      }
    name -> out
  }

  /** Executes `df`'s full plan and drops the rows. It drains the df's
    * OWN `queryExecution.toRdd`: `count()` lets Catalyst prune the
    * plan (q1_pricing_summary's aggregate becomes a bare scan), and a
    * noop write wraps the plan in a fresh QueryExecution, leaving
    * `df.queryExecution`'s adaptive plan unexecuted. After this call
    * `df.queryExecution.executedPlan` is the final re-optimized plan.
    */
  def materialize(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ()))

  /** `body`'s result and the Spark jobs it started. */
  def jobsDuring[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.ListenerDrain(sc)
      (out, n.get)
    } finally sc.removeSparkListener(l)
  }

  /** `s` as a quoted JSON string: quote, backslash and every control
    * char (< 0x20) escaped, so a tab in an oracle's SQL or a newline in
    * an error message cannot break the reader's `json.load`.
    */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
