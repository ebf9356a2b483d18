package graft.tools

/** Dump `.explain("formatted")` for declared queries to text files —
  * the plan evidence the optimization rounds commit under plans/rNN/.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  * With no query list, dumps every declared query; a list naming no
  * query, or an undeclared one, fails before the session starts
  * ([[graft.SparkEntry.selectQueries]]). The plan captured is
  * the POST-EXECUTION one (queryExecution.executedPlan after an AQE
  * run), so Exchange counts and join strategies reflect what actually
  * ran, not the pre-AQE guess; the formatted explain (initial plan) is
  * written first, then the final adaptive plan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = graft.SparkEntry.selectQueries(args.lift(3))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val queries = graft.SparkEntry.queries
    names.foreach { name =>
      val fn = queries(name)
      spark.sparkContext.setJobDescription(s"plandump: $name")
      val df = fn(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // Execute THIS df's own QueryExecution (a noop write would wrap
      // the logical plan in a fresh QE, leaving df.queryExecution's
      // adaptive plan unexecuted — the r14 dumps all read
      // isFinalPlan=false). toRdd executes the AdaptiveSparkPlanExec,
      // so executedPlan afterwards is the final re-optimized plan;
      // iterators are drained so the last stage really computes.
      df.queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ()))
      val finalPlan = df.queryExecution.executedPlan.toString
      val text = s"== $name @ $sfDir ==\n\n--- explain(formatted), initial ---\n" +
        formatted + "\n--- executedPlan after AQE run ---\n" + finalPlan + "\n"
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      graft.GraftSession.sweep(spark)
      println(s"[plandump] wrote $name")
    }
    spark.stop()
  }
}
