package graft.tools

import graft.QueryRunner

/** Dump `.explain("formatted")` for declared queries to text files —
  * the plan evidence the optimization rounds commit under plans/rNN/.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  * With no query list, dumps every declared query; a list naming no
  * query, or an undeclared one, fails before the session starts
  * ([[graft.SparkEntry.selectQueries]]). The plan captured is
  * the POST-EXECUTION one (queryExecution.executedPlan after
  * [[graft.QueryRunner.materialize]] ran the adaptive plan), so
  * Exchange counts and join strategies reflect what actually ran, not
  * the pre-AQE guess; the formatted explain (initial plan) is written
  * first, then the final adaptive plan. A query that throws is
  * reported and skipped.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = graft.SparkEntry.selectQueries(args.lift(3))
    val spark = QueryRunner.session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    QueryRunner.run(spark, names) { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      QueryRunner.materialize(df)
      val finalPlan = df.queryExecution.executedPlan.toString
      val text = s"== $name @ $sfDir ==\n\n--- explain(formatted), initial ---\n" +
        formatted + "\n--- executedPlan after AQE run ---\n" + finalPlan + "\n"
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $name")
    }.collect { case (name, Left(err)) => println(s"[plandump] $name failed: $err") }
    spark.stop()
  }
}
