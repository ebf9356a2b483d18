package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_QUERIES=a,b,c restricts the dump (and the oracle
    // json, so the driver-style compare checks the same subset) — used
    // for the sf1 proof-point where the quadratic d2/d4 brute-force
    // oracles are infeasible by design
    val names = SparkEntry.selectQueries(sys.env.get(SparkEntry.QueriesEnv))
    val only = names.toSet
    // SPARK_GRAFT_NO_EXT=1: run the whole gate WITHOUT GraftExtensions
    // — every operator must pass on its pure-built-in fallback path
    // (the portability contract, proven end-to-end, not per-op)
    val spark = QueryRunner.session(extensions = !sys.env.get("SPARK_GRAFT_NO_EXT").contains("1"))
    new java.io.File(outDir).mkdirs()
    QueryRunner.run(spark, names) { name =>
      SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
    }.collect { case (name, Left(err)) => System.err.println(s"[verify] $name failed: $err") }
    val json = SparkEntry.oracleSql.filter(kv => only.contains(kv._1))
      .map { case (k, v) => s"${QueryRunner.json(k)}: ${QueryRunner.json(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
