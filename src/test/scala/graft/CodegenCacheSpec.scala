package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** A pipeline that one session runs again must reuse the classes its
  * first run generated: Spark's generated-class cache is an LRU, and a
  * cyclic working set larger than it misses on every access, so each
  * re-run would compile every class again (see
  * [[GraftSession.CodegenCacheEntries]]).
  */
class CodegenCacheSpec extends AnyFunSuite {
  import SparkHarness._

  /** The curation workload's queries: 148 distinct classes per pass in
    * the benchmark's session, more than Spark's default of 100 entries.
    */
  val Pipeline = Seq("d2_minhash_lsh", "g4_cc_incremental", "t2_quality_score",
    "t7_pii_scrub", "s13_ivfpq", "c1_kmeans")

  /** Classes compiled while the pipeline runs once, each result
    * written through the `noop` sink after a sweep.
    */
  private def compilesOfOneRun(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    for (name <- Pipeline) {
      GraftSession.sweep(spark)
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second run of the curation pipeline compiles no classes") {
    val first = compilesOfOneRun()
    val second = compilesOfOneRun()
    GraftSession.sweep(spark)
    assert(second == 0, s"second run compiled $second classes (first run: $first)")
  }
}
