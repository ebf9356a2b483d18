package graft

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

class RunnerSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkHarness._

  /** q1's per-(flag, status) sums: grouped aggregates that compute
    * something (`count()` keeps the grouping but prunes the sums).
    */
  private def groupedAggregates(plan: SparkPlan): Seq[HashAggregateExec] =
    collect(plan) {
      case h: HashAggregateExec if h.groupingExpressions.nonEmpty && h.aggregateExpressions.nonEmpty => h
    }

  test("the loop releases what a query persisted: g4_cc_incremental leaves no persistent RDD and no cached Dataset") {
    val out = QueryRunner.run(spark, Seq("g4_cc_incremental")) { name =>
      QueryRunner.materialize(SparkEntry.queries(name)(spark, sfDir))
      // the pair input's localCheckpoint, which clearCache() leaves pinned
      assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    }
    assert(out.forall(_._2.isRight), out)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("a query that throws is reported with its message and the next query still runs") {
    val out = QueryRunner.run(spark, Seq("planted", "q1_pricing_summary")) { name =>
      if (name == "planted") throw new IllegalStateException("planted failure")
      QueryRunner.materialize(SparkEntry.queries(name)(spark, sfDir))
      name
    }
    assert(out == Seq(
      "planted" -> Left("IllegalStateException: planted failure"),
      "q1_pricing_summary" -> Right("q1_pricing_summary")))
  }

  test("materialize runs q1_pricing_summary's full plan, which count() prunes; its final plan stays readable") {
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sfDir)
    val (_, jobs) = QueryRunner.jobsDuring(spark)(QueryRunner.materialize(df))
    assert(jobs >= 1)
    val plan = df.queryExecution.executedPlan
    assert(plan.asInstanceOf[AdaptiveSparkPlanExec].isFinalPlan, plan)
    assert(groupedAggregates(plan).nonEmpty, plan)

    @volatile var counted: Option[SparkPlan] = None
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "count") counted = Some(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      SparkEntry.queries("q1_pricing_summary")(spark, sfDir).count()
      org.apache.spark.ListenerDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    assert(counted.exists(groupedAggregates(_).isEmpty), counted)
  }

  test("json escapes quote, backslash and every control char") {
    assert(QueryRunner.json("a\"b\\c\nd\te\u0001") == "\"a\\\"b\\\\c\\nd\\te\\u0001\"")
  }
}
