package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.tables.Tables

/** The injected optimizer rule (graft.plans.TopKRewriteRule): the
  * window row_number top-k idiom must silently replan as the bounded
  * graft_topk aggregate — and be row-identical to the un-rewritten
  * window plan in every eligible shape, while ineligible shapes must
  * be left alone.
  */
class TopKRewriteSpec extends AnyFunSuite {
  import SparkHarness._

  /** lineitem scored with non-nullable score/id — the rule's opt-in shape. */
  private def scored(): DataFrame =
    Tables(spark, sfDir).lineitem.select(
      col("l_suppkey").as("suppkey"),
      coalesce(col("l_extendedprice") * (lit(1.0) - col("l_discount")), lit(0.0))
        .as("score"),
      coalesce(col("l_orderkey") * 10 + col("l_linenumber"), lit(-1L))
        .cast("bigint").as("id"))

  /** Runs `f` with the rule on or off, on a swept session: a rule-off
    * run must recompute, never read blocks the rule-on run cached.
    */
  private def withRule[A](enabled: Boolean)(f: => A): A = {
    GraftSession.sweep(spark)
    spark.conf.set("graft.native.disabled", (!enabled).toString)
    try f finally spark.conf.unset("graft.native.disabled")
  }

  private def planOf(df: DataFrame): String = {
    df.collect() // AQE finalizes subplans only on execution
    df.queryExecution.executedPlan.toString
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("rank filter over row_number replans as graft_topk, no window exec") {
    val w = Window.partitionBy("suppkey").orderBy(col("score").desc, col("id").asc)
    val q = scored().withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).orderBy("suppkey", "rn")
    val p = withRule(enabled = true)(planOf(q))
    assert(p.contains("partial_graft_topk"), s"no partial topk aggregate:\n$p")
    assert(!p.contains("Window"), s"window survived the rewrite:\n$p")
  }

  test("rewritten rows equal the plain window rows (rule off)") {
    def q() = {
      val w = Window.partitionBy("suppkey").orderBy(col("score").desc, col("id").asc)
      scored().withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3).orderBy("suppkey", "rn")
    }
    val got = withRule(enabled = true)(rows(q()))
    val expected = withRule(enabled = false) {
      val p = planOf(q())
      assert(p.contains("Window"), s"rule ran while disabled:\n$p")
      rows(q())
    }
    assert(got.nonEmpty && got == expected)
  }

  test("bigint rank bound (analyzer-inserted cast on rn) still rewrites") {
    // `rn <= 3L` analyzes to Cast(rn as bigint) <= 3L — the bound must
    // be recognized through the widening cast, not silently bailed on
    def q() = {
      val w = Window.partitionBy("suppkey").orderBy(col("score").desc, col("id").asc)
      scored().withColumn("rn", row_number().over(w))
        .filter(col("rn") <= lit(3L)).orderBy("suppkey", "rn")
    }
    val p = withRule(enabled = true)(planOf(q()))
    assert(p.contains("partial_graft_topk"), s"bigint bound not rewritten:\n$p")
    assert(!p.contains("Window"), s"window survived the rewrite:\n$p")
    val got = withRule(enabled = true)(rows(q()))
    val expected = withRule(enabled = false)(rows(q()))
    assert(got.nonEmpty && got == expected)
  }

  test("global top-k (empty partition) rewrites and matches, even on empty input") {
    def q(src: DataFrame) = {
      val w = Window.orderBy(col("score").desc, col("id").asc)
      src.withColumn("rn", row_number().over(w)).filter(col("rn") <= 7)
        .orderBy("rn")
    }
    val src = scored().select("score", "id")
    val p = withRule(enabled = true)(planOf(q(src)))
    assert(p.contains("partial_graft_topk") && !p.contains("Window"), p)
    val got = withRule(enabled = true)(rows(q(src)))
    val expected = withRule(enabled = false)(rows(q(src)))
    assert(got.size == 7 && got == expected)
    // empty input: global Aggregate emits one row with an empty array,
    // posexplode must collapse it back to zero rows like the window
    val empty = src.filter(col("score") < -1e18)
    assert(withRule(enabled = true)(rows(q(empty))).isEmpty)
  }

  test("strict bound and residual predicates are honored") {
    def q() = {
      val w = Window.partitionBy("suppkey").orderBy(col("score").desc, col("id").asc)
      scored().withColumn("rn", row_number().over(w))
        .filter(col("rn") < 4 && col("score") > 1000.0) // k = 3 + residual
        .orderBy("suppkey", "rn")
    }
    val p = withRule(enabled = true)(planOf(q()))
    assert(p.contains("partial_graft_topk") && !p.contains("Window"), p)
    val got = withRule(enabled = true)(rows(q()))
    val expected = withRule(enabled = false)(rows(q()))
    assert(got.nonEmpty && got == expected)
  }

  test("nullable score is left alone (null ranking differs from agg skip)") {
    val w = Window.partitionBy("suppkey").orderBy(col("score").desc, col("id").asc)
    val src = Tables(spark, sfDir).lineitem.select(
      col("l_suppkey").as("suppkey"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("score"), // nullable
      coalesce(col("l_orderkey") * 10 + col("l_linenumber"), lit(-1L))
        .cast("bigint").as("id"))
    val q = src.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    val p = withRule(enabled = true)(planOf(q))
    assert(p.contains("Window") && !p.contains("graft_topk"), p)
  }

  test("extra consumed columns are left alone (no reconstruction join)") {
    val w = Window.partitionBy("suppkey").orderBy(col("score").desc, col("id").asc)
    val q = scored()
      .withColumn("qty", lit(1.0)) // consumed below, not part of (keys, score, id)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("suppkey", "score", "id", "qty", "rn")
    val p = withRule(enabled = true)(planOf(q))
    assert(p.contains("Window") && !p.contains("graft_topk"), p)
  }

  test("rank ascending or non-row_number functions are left alone") {
    val wAsc = Window.partitionBy("suppkey").orderBy(col("score").asc, col("id").asc)
    val q1 = scored().withColumn("rn", row_number().over(wAsc)).filter(col("rn") <= 3)
    val p1 = withRule(enabled = true)(planOf(q1))
    assert(p1.contains("Window") && !p1.contains("graft_topk"), p1)
    val wDesc = Window.partitionBy("suppkey").orderBy(col("score").desc, col("id").asc)
    val q2 = scored().withColumn("rn", rank().over(wDesc)).filter(col("rn") <= 3)
    val p2 = withRule(enabled = true)(planOf(q2))
    assert(p2.contains("Window") && !p2.contains("graft_topk"), p2)
  }
}
