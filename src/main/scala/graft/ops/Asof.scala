package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.AsofJoin

/** Public API for the plan-backed as-of join ([[graft.plans.AsofJoin]]).
  *
  * `asofJoin(left, right, keys, leftTime, rightTime)` returns every
  * left row with the columns of the LATEST right row whose key matches
  * and whose time is <= the left time (nulls when no such row).
  *
  * Right-side columns come back suffixed (default "_r") — the
  * re-projection also gives the right side fresh attribute ids, so
  * self-as-of joins (left and right carved from the same DataFrame,
  * the q16 shape) are unambiguous by construction.
  *
  * Sessions carrying `GraftExtensions` (which injects
  * [[graft.plans.AsofJoinStrategy]]) execute the custom physical
  * operator: one streaming merge over co-partitioned sorted children.
  * Without the strategy — or with `graft.native.disabled=true`, the
  * library-wide fallback escape hatch — the SAME semantics compose
  * from built-ins: union both sides, window-scan for the last right
  * row at or before each left time, keep the left rows. Row-identical
  * output either way (FallbackSpec), so the operator is portable to
  * any Spark session; the planned form is the performance path
  * (no row duplication through the union, no whole-row struct carry).
  *
  * CONTRACT — right-side (key, time) uniqueness: when the right side
  * carries DUPLICATE (key, time) rows with different payloads, "the
  * last right row at or before t" is not a unique row, and BOTH paths
  * pick an unspecified winner (each resolves the tie by its own
  * unstable sort/window order, and they need not agree with each
  * other or across partitionings). As-of semantics need a
  * deterministic right side: pre-dedup ties (e.g.
  * [[graft.ops.Enrich.dedupKeepFirst]] on (key, time)) if the input
  * can carry them. Distinct-(key, time) right sides — the normal
  * as-of shape — are row-identical on both paths, as FallbackSpec
  * asserts.
  */
object Asof {

  def asofJoin(left: DataFrame, right: DataFrame,
               keys: Seq[(String, String)],
               leftTimeCol: String, rightTimeCol: String,
               rightSuffix: String = "_r"): DataFrame = {
    require(keys.nonEmpty, "as-of join needs at least one equi-key")
    // suffixed right names must not collide with left names, or the
    // output would carry duplicate columns and downstream select(name)
    // dies on ambiguity
    val clash = right.columns.map(_ + rightSuffix).toSet
      .intersect(left.columns.toSet)
    require(clash.isEmpty,
      s"as-of right suffix '$rightSuffix' collides with left column(s) " +
        s"${clash.mkString(", ")} — pass a different rightSuffix")
    val planned = (left.sparkSession.sessionState.planner.strategies
        .exists(_ eq graft.plans.AsofJoinStrategy) ||
      left.sparkSession.sessionState.experimentalMethods.extraStrategies
        .exists(_ eq graft.plans.AsofJoinStrategy) ||
      left.sparkSession.conf.get("spark.sql.extensions", "")
        .contains("graft.GraftExtensions")) &&
      !left.sparkSession.conf.get("graft.native.disabled", "false").toBoolean
    // fresh exprIds + collision-free names for the right side
    val r2 = right.select(right.columns.map(c => col(c).as(c + rightSuffix)): _*)
    if (!planned)
      return asofJoinComposed(left, r2, keys, leftTimeCol,
        rightTimeCol + rightSuffix, rightSuffix)
    val node = AsofJoin(
      left.queryExecution.analyzed,
      r2.queryExecution.analyzed,
      keys.map { case (lk, _) => attr(left, lk) },
      keys.map { case (_, rk) => attr(r2, rk + rightSuffix) },
      attr(left, leftTimeCol),
      attr(r2, rightTimeCol + rightSuffix))
    GraftSqlBridge.ofRows(left.sparkSession, node)
  }

  /** The composed form: tag and union both sides, then one window scan
    * per key partition ordered by (time, side) — right rows sort ahead
    * of left rows at equal times, so `last(right-struct, ignoreNulls)`
    * at a left row IS the latest right row with time <= left time. The
    * right row travels as ONE struct so its columns stay atomic (a
    * null field in the matched row must not fall through to an older
    * row's value — same contract as the physical merge). Mirrors the
    * planned operator's null semantics: null right times are skipped
    * (they never merge), null-keyed right rows match nothing
    * (equi-join nulls), and a null left time sorts before every right
    * row so it matches nothing.
    */
  private def asofJoinComposed(left: DataFrame, r2: DataFrame,
                               keys: Seq[(String, String)],
                               leftTimeCol: String, rTimeCol: String,
                               rightSuffix: String): DataFrame = {
    val lCols = left.columns.toSeq
    val rCols = r2.columns.toSeq
    // the composed plan adds working columns in the __asof_ namespace;
    // a user column there would make the projection ambiguous — fail
    // with the reason rather than an ambiguous-reference error, and
    // only on this path (the planned operator has no such columns)
    val reserved = (lCols ++ rCols).filter(_.startsWith("__asof_"))
    require(reserved.isEmpty,
      s"asofJoin composed fallback reserves the __asof_ column prefix; " +
        s"rename: ${reserved.mkString(", ")}")
    val keyCols = keys.indices.map(i => s"__asof_k$i")
    val rStruct = struct(rCols.map(col): _*)
    val rNullStruct = {
      val sch = org.apache.spark.sql.types.StructType(
        rCols.map(c => org.apache.spark.sql.types.StructField(c, r2.schema(c).dataType)))
      lit(null).cast(sch)
    }
    val lU = left.select(
      lCols.map(col) ++
        keys.zipWithIndex.map { case ((lk, _), i) => col(lk).as(keyCols(i)) } ++
        Seq(col(leftTimeCol).as("__asof_t"), lit(1).as("__asof_side"),
          rNullStruct.as("__asof_r")): _*)
    val rU = r2
      .filter(col(rTimeCol).isNotNull &&
        keys.map { case (_, rk) => col(rk + rightSuffix).isNotNull }
          .reduce(_ && _))
      .select(
        lCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
          keys.zipWithIndex.map { case ((_, rk), i) => col(rk + rightSuffix).as(keyCols(i)) } ++
          Seq(col(rTimeCol).as("__asof_t"), lit(0).as("__asof_side"),
            rStruct.as("__asof_r")): _*)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__asof_t").asc_nulls_first, col("__asof_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lU.union(rU)
      .withColumn("__asof_m", last(col("__asof_r"), ignoreNulls = true).over(w))
      .filter(col("__asof_side") === 1)
      // getField, not the dotted col("__asof_m.c") path: a right column
      // whose NAME contains a dot would otherwise parse as a deeper
      // nested-field reference and fail to resolve
      .select(lCols.map(col) ++
        rCols.map(c => col("__asof_m").getField(c).as(c)): _*)
  }

  private def attr(df: DataFrame, name: String) = GraftSqlBridge.expr(df(name))
}
