package graft.ops

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.plans.logical._

/** Parallelism floor for map-heavy pipeline inputs. */
object Par {

  /** Floor an input's partition count at the session default before a
    * map-heavy stage (per-doc hashing/shingling, probes×corpus
    * scoring). A small parquet file is one row group, and a row group
    * is one scan split no matter what `files.minPartitionNum` asks
    * for — so without this every pre-shuffle stage over such a file
    * runs as ONE task (measured at sf1: s7's 4M-pair scoring spent
    * 47 s on one core of 32; the arithmetic was never the cost). The
    * repartition fires only when the input arrives UNDER-parallel,
    * which by construction means it is tiny — an input big enough to
    * matter at 100 TB already scans as thousands of splits and passes
    * through untouched, so this never shuffles real data to fix a
    * local-file artifact.
    *
    * The partition probe is gated on the plan SHAPE: only a narrow
    * chain over leaf scans (project/filter/limit — the one shape that
    * can inherit a single-row-group split count) is probed, via
    * `queryExecution.toRdd` (skips Dataset.rdd's row-deserializer
    * wrap). A plan that already passed through an exchange
    * (aggregate/join/sort/repartition) is partitioned at the
    * session's shuffle parallelism, so probing it would re-plan the
    * whole upstream subtree — per widened input, per composed
    * pipeline stage — just to learn a number the config already
    * fixes; those plans pass through without any planning work.
    */
  def widen(df: DataFrame): DataFrame = {
    // Union and Deduplicate also inherit their children's partitioning
    // without an exchange, so a union-of-small-scans (or a
    // dropDuplicates whose physical agg AQE collapses to the scan's
    // split count) can arrive just as under-parallel as a bare scan;
    // Union recurses over ALL children.
    def narrowChain(p: LogicalPlan): Boolean = p match {
      case _: LeafNode => true
      case u: Union => u.children.forall(narrowChain)
      // Generate (explode) also inherits its child's partitioning with
      // no exchange — an explode over a small scan arrives exactly as
      // under-parallel as the scan itself (the m5 payload-variant
      // explode was the measured case: its widen call silently
      // no-op'd here and the CDC pass ran on the scan's splits)
      case _: Project | _: Filter | _: LocalLimit | _: GlobalLimit |
           _: SubqueryAlias | _: Deduplicate | _: Generate =>
        narrowChain(p.children.head)
      case _ => false
    }
    val want = df.sparkSession.sparkContext.defaultParallelism
    // The repartition is inserted BELOW deterministic row-wise
    // operators (Project/Filter/SubqueryAlias/Generate), not stacked
    // on top of the DataFrame: callers routinely pass inputs whose
    // projection IS the expensive map work (t31's qualityScore,
    // t43's score expression), and a top-level repartition leaves
    // that projection evaluating on the under-parallel scan splits —
    // measured r15 at sf1 as the residual t31 wall after a top-level
    // widen. Pushing below a Project/Filter/Generate is value-safe
    // (same multiset in, row-wise ops out); Deduplicate / limits /
    // unions keep the repartition ABOVE them (a subset-picking or
    // row-limiting operator must not see a reshuffled input). So does
    // any node holding a nondeterministic expression (rand,
    // monotonically_increasing_id, a nondeterministic generator): those
    // read the partition index, so below a reshuffle they would produce
    // different values than the caller's plan does.
    def insert(p: LogicalPlan): LogicalPlan = p match {
      case _ if p.expressions.exists(!_.deterministic) =>
        Repartition(want, shuffle = true, p)
      case pj: Project => pj.copy(child = insert(pj.child))
      case f: Filter => f.copy(child = insert(f.child))
      case s: SubqueryAlias => s.copy(child = insert(s.child))
      case g: Generate => g.copy(child = insert(g.child))
      case other => Repartition(want, shuffle = true, other)
    }
    if (!narrowChain(df.queryExecution.analyzed)) df
    else if (df.queryExecution.toRdd.getNumPartitions < want)
      GraftSqlBridge.ofRows(df.sparkSession, insert(df.queryExecution.analyzed))
    else df
  }
}
