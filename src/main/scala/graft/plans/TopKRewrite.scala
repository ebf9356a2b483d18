package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
import graft.functions.TopKAgg

/** Optimizer rule: rewrite the window top-k idiom
  *
  * {{{
  *   SELECT ... FROM (
  *     SELECT g..., score, id,
  *            row_number() OVER (PARTITION BY g ORDER BY score DESC, id) rn
  *     FROM t) WHERE rn <= k
  * }}}
  *
  * into the bounded [[graft.functions.TopKAgg]] aggregate plus a
  * positional explode that reconstructs the original rows (rn = pos+1):
  *
  * {{{
  *   Aggregate(g, graft_topk(score, id, k))  -- partial-agg friendly
  *     -> Generate(posexplode(topk))
  *     -> Project(g..., entry.score, entry.id, pos+1 AS rn)
  * }}}
  *
  * Why: the window form shuffles EVERY candidate row of a group to its
  * reducer and sorts it there; Spark's own InferWindowGroupLimit (3.5+)
  * inserts a partial per-map top-k pass but still sorts the survivors
  * per group after the exchange. The aggregate form forwards at most k
  * entries per group per map task (ObjectHashAggregate partials) and
  * merges O(k) heaps — no per-group sort at all, shuffle volume
  * O(k · groups · partitions) instead of O(candidates). At 100 TB this
  * is the difference between an ANN ranking that scales and one that
  * sorts the corpus per probe. Because this rule runs in the operator
  * optimization batch, it claims the Filter+Window shape before
  * InferWindowGroupLimit (a later, once-only batch) sees it.
  *
  * The rewrite fires ONLY when it is provably row-identical to the
  * window form:
  *   - exactly one window expression: `row_number()` over
  *     (rows unbounded preceding .. current row);
  *   - ORDER BY is exactly (score DESC, id ASC) on bare columns with
  *     score DOUBLE and id BIGINT, both non-nullable (TopKAgg skips
  *     null inputs, a window ranks them — non-nullable inputs make the
  *     two indistinguishable; callers wrap with coalesce to opt in);
  *   - PARTITION BY is on bare columns (possibly empty = global top-k);
  *   - the window's input carries no columns beyond partition keys,
  *     score and id (after Catalyst column pruning, true whenever the
  *     query only consumes those — otherwise reconstruction would need
  *     a join back and the rewrite would not obviously win);
  *   - the filter bounds the rank from above by a positive literal
  *     (`rn <= k`, `rn < k`, `k >= rn`, `k > rn`, `rn = 1`); other
  *     conjuncts survive as a residual Filter above the rewrite.
  *
  * `graft.native.disabled=true`, the switch that turns off every
  * native kernel, turns the rule off too (the equivalence spec runs
  * both forms with it). Injected via [[graft.GraftExtensions]]
  * `injectOptimizerRule`, so extension-less sessions keep the plain
  * window plan — same fallback philosophy as the native kernels.
  */
object TopKRewriteRule extends Rule[LogicalPlan] with PredicateHelper {

  /** `rn` itself, or the analyzer-inserted widening cast the comparison
    * against a bigint literal wraps it in (`rn <= 3L` analyzes to
    * `Cast(rn as bigint) <= 3L`) — widening to LongType is lossless, so
    * the bound semantics are unchanged.
    */
  private def isRn(e: Expression, rn: Attribute): Boolean = e match {
    case a: Attribute => a.semanticEquals(rn)
    case c: Cast => c.dataType == LongType && (c.child match {
      case a: Attribute => a.semanticEquals(rn)
      case _ => false
    })
    case _ => false
  }

  /** Integer value of an int/bigint literal bound, when it fits an Int
    * (a bound beyond Int.MaxValue rows is left unrecognized — the
    * rewrite then bails, which is correctness-safe).
    */
  private def litK(e: Expression): Option[Int] = e match {
    case Literal(k: Int, IntegerType) => Some(k)
    case Literal(k: Long, LongType) if k >= Int.MinValue.toLong && k <= Int.MaxValue.toLong =>
      Some(k.toInt)
    case _ => None
  }

  /** rank-bound conjunct on `rn` → max rank k (None = not a bound). */
  private def rankBound(e: Expression, rn: Attribute): Option[Int] = e match {
    case LessThanOrEqual(a, l) if isRn(a, rn) => litK(l)
    case LessThan(a, l) if isRn(a, rn) => litK(l).filter(_ > Int.MinValue).map(_ - 1)
    case GreaterThanOrEqual(l, a) if isRn(a, rn) => litK(l)
    case GreaterThan(l, a) if isRn(a, rn) => litK(l).filter(_ > Int.MinValue).map(_ - 1)
    case EqualTo(a, l) if isRn(a, rn) && litK(l).contains(1) => Some(1)
    case EqualTo(l, a) if isRn(a, rn) && litK(l).contains(1) => Some(1)
    case _ => None
  }

  private def isRowNumberFrame(spec: WindowSpecDefinition): Boolean =
    spec.frameSpecification match {
      case SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow) => true
      case UnspecifiedFrame => true
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString(graft.ops.Native.DisabledConf, "false").toBoolean) return plan
    plan.transformUp {
      case f @ Filter(cond,
          w @ Window(Seq(alias @ Alias(WindowExpression(RowNumber(), spec), _)),
                     partitionSpec, orderSpec, child, _))
          if eligible(spec, partitionSpec, orderSpec, child) =>
        val rn = alias.toAttribute
        val conjuncts = splitConjunctivePredicates(cond)
        val bounds = conjuncts.flatMap(c => rankBound(c, rn))
        val residual = conjuncts.filter(c => rankBound(c, rn).isEmpty)
        // every conjunct mentioning rn must be a recognized upper bound,
        // and at least one bound must exist and be positive
        if (bounds.isEmpty || residual.exists(_.references.contains(rn)) ||
            bounds.min < 1) f
        else rewrite(f, w, rn, bounds.min, residual)
    }
  }

  private def eligible(spec: WindowSpecDefinition, partitionSpec: Seq[Expression],
                       orderSpec: Seq[SortOrder], child: LogicalPlan): Boolean = {
    val orderOk = orderSpec match {
      case Seq(SortOrder(s: Attribute, Descending, NullsLast, _),
               SortOrder(i: Attribute, Ascending, NullsFirst, _)) =>
        s.dataType == DoubleType && !s.nullable &&
          i.dataType == LongType && !i.nullable
      case _ => false
    }
    orderOk && isRowNumberFrame(spec) &&
      partitionSpec.forall(_.isInstanceOf[Attribute]) && {
        val keep = AttributeSet(partitionSpec.map(_.asInstanceOf[Attribute]) ++
          orderSpec.map(_.child.asInstanceOf[Attribute]))
        child.outputSet.subsetOf(keep)
      }
  }

  private def rewrite(f: Filter, w: Window, rn: Attribute, k: Int,
                      residual: Seq[Expression]): LogicalPlan = {
    val Seq(SortOrder(score: Attribute, _, _, _), SortOrder(id: Attribute, _, _, _)) =
      w.orderSpec
    val groupAttrs = w.partitionSpec.map(_.asInstanceOf[Attribute])

    val topkAlias = Alias(
      TopKAgg(score, id, Literal(k, IntegerType)).toAggregateExpression(), "graft_topk")()
    val agg = Aggregate(groupAttrs, groupAttrs :+ topkAlias, w.child)

    val elemType = topkAlias.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType
    val posAttr = AttributeReference("graft_pos", IntegerType, nullable = false)()
    val entryAttr = AttributeReference("graft_entry", elemType, nullable = false)()
    // the topk array column (index = #groupAttrs in agg output) is only
    // consumed by the generator — mark it unrequired downstream
    val gen = Generate(PosExplode(topkAlias.toAttribute), Seq(groupAttrs.length),
      outer = false, qualifier = None, Seq(posAttr, entryAttr), agg)

    // reconstruct the Filter's exact output attributes (same exprIds):
    // window output = child.output :+ rn
    val projections: Seq[NamedExpression] = f.output.map { a =>
      if (a.exprId == rn.exprId) {
        Alias(Add(posAttr, Literal(1, IntegerType)), a.name)(exprId = a.exprId)
      } else if (a.exprId == score.exprId) {
        Alias(GetStructField(entryAttr, 0, Some("score")), a.name)(exprId = a.exprId)
      } else if (a.exprId == id.exprId) {
        Alias(GetStructField(entryAttr, 1, Some("id")), a.name)(exprId = a.exprId)
      } else a
    }
    val project = Project(projections, gen)
    if (residual.isEmpty) project
    else Filter(residual.reduce(And), project)
  }
}
