package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: rewrite the ubiquitous window-rank top-k idiom
  *
  * {{{
  *   Project(cols not using rn,
  *     Filter(rn <= k,
  *       Window([row_number() over (partition by keys order by o) rn],
  *              keys, o, child)))
  * }}}
  *
  * into the engine's sort-free [[TopKPerKey]] operator. The window
  * form hash-shuffles AND fully sorts every partition to compute a
  * rank that the filter immediately throws away for all but k rows;
  * the rewrite keeps the shuffle and replaces the sort with a bounded
  * heap (see [[TopKPerKeyExec]]).
  *
  * Guards (rewrite only when provably equivalent):
  *   - the Window computes exactly ONE expression: row_number with the
  *     default (UnboundedPreceding, CurrentRow) row frame and a
  *     non-empty partition spec (the global case is already planned as
  *     TakeOrderedAndProject by Spark);
  *   - the Filter is exactly `rn <= lit` / `rn < lit` / `rn = 1`;
  *   - the Project above references only child columns — the rank
  *     value itself must be dead after the filter.
  *
  * Memory heuristic: [[TopKPerKeyExec]] now degrades to a
  * disk-spilling external sort past its per-task budget (so a wrong
  * guess here costs a sort, never an OOM), but a child that would
  * mostly take the degraded path gains nothing over the stock window
  * plan. The rewrite therefore requires the child's estimated size to
  * fit `spark.graft.topk.maxChildBytes` (a PER-TASK heap assumption,
  * default 128 MiB) × the session's shuffle-partition count — i.e.
  * the retained set (≤ input) plausibly fits each task's heap after
  * the clustered shuffle. Oversized or skew-prone children keep the
  * spilling window plan; the explicit [[TopKPerKey.apply]] entry
  * remains available and is itself spill-safe.
  */
object TopKRewriteRule extends Rule[LogicalPlan] {

  /** PER-TASK heap assumption for the automatic rewrite: the child's
    * estimated size must fit under `maxChildBytes × shuffle
    * partitions`. A skewed child can still exceed it in one task —
    * the exec's own budget then degrades that task to the external
    * sort. `-1` disables the guard (expert opt-out). */
  val MaxChildBytesKey = "spark.graft.topk.maxChildBytes"
  private val DefaultMaxChildBytes = 128L * 1024 * 1024

  private def fitsMemoryBound(child: LogicalPlan): Boolean = {
    val limit = conf.getConfString(MaxChildBytesKey,
      DefaultMaxChildBytes.toString).toLong
    // NOTE: this key changed meaning in an earlier revision from
    // ABSOLUTE child bytes to PER-TASK bytes. A user carrying a legacy
    // large value (or Long.MaxValue as "always rewrite") must not see
    // the multiply wrap negative and silently disable the rewrite —
    // saturate instead. `-1` remains the documented opt-out.
    val clusterBudget =
      try Math.multiplyExact(limit, math.max(conf.numShufflePartitions, 1).toLong)
      catch { case _: ArithmeticException => Long.MaxValue }
    val fits = limit < 0 || child.stats.sizeInBytes <= clusterBudget
    if (!fits) {
      // Sources with no size estimate (JDBC, streaming) report
      // spark.sql.defaultSizeInBytes (Long.MaxValue) and land here by
      // design: the rewrite can't argue memory fit, so they keep the
      // spilling window plan. The explicit TopKPerKey.apply entry
      // remains available when the caller knows the cardinality.
      logDebug(s"TopKPerKey rewrite skipped: child estimated " +
        s"${child.stats.sizeInBytes} bytes exceeds $MaxChildBytesKey=" +
        s"$limit x ${conf.numShufflePartitions} partitions")
    }
    fits
  }

  private object RankLimit {
    /** Extract k from the supported comparison shapes. */
    def unapply(e: Expression): Option[(Attribute, Int)] = e match {
      case LessThanOrEqual(a: Attribute, Literal(k: Int, _)) => Some((a, k))
      case LessThan(a: Attribute, Literal(k: Int, _)) => Some((a, k - 1))
      case GreaterThanOrEqual(Literal(k: Int, _), a: Attribute) => Some((a, k))
      case GreaterThan(Literal(k: Int, _), a: Attribute) => Some((a, k - 1))
      case EqualTo(a: Attribute, Literal(1, _)) => Some((a, 1))
      case EqualTo(Literal(1, _), a: Attribute) => Some((a, 1))
      case _ => None
    }
  }

  private def isRowNumberWindow(e: NamedExpression): Option[Seq[Expression]] =
    e match {
      case Alias(WindowExpression(_: RowNumber,
          WindowSpecDefinition(partitionSpec, _,
            SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))),
          _) if partitionSpec.nonEmpty =>
        Some(partitionSpec)
      case _ => None
    }

  // transformDown, NOT transformUp: the Project-anchored case must see
  // Project(Filter(Window)) intact — post-order would rewrite the inner
  // Filter via the bare case first, making the Project case unreachable
  // and its dead-rank elision (rankOut=None) never fire.
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case p @ Project(projectList,
        Filter(RankLimit(rnAttr, k),
          w @ Window(Seq(winExpr), partitionSpec, orderSpec, child, _)))
        if k >= 1 &&
          winExpr.toAttribute.semanticEquals(rnAttr) &&
          isRowNumberWindow(winExpr).isDefined &&
          p.references.subsetOf(child.outputSet + rnAttr) &&
          fitsMemoryBound(child) =>
      // If the rank is still referenced above the filter, have the
      // operator emit it (same attribute, same exprId — upstream
      // references resolve unchanged; the heap drains best-first, so
      // the emission index IS the row_number). A dead rank is simply
      // not emitted.
      val rankOut =
        if (p.references.contains(rnAttr)) Some(rnAttr) else None
      Project(projectList,
        TopKPerKey(partitionSpec, orderSpec, k, child, rankOut))

    // Same idiom with no PROJECT above the filter (an API returning the
    // ranked frame as-is, or a caller aggregating the filter output
    // directly — RemoveNoopOperators strips any identity
    // Project before this batch runs). Reached only when the case above
    // did not match (top-down traversal), so the rank really is part of
    // the visible output here and is always emitted.
    case Filter(RankLimit(rnAttr, k),
        Window(Seq(winExpr), partitionSpec, orderSpec, child, _))
        if k >= 1 &&
          winExpr.toAttribute.semanticEquals(rnAttr) &&
          isRowNumberWindow(winExpr).isDefined &&
          fitsMemoryBound(child) =>
      TopKPerKey(partitionSpec, orderSpec, k, child, Some(rnAttr))
  }
}
