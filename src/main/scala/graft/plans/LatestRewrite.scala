package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{Max, Min}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: rewrite the `row_number() = 1` latest-record
  * anti-pattern into a single ATOMIC struct-extremum HASH AGGREGATE —
  * the q34 trade, applied automatically by Catalyst instead of by
  * hand.
  *
  * The window formulation
  * {{{
  *   ... row_number() OVER (PARTITION BY k ORDER BY o1 DESC, o2 DESC) AS rn
  *   ... WHERE rn = 1
  * }}}
  * is partially mitigated by Spark 4 itself: InferWindowGroupLimit
  * plans partial+final WindowGroupLimit stages, so the shuffle already
  * carries ~|keys|·partitions rows, not the changelog. What the
  * native path still pays is SORT work — a per-partition sort in the
  * partial limit, a final per-key sort under the Window — all to keep
  * one row. The aggregate form does the same candidate thinning with
  * compare semantics and no per-key ordering work. MEASURED (q37's
  * window form, rule off → on, noop sink, best-of-3): 0.56 → 0.41 s
  * at sf0.1 and 1.09 → 0.79 s at sf1 — ~27% over the native window
  * path at both scales (the single struct buffer also beats the old
  * per-column max_by form, which measured a wash at sf0.1); the gap
  * is the eliminated sort work, so it grows with per-key history
  * depth — at changelog scale (long histories per key) the sorts are
  * the dominant term.
  *
  * The chosen aggregate is ONE `max(struct(o1, o2, payload...))` (or
  * `min` for ASC) whose fields are projected back out — NOT an
  * independent max_by per payload column. The distinction matters
  * when the order key ties within a partition key: per-column max_by
  * calls may each resolve the tie to a DIFFERENT row, assembling a
  * "chimera" row that never existed in the input, while the window
  * form always surfaces one real row. The single struct extremum
  * keeps the chosen row atomic — struct comparison is lexicographic,
  * so (o1, o2) dominate and any tie breaks deterministically on the
  * payload fields themselves; the output is always one REAL input
  * row, including in groups whose every ordering value is NULL
  * (struct comparison falls through to the payload). The only
  * remaining delta vs the window is WHICH tied row wins: the window
  * picks an arbitrary one, the aggregate a deterministic one — a
  * strict improvement for a rewrite rule.
  *
  * The match is deliberately narrow — it fires only when ALL hold:
  *   - the Window computes exactly one expression, a bare
  *     `row_number()`;
  *   - the Filter right above it keeps exactly `rn = 1`;
  *   - partition and order expressions are plain attributes;
  *   - order directions are uniform (all DESC → max, all ASC → min)
  *     with default null ordering;
  *   - every non-grouping column is of an orderable type (a MapType
  *     payload cannot ride a struct extremum — left untouched).
  * Anything else (rank/dense_rank, rn <= k, computed keys, mixed
  * directions) is left untouched — those have their own operators
  * (TopKPerKey for rn <= k).
  *
  * Registered session-wide via [[graft.plans.GraftExtensions]]
  * (`spark.sql.extensions`) so plan shape never depends on which
  * query ran first. The rule-off side of the A/B is a [[graft.Bench]]
  * run with `SPARK_GRAFT_BENCH_ONLY=q37_latest_rewrite` and
  * `SPARK_GRAFT_CONF=spark.sql.optimizer.excludedRules=graft.plans.LatestRewrite`.
  *
  * Output attributes keep their original `exprId`s (aliases pin
  * them), so parent operators resolve unchanged; the `rn` output is
  * replaced by the literal 1 every surviving row satisfies.
  */
object LatestRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, w: Window) =>
      rewrite(cond, w).getOrElse(f)
  }

  private def rewrite(cond: Expression, w: Window): Option[LogicalPlan] = {
    // exactly one window expression: Alias(row_number() OVER spec)
    val rnAlias = w.windowExpressions match {
      case Seq(a @ Alias(WindowExpression(RowNumber(), _), _)) => a
      case _ => return None
    }
    // the filter keeps exactly rn = 1
    val keepsFirst = cond match {
      case EqualTo(a: AttributeReference, Literal(1, _)) => a.exprId == rnAlias.exprId
      case EqualTo(Literal(1, _), a: AttributeReference) => a.exprId == rnAlias.exprId
      case _ => false
    }
    if (!keepsFirst) return None
    // plain-attribute partition keys
    val partAttrs = w.partitionSpec.map {
      case a: AttributeReference => a
      case _ => return None
    }
    // plain-attribute, uniform-direction, default-null-ordering keys
    if (w.orderSpec.isEmpty) return None
    val dirs = w.orderSpec.map(_.direction).distinct
    if (dirs.size != 1) return None
    val orderAttrs = w.orderSpec.map {
      case SortOrder(a: AttributeReference, dir, no, _)
        if no == dir.defaultNullOrdering => a
      case _ => return None
    }
    val partSet = AttributeSet(partAttrs)
    // InferWindowGroupLimit may already have slid a WindowGroupLimit
    // under the Window (Spark's own rn<=k mitigation — it pre-limits
    // each partition through a per-partition SORT). The struct-max
    // partials subsume that work without the sort, so strip it.
    val input = w.child match {
      case wgl: WindowGroupLimit => wgl.child
      case c => c
    }
    val payloadAttrs = input.output.filterNot(partSet.contains)
    // one atomic row: order keys first (they dominate the
    // lexicographic struct order), then every non-grouping column
    val rowFields = orderAttrs ++ payloadAttrs.filterNot(orderAttrs.contains)
    if (!rowFields.forall(a => RowOrdering.isOrderable(a.dataType))) return None
    val fieldIndex = rowFields.zipWithIndex.toMap
    val best = dirs.head match {
      case Descending => Max(CreateStruct(rowFields))
      case Ascending => Min(CreateStruct(rowFields))
    }
    val bestAlias = Alias(best.toAggregateExpression(), "_graft_latest")()
    val agg = Aggregate(partAttrs, partAttrs :+ bestAlias, input)
    val bestAttr = bestAlias.toAttribute
    val projList: Seq[NamedExpression] = input.output.map { a =>
      if (partSet.contains(a)) a
      else Alias(GetStructField(bestAttr, fieldIndex(a), Some(a.name)),
        a.name)(exprId = a.exprId)
    } :+ Alias(Literal(1), rnAlias.name)(exprId = rnAlias.exprId)
    Some(Project(projList, agg))
  }
}
