package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, LogicalPlan, Union}
import org.apache.spark.sql.types.LongType

/** ROLLUP/CUBE answer their IMPLICIT grand-total row even over EMPTY
  * input in Hive — groupby_rollup_empty2.q.out pins one row (`1`) for
  * `select grouping(s_state) ... group by rollup(ss_item_sk, s_state)`
  * over an empty filtered join — where Spark's Expand+Aggregate
  * lowering answers zero rows (no input, no groups; r17 find).
  * [[EmptyGroupingSets]] fixes the EXPLICIT `()` spelling pre-analysis;
  * the implicit sets are fixed HERE, post-analysis, on the RESOLVED
  * plan: by now ORDER BY/HAVING references to GROUPING__ID have been
  * resolved into the Aggregate's output, so the split cannot strand
  * them (the pre-analysis spelling would).
  *
  * The rewrite matches a grouping-sets Aggregate (its Expand carries
  * the `spark_grouping_id` column), finds the empty-set projection —
  * grouping-id literal == the full mask — and splits it out: the
  * Expand keeps the remaining sets (same grouping-id values; one fewer
  * row replica per input row), and a key-less global Aggregate over
  * the Expand's child unions in the total row, answered on non-empty
  * AND empty input alike. In the global leg the Expand-introduced
  * attributes fold: duplicated grouping columns → typed NULLs, the
  * grouping id → the full-mask literal; aggregate functions keep their
  * base-column arguments (they reference the Expand CHILD's output,
  * which is the new leg's child). The Union's output keeps the first
  * leg's expr-ids, so parents resolve unchanged.
  *
  * Runs in the fused [[HiveSemantics]] pass (front door) and as an
  * injected optimizer rule for plain `spark.sql`/DataFrame deployments
  * (termination: the rewritten Expand has no empty-set projection
  * left). Scale note: the global leg is one extra column-pruned scan
  * feeding a key-less partial aggregate — and the main Expand
  * replicates one set fewer, so total rows through the hash aggregate
  * are unchanged.
  */
object RollupEmptyInput {

  private val GidName = "spark_grouping_id"

  private def stripAlias(e: Expression): Expression = e match {
    case Alias(c, _) => c
    case other => other
  }

  private[plans] def rewriteResolved(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithSubqueries {
      case agg @ Aggregate(_, aggExprs, expand: Expand, _)
          if agg.resolved && expand.resolved &&
            expand.output.exists(_.name == GidName) =>
        val gidAttr = expand.output.find(_.name == GidName).get
        val childOut = expand.child.outputSet
        val groupCols = expand.output.filterNot(a =>
          childOut.contains(a) || a.exprId == gidAttr.exprId)
        val fullMask = (1L << groupCols.size) - 1
        val gidIdx = expand.output.indexWhere(_.exprId == gidAttr.exprId)
        val (emptySets, rest) = expand.projections.partition { p =>
          p(gidIdx) match {
            case Literal(v: Long, LongType) => v == fullMask
            case _ => false
          }
        }
        val folds: Map[ExprId, Expression] =
          groupCols.map(a =>
            a.exprId -> Literal.create(null, a.dataType)).toMap +
            (gidAttr.exprId -> Literal(fullMask))
        // every reference OUTSIDE an aggregate call must be a grouping
        // column or the grouping id — the analyzer's window/HAVING
        // machinery can thread bare passthrough columns into the
        // aggregate list (resolved later by its own projections); a
        // key-less global leg cannot answer those, so skip the shape
        def globalizable(e: Expression): Boolean = e match {
          case _: aggregate.AggregateExpression => true
          case a: AttributeReference => folds.contains(a.exprId)
          case other => other.children.forall(globalizable)
        }
        if (emptySets.isEmpty || groupCols.isEmpty ||
            !aggExprs.forall(globalizable)) agg
        else {
          // reuseIds: the Union's FIRST leg must expose the original
          // aggregate's expr-ids so parents resolve unchanged
          def globalLeg(reuseIds: Boolean) =
            Aggregate(Nil, aggExprs.map { ne =>
              val folded = ne.transformUp {
                case a: AttributeReference if folds.contains(a.exprId) =>
                  folds(a.exprId)
              }
              if (reuseIds)
                Alias(stripAlias(folded), ne.name)(exprId = ne.exprId)
              else Alias(stripAlias(folded), ne.name)()
            }, expand.child)
          // one global row per empty set (duplicate `()` sets are rare
          // and deduped upstream, but preserve multiplicity if present)
          if (rest.isEmpty) {
            // every set was (): the aggregate IS the global leg(s)
            val first = globalLeg(reuseIds = true)
            if (emptySets.size == 1) first
            else Union(first +:
              emptySets.tail.map(_ => globalLeg(reuseIds = false)))
          } else {
            val pruned =
              agg.copy(child = expand.copy(projections = rest))
            Union(pruned +:
              emptySets.map(_ => globalLeg(reuseIds = false)))
          }
        }
    }
}
