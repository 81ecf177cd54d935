package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Count, PercentileDisc}
import org.apache.spark.sql.catalyst.plans.Cross
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, JoinHint, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType, NumericType, StringType}

/** Opt-in rewrite of exact aggregates to DataSketches estimates — the
  * reference's BI-mode optimization (ref ql/optimizer/calcite/rules/
  * HiveRewriteToDataSketchesRules.java, gated there by
  * `hive.optimize.bi.enabled`):
  *
  * {{{ SET spark.graft.rewrite.countDistinctToSketch=true }}}
  *
  * (the key IS the engine's BI-mode switch — both rewrites ride it):
  *
  *  - `count(DISTINCT x)` → `cast(round(ds_hll_estimate(ds_hll_sketch(
  *    cast(x AS string)))) AS bigint)`. At 100 TB the exact form shuffles
  *    every distinct value; the sketch form ships ≤2.5 KB per partition
  *    and unions sketches (~1.6% RSE at the library-default lgK=12).
  *  - `percentile_disc(p) WITHIN GROUP (ORDER BY x)` →
  *    `ds_kll_quantile(ds_kll_sketch(cast(x AS double)), p)` (ref
  *    PercentileDiscRewrite, HiveRewriteToDataSketchesRules.java:303).
  *    Exact percentile_disc buffers every value per group; the KLL form
  *    is a fixed-size mergeable state (~1.65% rank error at K=200).
  *  - `rank()` / `ntile(k)` / `cume_dist()` OVER (ORDER BY x) — the
  *    UNPARTITIONED window, which executes as a single task holding the
  *    whole dataset — rewrite to a cross-join against one KLL sketch of
  *    x and per-row scalar math (ref RankRewrite/NTileRewrite/
  *    CumeDistRewrite, HiveRewriteToDataSketchesRules.java:650): rank ≈
  *    `ceil(ds_kll_rank(ds, x) * n) + 1` clamped to n, ntile ≈
  *    `ceil(ds_kll_rank * k)` floored at 1, cume_dist ≈ ds_kll_rank.
  *    At 100 TB this is the difference between a working query and an
  *    executor OOM; tied values estimate to the same rank, as exact
  *    rank() defines.
  *
  * Scope mirrors the reference's: single-argument, no FILTER clause, no
  * DISTINCT (for percentile), ascending-only collation, foldable
  * percentage; everything else stays exact. Off by default — estimates
  * must be chosen, not imposed.
  */
object SketchRewrite {

  val ConfKey = "spark.graft.rewrite.countDistinctToSketch"

  /** Install the rewrite rule on a session (idempotent; inert until
    * [[ConfKey]] is set), as [[MaterializedViews.install]] does.
    */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations
        .exists(_.isInstanceOf[CountDistinctToSketch]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ new CountDistinctToSketch(spark)

  class CountDistinctToSketch(session: SparkSession)
      extends Rule[LogicalPlan] {

    private def fn(name: String, args: Seq[Expression]): Expression =
      session.sessionState.catalog.lookupFunction(
        FunctionIdentifier(name), args)

    override def apply(plan: LogicalPlan): LogicalPlan = {
      if (!session.conf.get(ConfKey, "false").toBoolean) return plan
      val rewritten = plan.transformDownWithSubqueries {
        case agg: Aggregate if agg.aggregateExpressions.exists(hasTarget) =>
          agg.copy(aggregateExpressions = agg.aggregateExpressions
            .map(ne => rewriteIn(ne).asInstanceOf[NamedExpression]))
        case w: Window if isRankWindow(w) =>
          rewriteRankWindow(w).getOrElse(w)
      }
      if (rewritten eq plan) plan
      else {
        // lookupFunction hands back a ScalaAggregator / ScalaUDF with
        // UNRESOLVED encoders — the analyzer steps that normally resolve
        // them have already run, so replay both on the rewritten plan
        val agg = org.apache.spark.sql.execution.aggregate
          .ResolveEncodersInScalaAgg(rewritten)
        session.sessionState.analyzer.ResolveEncodersInUDF(agg)
      }
    }

    private def isTarget(ae: AggregateExpression): Boolean = ae match {
      case AggregateExpression(cnt: Count, _, true, None, _) =>
        cnt.children.size == 1
      case AggregateExpression(pd: PercentileDisc, _, false, None, _) =>
        // ascending only (the reference's PercentileDiscRewrite gate) on
        // a numeric key, with a foldable percentage
        !pd.reverse && pd.percentageExpression.foldable &&
          pd.child.dataType.isInstanceOf[NumericType]
      case _ => false
    }

    private def hasTarget(e: Expression): Boolean = e.exists {
      case ae: AggregateExpression => isTarget(ae)
      case _ => false
    }

    private def rewriteIn(e: Expression): Expression = e.transformUp {
      case ae: AggregateExpression if isTarget(ae) =>
        (ae.aggregateFunction match {
          case cnt: Count => replacement(cnt.children.head)
          case pd: PercentileDisc =>
            kllReplacement(pd.child, pd.percentageExpression, pd.dataType)
          case _ => None
        }).getOrElse(ae)
    }

    /** `cast(round(ds_hll_estimate(ds_hll_sketch(cast(c AS string)))) AS
      * bigint)`, or None when the ds_* functions aren't registered in
      * this session (then the exact aggregate stands).
      */
    private def replacement(c: Expression): Option[Expression] =
      try {
        val arg = if (c.dataType == StringType) c else Cast(c, StringType)
        fn("ds_hll_sketch", Seq(arg)) match {
          case af: AggregateFunction =>
            val est = fn("ds_hll_estimate",
              Seq(af.toAggregateExpression()))
            Some(Cast(Round(est, Literal(0)), LongType))
          case _ => None
        }
      } catch { case scala.util.control.NonFatal(_) => None }

    /** The reference's rank-family scope gate: an UNPARTITIONED window
      * (the single-task shape) ordered ascending by one numeric key,
      * where every window expression is rank/ntile(k)/cume_dist over
      * that same spec.
      */
    private def isRankWindow(w: Window): Boolean =
      w.partitionSpec.isEmpty && w.orderSpec.size == 1 &&
        w.orderSpec.head.direction == Ascending &&
        // estimate math below pins NULL keys to rank 1 (nulls-first);
        // an explicit NULLS LAST order must keep the exact window
        w.orderSpec.head.nullOrdering == NullsFirst &&
        w.orderSpec.head.child.dataType.isInstanceOf[NumericType] &&
        w.windowExpressions.nonEmpty &&
        w.windowExpressions.forall {
          case Alias(WindowExpression(fn, _), _) => fn match {
            case _: Rank => true
            case _: CumeDist => true
            case NTile(k) => k.foldable
            case _ => false
          }
          case _ => false
        }

    /** `Window[rank-family over (order by x)](child)` →
      * `Project(child.* + estimates, child CROSS JOIN
      * Aggregate[ds_kll_sketch(x)](child))` — the sketch side is a scan
      * plus a ≤2 KB aggregate that broadcasts back; the estimate aliases
      * keep the window outputs' exprIds so parents resolve untouched.
      * None (exact window stands) when the ds_kll_* functions aren't
      * registered in this session.
      */
    private def rewriteRankWindow(w: Window): Option[LogicalPlan] =
      try {
        val x = w.orderSpec.head.child
        val xd = if (x.dataType == DoubleType) x else Cast(x, DoubleType)
        // FILTER the sketch to non-null keys: the udaf's primitive
        // encoder would silently fold NULL inputs in as 0.0
        val sketch = fn("ds_kll_sketch", Seq(xd)) match {
          case af: AggregateFunction => af.toAggregateExpression(
            isDistinct = false, filter = Some(IsNotNull(xd)))
          case _ => return None
        }
        val dsAlias = Alias(sketch, "__graft_kll_ds")()
        // NULL keys sort FIRST under ASC (the exact window's contract):
        // the sketch skips them, so count them separately — null rows
        // all tie at rank 1 and offset every non-null rank
        val nullCntAlias = Alias(
          Count(Literal(1)).toAggregateExpression(isDistinct = false,
            filter = Some(IsNull(xd))), "__graft_kll_nulls")()
        val agg = Aggregate(Nil, Seq(dsAlias, nullCntAlias), w.child)
        val join = Join(w.child, agg, Cross, None, JoinHint.NONE)
        val ds = dsAlias.toAttribute
        val nullCnt = nullCntAlias.toAttribute
        def nSketch = Cast(fn("ds_kll_n", Seq(ds)), DoubleType)
        def total = Add(Cast(nSketch, LongType), nullCnt)
        // EXCLUSIVE rank (#< x) for rank(); INCLUSIVE (#<= x) = cume_dist
        def rkLt = fn("ds_kll_rank_lt", Seq(ds, xd))
        def rkLe = fn("ds_kll_rank", Seq(ds, xd))
        val estimates = w.windowExpressions.map {
          case a @ Alias(WindowExpression(f, _), name) =>
            val est: Expression = f match {
              case _: Rank =>
                // nulls: every null row is a peer at rank 1; non-null:
                // nullCnt + ceil(#<x) + 1, clamped to the total
                val raw = Add(nullCnt,
                  Add(Ceil(Multiply(rkLt, nSketch)), Literal(1L)))
                val clamped = CaseWhen(Seq((LessThan(total, raw), total)),
                  Some(raw))
                CaseWhen(Seq((IsNull(xd), Literal(1L))), Some(clamped))
              case NTile(k) =>
                // position fraction: nulls occupy the head of the order
                val posFrac = CaseWhen(Seq((IsNull(xd),
                  Divide(Cast(nullCnt, DoubleType),
                    Cast(total, DoubleType)))),
                  Some(Divide(Add(Cast(nullCnt, DoubleType),
                    Multiply(rkLe, nSketch)), Cast(total, DoubleType))))
                val raw = Ceil(Multiply(posFrac, Cast(k, DoubleType)))
                CaseWhen(Seq((LessThan(raw, Literal(1L)), Literal(1L))),
                  Some(raw))
              case _: CumeDist =>
                CaseWhen(Seq((IsNull(xd),
                  Divide(Cast(nullCnt, DoubleType),
                    Cast(total, DoubleType)))),
                  Some(Divide(Add(Cast(nullCnt, DoubleType),
                    Multiply(rkLe, nSketch)), Cast(total, DoubleType))))
              case other => return None // unreachable per isRankWindow
            }
            val typed =
              if (est.dataType == a.dataType) est else Cast(est, a.dataType)
            Alias(typed, name)(exprId = a.exprId)
          case _ => return None
        }
        Some(Project(w.child.output ++ estimates, join))
      } catch { case scala.util.control.NonFatal(_) => None }

    /** `cast(ds_kll_quantile(ds_kll_sketch(cast(x AS double)), p) AS
      * <original type>)`, or None when the ds_kll_* functions aren't
      * registered (then the exact aggregate stands).
      */
    private def kllReplacement(child: Expression, pct: Expression,
        origType: org.apache.spark.sql.types.DataType): Option[Expression] =
      try {
        val arg =
          if (child.dataType == DoubleType) child else Cast(child, DoubleType)
        fn("ds_kll_sketch", Seq(arg)) match {
          case af: AggregateFunction =>
            val p = if (pct.dataType == DoubleType) pct
              else Cast(pct, DoubleType)
            // exact percentile_disc ignores NULLs; the udaf's primitive
            // encoder would fold them in as 0.0 — filter them out
            val q = fn("ds_kll_quantile",
              Seq(af.toAggregateExpression(isDistinct = false,
                filter = Some(IsNotNull(arg))), p))
            Some(if (q.dataType == origType) q else Cast(q, origType))
          case _ => None
        }
      } catch { case scala.util.control.NonFatal(_) => None }
  }
}
