package graft.plans

import java.util.Locale

import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions.{Ascending, Expression, Literal, SortOrder, SpecifiedWindowFrame, UnspecifiedFrame, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Hive permits sequencing/rank window functions with NO window ORDER BY
  * — `row_number() OVER ()`, `rank() OVER (PARTITION BY x)` — where every
  * row is a peer: rank/dense_rank/percent_rank answer 1 (cume_dist 1.0)
  * and row_number/lead/lag sequence in arrival order (ref ql/parse/
  * WindowingSpec.java — the spec's order defaults to the partition
  * expressions, EMPTY when there are none; windowing_navfn.q's
  * `row_number() over()` is the qtest). Spark's analyzer refuses these
  * outright ("requires window to be ordered").
  *
  * Front-door rewrite (Engine.sql, pre-analysis): an EMPTY orderSpec
  * under one of the order-requiring functions gains `ORDER BY <literal>`
  * — a constant order makes every row a peer, which is exactly Hive's
  * semantics (ties rank 1; arrival-order sequencing, nondeterministic
  * across parallel scans in BOTH systems). Aggregate window functions
  * (`sum(x) OVER ()`) are legal orderless in Spark already and pass
  * through untouched.
  */
object OrderlessWindows {

  /** The reference's order-requiring windowing functions (ranking +
    * navigation — WindowingSpec.validateAndMakeEffective's ranking set).
    */
  private val NeedsOrder = Set("row_number", "rank", "dense_rank",
    "percent_rank", "cume_dist", "ntile", "lead", "lag",
    "first_value", "last_value")

  /** Ranking/sequencing functions whose EXPLICIT window frame Hive
    * silently IGNORES — `row_number() over (... range between unbounded
    * preceding and unbounded following)` runs in Hive
    * (vector_windowing_range_multiorder.q) where Spark's
    * ResolveWindowFrame demands the function's required frame and
    * errors. The user frame is dropped so Spark supplies the required
    * one — which is exactly what Hive evaluates.
    */
  private val IgnoresFrame = Set("row_number", "rank", "dense_rank",
    "percent_rank", "cume_dist", "ntile", "lead", "lag")

  def apply(plan: LogicalPlan): LogicalPlan = {
    val rewritten = plan.transformDownWithSubqueries {
      case p => p.transformExpressions {
        case we @ WindowExpression(fn, spec: WindowSpecDefinition)
            if (spec.orderSpec.isEmpty && nameOf(fn).exists(NeedsOrder))
              || (spec.frameSpecification
                    .isInstanceOf[SpecifiedWindowFrame] &&
                  nameOf(fn).exists(IgnoresFrame)) =>
          val ordered =
            if (spec.orderSpec.isEmpty && nameOf(fn).exists(NeedsOrder))
              spec.copy(orderSpec = Seq(SortOrder(Literal(1), Ascending)))
            else spec
          val framed =
            if (spec.frameSpecification
                  .isInstanceOf[SpecifiedWindowFrame] &&
                nameOf(fn).exists(IgnoresFrame))
              ordered.copy(frameSpecification = UnspecifiedFrame)
            else ordered
          we.copy(windowSpec = framed)
      }
    }
    // identity-preserving: untouched trees return the SAME instance so
    // Engine.sql's `eq` fast path stays live
    if (rewritten eq plan) plan else rewritten
  }

  private def nameOf(fn: Expression): Option[String] = fn match {
    case u: UnresolvedFunction if u.nameParts.size == 1 =>
      Some(u.nameParts.head.toLowerCase(Locale.ROOT))
    case _ => None
  }
}
