package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression, If, IsNotNull, IsNull, Length, Literal, RLike}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{BooleanType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Hive's RLIKE/REGEXP answers FALSE for an EMPTY pattern (ref
  * udf/generic/GenericUDFRegExp.java:126 — pinned by udf1.q's
  * `'abc' RLIKE ''` row), where Spark's RLike answers TRUE (an empty
  * Java regex `find()`s everywhere). NULL inputs answer NULL on both
  * engines.
  *
  * The operator spelling (`a RLIKE p`, `a REGEXP p`) parses to an RLike
  * node directly — no registry hook — so the guard is a front-door plan
  * rewrite; the function-call spellings (`rlike(a,p)`, `regexp(a,p)`)
  * resolve through the registry and get the same [[guarded]] expression
  * there (HiveFunctions). Non-empty literal patterns — the
  * overwhelmingly common case — pass through untouched: zero plan or
  * codegen cost. DataFrame-API `Column.rlike` is deliberately NOT
  * rewritten (internals expect Spark semantics; none pass empty
  * patterns).
  */
object HiveRegex {

  /** Empty pattern + non-null input → FALSE; everything else keeps
    * RLike's semantics, including NULL propagation from either side
    * (`Length(null) = 0` is NULL, so the condition is NULL and the
    * else-branch RLike answers NULL).
    */
  def guarded(input: Expression, pattern: Expression): Expression =
    If(And(IsNotNull(input), EqualTo(Length(pattern), Literal(0))),
      Literal(false), RLike(input, pattern))

  def apply(plan: LogicalPlan): LogicalPlan =
    // transformExpressionsUp: the guarded rewrite nests an RLike inside
    // the If — an Up traversal never revisits the node it just built
    // (Down would match the nested RLike again, forever)
    plan.transformUpWithSubqueries {
      case p => p.transformExpressionsUp {
        case RLike(l, Literal(s: UTF8String, StringType))
            if s != null && s.numChars == 0 =>
          If(IsNull(l), Literal.create(null, BooleanType), Literal(false))
        case r @ RLike(_, Literal(_, _)) => r // non-empty/null literal: stock
        case RLike(l, pat) => guarded(l, pat)
      }
    }
}
