package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.types._

/** Hive accepts a NON-BOOLEAN expression as a WHERE/HAVING condition
  * and coerces it with PrimitiveObjectInspectorUtils.getBoolean (ref
  * serde2/objectinspector/primitive/PrimitiveObjectInspectorUtils
  * .java:507; vector_empty_where.q pins all four families) — Spark's
  * CheckAnalysis refuses the filter outright. The coercion is NOT a
  * plain `cast(x as boolean)`:
  *
  *   - byte/short/int: v != 0
  *   - long/float/double: `(int) v != 0` — the INT-TRUNCATED value, so
  *     4294967296L and 0.5 are both FALSE (the .q's cfloat count is
  *     the witness: fractional floats below 1 don't pass)
  *   - string: false iff lower(v) IN ('false','off','no','0','') —
  *     every other string is true (parseBoolean's FalseValues)
  *   - timestamp: epoch SECONDS != 0
  *   - decimal: v != 0 (exact)
  *   - date: unsupported in Hive too — left for Spark's canonical error
  *
  * A NULL condition filters the row in both systems (Hive evaluates
  * getBoolean(null) = false; the rewritten predicate is NULL which the
  * filter drops). Runs in the front door post-analysis and as an
  * extensions-injected resolution rule (idempotent: the rewritten
  * condition is BooleanType).
  */
object HiveBooleanFilters {

  private def coerce(cond: Expression): Option[Expression] =
    cond.dataType match {
      case ByteType =>
        Some(Not(EqualTo(cond, Literal(0.toByte))))
      case ShortType =>
        Some(Not(EqualTo(cond, Literal(0.toShort))))
      case IntegerType =>
        Some(Not(EqualTo(cond, Literal(0))))
      case LongType | FloatType | DoubleType =>
        Some(Not(EqualTo(Cast(cond, IntegerType), Literal(0))))
      case StringType =>
        Some(Not(In(Lower(cond),
          Seq("false", "off", "no", "0", "").map(Literal(_)))))
      case TimestampType =>
        Some(Not(EqualTo(Cast(cond, LongType), Literal(0L))))
      case d: DecimalType =>
        Some(Not(EqualTo(cond, Literal.create(Decimal(BigDecimal(0),
          d.precision, d.scale), d))))
      case _ => None
    }

  /** Coerce non-boolean operands THROUGH the logical connectives:
    * `WHERE cint AND cstring1`, `WHERE !cstring1` (vector_cast_filter
    * .q) apply getBoolean to each operand, not to the conjunction —
    * NOT/AND/OR themselves stay untouched. Subtrees that failed
    * Spark's type check are unresolved NODES with resolved CHILDREN,
    * so each operand is coerced on its own resolved type.
    */
  private def coerceTree(e: Expression): Expression = e match {
    case And(l, r) => And(coerceTree(l), coerceTree(r))
    case Or(l, r) => Or(coerceTree(l), coerceTree(r))
    case Not(c) => Not(coerceTree(c))
    case other if other.resolved && other.dataType != BooleanType =>
      coerce(other).getOrElse(other)
    case other => other
  }

  private[plans] def rewriteResolved(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithSubqueries {
      case f @ Filter(cond, child) =>
        val fixed = coerceTree(cond)
        if (fixed.fastEquals(cond)) f else Filter(fixed, child)
    }
}
