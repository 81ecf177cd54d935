package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Cast, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DoubleType, NumericType, TimestampType}

/** Hive compares TIMESTAMP against NUMERIC operands by converting the
  * timestamp to DOUBLE epoch seconds (ref PrimitiveObjectInspectorUtils
  * getDouble's TIMESTAMP arm — `ctimestamp1 <= 0` in
  * timestamp_comparison2.q means "at or before the epoch"), where
  * Spark finds no common type and refuses the comparison. The rewrite
  * matches comparison nodes analysis left unresolved with a
  * timestamp/numeric operand pair and casts BOTH sides to double —
  * exactly Hive's conversion. Part of the fused [[HiveSemantics]] pass
  * and an extensions rule (idempotent: after the rewrite both sides
  * are DoubleType).
  */
object TimestampComparisons {

  private def mixed(a: Expression, b: Expression): Boolean =
    a.resolved && b.resolved &&
      a.dataType == TimestampType && b.dataType.isInstanceOf[NumericType]

  private[plans] def rewriteResolved(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithSubqueries {
      case c: BinaryComparison if mixed(c.left, c.right) =>
        c.withNewChildren(Seq(Cast(c.left, DoubleType),
          Cast(c.right, DoubleType)))
      case c: BinaryComparison if mixed(c.right, c.left) =>
        c.withNewChildren(Seq(Cast(c.left, DoubleType),
          Cast(c.right, DoubleType)))
    }
}
