package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{BooleanType, DoubleType, NullType}

/** Hive compares BOOLEAN against any other primitive by converting
  * BOTH sides to DOUBLE — `getCommonClassForComparison` finds no
  * common class for boolean-vs-numeric and GenericUDFBaseCompare then
  * "always convert[s] to double" (ref ql/udf/generic/
  * GenericUDFBaseCompare.java:152-156), with true→1.0 / false→0.0.
  * So `cboolean1 <= 0` means NOT cboolean1, `cboolean2 != 1` means NOT
  * cboolean2 (vectorization_6/12/13.q), and boolean-vs-string compares
  * the 0/1 double against the string's double parse (NULL if
  * unparseable). Spark rejects every one of these outright
  * (DATATYPE_MISMATCH.BINARY_OP_DIFF_TYPES).
  *
  * The rewrite fires while children are resolved but the comparison
  * itself has failed its input-type check: exactly one side BOOLEAN,
  * the other neither BOOLEAN nor NULL → cast both sides to DOUBLE.
  * Runs as an injected resolution rule (shared analyzer fixpoint; the
  * double-typed result no longer matches, so it cannot loop) and in
  * the fused [[HiveSemantics]] pass for the front door.
  */
object BooleanComparisons {

  private def mixed(l: Expression, r: Expression): Boolean =
    l.resolved && r.resolved &&
      ((l.dataType == BooleanType) ^ (r.dataType == BooleanType)) &&
      l.dataType != NullType && r.dataType != NullType

  private def toD(e: Expression): Expression =
    if (e.dataType == DoubleType) e else Cast(e, DoubleType)

  private[plans] def rewriteResolved(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithSubqueries {
      case c: BinaryComparison if mixed(c.left, c.right) =>
        c.withNewChildren(Seq(toD(c.left), toD(c.right)))
    }
}
