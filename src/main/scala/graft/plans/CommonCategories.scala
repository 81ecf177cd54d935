package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Cast, CreateArray, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types._

/** Hive negotiates a COMMON CATEGORY for mixed-type constructor
  * arguments: `array(id, txt, num, flag)` over int/string/boolean
  * lands every element on STRING (ref serde2 TypeInfoUtils /
  * FunctionRegistry.getCommonClass — the string group is the universal
  * fallback; udf_boolean_string_common_category.q pins boolarray2's
  * rows with the boolean leg rendered through TextConverter as
  * 'TRUE'/'FALSE').
  *
  * Spark's own `functionArgumentConversion` already promotes
  * string-vs-numeric/datetime arrays to string, but its
  * `stringPromotion` EXCLUDES BooleanType, so string-vs-boolean
  * arrays fail analysis outright. This rewrite closes exactly that
  * gap: a CreateArray whose resolved children mix a string leg with a
  * boolean leg (any other legs atomic) casts every element to string
  * — the boolean casts then render uppercase through
  * [[HiveCastRendering]], Hive's TextConverter path.
  */
object CommonCategories {

  private def stringy(dt: DataType): Boolean = dt.isInstanceOf[StringType]

  private def primitive(dt: DataType): Boolean = dt match {
    case _: NumericType | _: StringType | BooleanType | DateType |
        TimestampType | TimestampNTZType | NullType => true
    case _ => false
  }

  private def needsNegotiation(types: Seq[DataType]): Boolean =
    types.distinct.size > 1 && types.exists(stringy) &&
      types.contains(BooleanType) && types.forall(primitive)

  private def toStr(e: Expression): Expression =
    if (stringy(e.dataType)) e else Cast(e, StringType)

  private[plans] def rewriteResolved(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithSubqueries {
      case ca: CreateArray if ca.children.nonEmpty &&
          ca.children.forall(_.resolved) &&
          needsNegotiation(ca.children.map(_.dataType)) =>
        CreateArray(ca.children.map(toStr), ca.useStringTypeWhenEmpty)
    }
}
