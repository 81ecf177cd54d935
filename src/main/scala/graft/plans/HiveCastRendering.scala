package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.functions.HiveToString

/** Hive's CAST-to-STRING renderings where they diverge from Spark's
  * (surfaced by udf_to_string.q / udf_boolean_string_common_category.q):
  *
  *  - BOOLEAN → `'TRUE'` / `'FALSE'` UPPERCASE (ref serde2
  *    PrimitiveObjectInspectorConverter.java:418 TextConverter's
  *    trueBytes/falseBytes — the converter behind GenericUDFToString
  *    AND every implicit to-string coercion, so the rewrite matches
  *    ALL boolean→string Casts, analyzer-inserted ones included;
  *    Spark spells `'true'`).
  *  - INTERVAL year-month / day-time → the bare HiveIntervalYearMonth /
  *    HiveIntervalDayTime.toString forms `1-2`,
  *    `17624 00:30:30.000000000` (Spark spells
  *    `INTERVAL '1-2' YEAR TO MONTH`).
  *  - ARRAY / MAP / STRUCT / uniontype → the buildJSONString rendering
  *    (ref serde2/SerDeUtils.java:206): quoted+escaped inner strings,
  *    `null` inner NULLs, `{"field":v}` structs, `{tag:v}` unions —
  *    Spark's cast spells `[1, x]` unquoted with NULL dropped
  *    differently.
  *
  * Part of the fused [[HiveSemantics]] pass (post-analysis, so
  * coercion-inserted Casts are visible) and an extensions resolution
  * rule for plain `spark.sql` deployments. DataFrame-API `.cast`
  * callers outside the engine front door keep Spark semantics.
  */
object HiveCastRendering {

  private def eligible(dt: DataType): Boolean = dt match {
    case BooleanType => true
    case _: YearMonthIntervalType | _: DayTimeIntervalType => true
    case _: ArrayType | _: MapType | _: StructType => true
    case _ => false
  }

  private def replace(c: Cast): Expression = c.child.dataType match {
    case BooleanType =>
      If(IsNull(c.child), Literal.create(null, StringType),
        If(c.child, Literal("TRUE"), Literal("FALSE")))
    case _ =>
      HiveToString(c.child, SQLConf.get.sessionLocalTimeZone)
  }

  private[plans] def rewriteResolved(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithSubqueries {
      case c: Cast if c.resolved && c.dataType.isInstanceOf[StringType] &&
          eligible(c.child.dataType) =>
        replace(c)
    }
}
