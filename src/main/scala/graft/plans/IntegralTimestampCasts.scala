package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Cast, MillisToTimestamp}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types._

/** Hive's INTEGRAL→TIMESTAMP cast reads MILLISECONDS — the notorious
  * asymmetry (ref serde2/io/TimestampWritableV2 + the
  * hive.int.timestamp.conversion.in.seconds conf, default FALSE;
  * timestamp_ints_casts.q.out pins `cast(tinyint -36 as timestamp)` =
  * 1969-12-31 23:59:59.964) — while float/double/decimal casts read
  * SECONDS (vector_decimal_1.q.out pins 17.29 → 00:00:17.29) and the
  * REVERSE timestamp→integral direction answers seconds
  * (timestamp_3.q.out). Spark reads integrals as seconds, so
  * tinyint/smallint/int/bigint (and boolean, which converts through
  * int 0/1) casts rewrite to `timestamp_millis(bigint)`; the
  * float/double/decimal paths stay native. Surfaced by qtest wave 17h.
  * Part of the fused [[HiveSemantics]] pass + an extensions rule
  * (idempotent: the produced inner cast targets LongType).
  */
object IntegralTimestampCasts {

  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private[plans] def rewriteResolved(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithSubqueries {
      case c: Cast if c.dataType == TimestampType && c.child.resolved &&
          integral(c.child.dataType) =>
        MillisToTimestamp(Cast(c.child, LongType))
      case c: Cast if c.dataType == TimestampType && c.child.resolved &&
          c.child.dataType == BooleanType =>
        MillisToTimestamp(Cast(Cast(c.child, IntegerType), LongType))
    }
}
