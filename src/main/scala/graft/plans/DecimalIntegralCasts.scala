package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.types._

/** Hive's decimal→integral CAST answers NULL when the truncated value
  * does not FIT the target type (ref common/type/HiveDecimal.java —
  * byteValue/shortValue/intValue/longValue go through
  * HiveDecimalV1.*ValueExact, and GenericUDFToByte & the vectorized
  * CastDecimalToLong emit NULL on the ArithmeticException;
  * vector_decimal_2.q.out pins `cast(3404045.5 as tinyint)` = NULL).
  * Spark's non-ANSI cast WRAPS instead (toByte of the truncated value:
  * 3404045 → 13) — surfaced by qtest wave 17b.
  *
  * Front-door rewrite (post-analysis — the CHILD type must be known):
  * every resolved `Cast(decimal → byte/short/int/long)` gains an exact
  * range guard:
  *
  *   If(trunc(child) BETWEEN lo AND hi, cast, NULL)
  *
  * with trunc spelled If(child >= 0, Floor, Ceil) — exact for decimals
  * (Floor/Ceil of DecimalType(p,s) is DecimalType(p-s+1,0)) — and the
  * comparison carried out in DECIMAL(38,0), which holds every possible
  * integer part (p <= 38) and both Long bounds, so no double
  * approximation enters. Values in range cast exactly as before; the
  * whole guard stays inside codegen.
  *
  * Idempotency (the extension rule shares the analyzer fixpoint): the
  * generated inner Cast carries a [[TreeNodeTag]] marker that the
  * matcher skips.
  */
object DecimalIntegralCasts {

  private val Guarded = TreeNodeTag[Boolean]("graft.decimalCastGuarded")

  private val D38 = DecimalType(38, 0)

  private def bounds(dt: DataType): Option[(Long, Long)] = dt match {
    case ByteType => Some((Byte.MinValue.toLong, Byte.MaxValue.toLong))
    case ShortType => Some((Short.MinValue.toLong, Short.MaxValue.toLong))
    case IntegerType => Some((Int.MinValue.toLong, Int.MaxValue.toLong))
    case LongType => Some((Long.MinValue, Long.MaxValue))
    case _ => None
  }

  private def lit38(v: Long): Expression =
    Literal.create(Decimal(BigDecimal(v), 38, 0), D38)

  private def guard(c: Cast, dec: DecimalType,
      lo: Long, hi: Long): Expression = {
    val zero = Literal.create(Decimal(BigDecimal(0), dec.precision,
      dec.scale), dec)
    val trunc = Cast(
      If(GreaterThanOrEqual(c.child, zero), Floor(c.child), Ceil(c.child)),
      D38)
    val inner = c.copy()
    inner.setTagValue(Guarded, true)
    If(And(GreaterThanOrEqual(trunc, lit38(lo)),
        LessThanOrEqual(trunc, lit38(hi))),
      inner, Literal.create(null, c.dataType))
  }

  private[plans] def rewriteResolved(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithSubqueries {
      case c: Cast if c.resolved &&
          c.child.dataType.isInstanceOf[DecimalType] &&
          bounds(c.dataType).isDefined &&
          !c.getTagValue(Guarded).contains(true) =>
        val (lo, hi) = bounds(c.dataType).get
        guard(c, c.child.dataType.asInstanceOf[DecimalType], lo, hi)
    }
}
