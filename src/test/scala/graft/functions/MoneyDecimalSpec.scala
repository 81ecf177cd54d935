package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** [[MoneyDecimal]] must equal `CAST(x AS DECIMAL(p,2))` on every
  * Exact-wrapped column of the testdata (the 2-decimal-quantized money
  * contract), including the derived factors (1±x) and a signed difference,
  * plus the documented NULL edges (NaN/Infinity/overflow). This is the
  * focused pin for the r17 hot-path rewrite of graft.queries.Exact — if a
  * testdata regeneration ever ships non-2dp money, this fails before any
  * verified query can diverge.
  */
class MoneyDecimalSpec extends graft.SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def mismatches(tbl: String, c: org.apache.spark.sql.Column,
      precision: Int): Long =
    graft.Engine.table(spark, sf, tbl).filter(
      !(MoneyDecimal(c, precision, 2) <=> c.cast(DecimalType(precision, 2)))
    ).count()

  test("MoneyDecimal == CAST on every Exact-wrapped money column") {
    import spark.implicits._
    val cols: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "lineitem" -> $"l_quantity",
      "lineitem" -> $"l_extendedprice",
      "lineitem" -> $"l_discount",
      "lineitem" -> $"l_tax",
      "lineitem" -> (lit(1) - $"l_discount"),
      "lineitem" -> (lit(1) + $"l_tax"),
      "orders" -> $"o_totalprice",
      "events" -> $"value",
      "customer" -> $"c_acctbal",
      "supplier" -> $"s_acctbal",
      "part" -> $"p_retailprice")
    cols.foreach { case (tbl, c) =>
      Seq(8, 18, 25).foreach { p =>
        assert(mismatches(tbl, c, p) == 0L, s"$tbl/$c at precision $p")
      }
    }
  }

  test("signed difference of two 2dp columns stays exact") {
    import spark.implicits._
    val s = graft.Engine.table(spark, sf, "supplier").select($"s_acctbal", $"s_nationkey")
    val c = graft.Engine.table(spark, sf, "customer").select($"c_acctbal", $"c_nationkey")
    val d = $"s_acctbal" - $"c_acctbal" // both signs occur
    val bad = s.join(c, $"s_nationkey" === $"c_nationkey").filter(
      !(MoneyDecimal(d, 25, 2) <=> d.cast(DecimalType(25, 2)))).count()
    assert(bad == 0L)
  }

  test("dmul2/dmul3 equal the decimal-multiply chain on 2dp factors") {
    import spark.implicits._
    import graft.queries.Exact
    val l = graft.Engine.table(spark, sf, "lineitem")
    val bad2 = l.filter(!(Exact.dmul2($"l_extendedprice", lit(1) - $"l_discount") <=>
      ($"l_extendedprice".cast(DecimalType(18, 2)) *
        (lit(1) - $"l_discount").cast(DecimalType(8, 2))))).count()
    val bad3 = l.filter(!(Exact.dmul3($"l_extendedprice", lit(1) - $"l_discount",
        lit(1) + $"l_tax") <=>
      ($"l_extendedprice".cast(DecimalType(18, 2)) *
        (lit(1) - $"l_discount").cast(DecimalType(8, 2)) *
        (lit(1) + $"l_tax").cast(DecimalType(8, 2))))).count()
    assert(bad2 == 0L && bad3 == 0L)
  }

  test("NULL edges match the non-ANSI cast: NaN, Infinity, overflow, null") {
    import spark.implicits._
    val df = Seq(
      Some(Double.NaN), Some(Double.PositiveInfinity),
      Some(Double.NegativeInfinity), Some(1.0e7), Some(-1.0e7),
      Some(999999.99), Some(-999999.99), Some(0.0), None)
      .toDF("v")
    val bad = df.filter(
      !(MoneyDecimal($"v", 8, 2) <=> $"v".cast(DecimalType(8, 2)))).count()
    assert(bad == 0L)
    // types match too (verified-query output schemas must not move)
    assert(MoneyDecimal(
      org.apache.spark.sql.GraftShims.expression(lit(1.0)), 27, 4
    ).dataType == DecimalType(27, 4))
  }
}
