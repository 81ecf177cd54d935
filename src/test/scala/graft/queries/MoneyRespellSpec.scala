package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** The Spark leg's money respell of both-engine SQL texts
  * (`TpchQueries.sparkMoney`): money_decimal only equals CAST on
  * s-decimal-quantized doubles, so the rewrite must fire on exactly the
  * money-column casts and leave every other cast as written.
  */
class MoneyRespellSpec extends AnyFunSuite {

  import TpchQueries.sparkMoney

  test("money-column casts rewrite to money_decimal") {
    assert(sparkMoney("SELECT CAST(l_quantity AS DECIMAL(12,2)) FROM t") ===
      "SELECT money_decimal(l_quantity, 12, 2) FROM t")
    assert(sparkMoney("sum(cast( o.o_totalprice  as decimal(25, 2)))") ===
      "sum(money_decimal(o.o_totalprice, 25, 2))")
    // the fused revenue product respells as one 4-decimal money_decimal
    assert(sparkMoney("SELECT sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
      "CAST(1-l_discount AS DECIMAL(8,2))) AS rev") ===
      "SELECT sum(money_decimal(l_extendedprice * (1-l_discount), 27, 4)) AS rev")
  }

  test("casts outside the money contract are left alone") {
    Seq(
      "SELECT CAST(0 AS DECIMAL(28,4))", // literal operand: the typed zero
      "SELECT CAST(1-l_discount AS DECIMAL(8,2))", // expression operand
      "SELECT CAST(sum(x) AS DECIMAL(25,2))", // call operand
      "SELECT CAST(n AS DECIMAL(10,0))", // non-money scale
      "SELECT CAST(price AS DECIMAL(28,4))", // non-money scale
      "SELECT CAST(price AS DOUBLE)", // not a decimal cast
      "SELECT CAST(`price` AS DECIMAL(25,2))" // quoted identifier
    ).foreach(q => assert(sparkMoney(q) === q, q))
  }
}
