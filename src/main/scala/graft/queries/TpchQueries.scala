package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Engine
import QDef.q

/** TPC-H-shape depth queries (adapted to the driver testdata's columns; no
  * partsupp table, so Q2/Q11/Q16/Q20 shapes are expressed over the available
  * star). These exercise the optimizer paths Hive's TPC-DS perf corpus
  * guards: multi-way join ordering, correlated EXISTS/NOT EXISTS,
  * HAVING-subqueries, disjunctive predicate pushdown, conditional aggregation.
  * All money math is DECIMAL-exact (see Exact).
  */
object TpchQueries {

  // The SQL dialect below runs identically in Spark and DuckDB — except the
  // per-row money conversions (r18, guide step 4): the Spark leg replaces
  // CAST(col AS DECIMAL(p,s)) with the codegen'd money_decimal(col, p, s)
  // (and the $rev product with its fused single-conversion form, the SQL
  // spelling of Exact.dmul2). Value-identical on the testdata's
  // decimal-quantized doubles by MoneyDecimal's contract (pinned per column
  // by OracleTypeParitySpec + MoneyDecimalSpec); the DuckDB oracle keeps the
  // portable CAST text, so the oracle gate re-proves the equality on every
  // run. The stock cast costs a BigDecimal.valueOf (Double.toString) per
  // row — measured r17 at 3.4× the aggregate arithmetic on TPC-H Q1; the
  // DataFrame queries were rewired in r17, the SQL texts here get the same
  // treatment.
  private def both(name: String, sql: String): QDef =
    QDef(name, (spark: SparkSession, dir: String) => {
      Engine.register(spark, dir); spark.sql(sparkMoney(sql))
    }, Some(sql))

  private val rev = "CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1-l_discount AS DECIMAL(8,2))"

  /** Spark-leg money respell of a both-engine text (see `both`): the fused
    * $rev product first, then single-column casts. Only COLUMN-argument
    * casts at the money scale (2 — the testdata's money columns are
    * 2-decimal quantized doubles) rewrite — never literals, expressions or
    * other scales (money_decimal requires a double column's quantization
    * contract, and CAST(0 AS DECIMAL(28,4)) must stay the typed zero).
    * MoneyRespellSpec pins both kinds.
    */
  private val DecCast =
    """(?i)CAST\(\s*([A-Za-z_][A-Za-z0-9_.]*)\s+AS\s+DECIMAL\((\d+),\s*2\)\)""".r
  private[queries] def sparkMoney(sql: String): String =
    DecCast.replaceAllIn(
      sql.replace(rev, "money_decimal(l_extendedprice * (1-l_discount), 27, 4)"),
      m => s"money_decimal(${m.group(1)}, ${m.group(2)}, 2)")

  val defs: Seq[QDef] = Seq(

    // Q4: priority count of orders with at least one late-shipped line.
    both("t04_order_priority",
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // Q7: volume between two supplier/customer nation pairs by year.
    both("t07_volume_shipping",
      s"""SELECT supp_nation, cust_nation, l_year,
         |  CAST(sum(volume) AS DOUBLE) AS revenue
         |FROM (
         |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |    CAST(year(l_shipdate) AS INT) AS l_year, $rev AS volume
         |  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
         |    JOIN orders ON o_orderkey = l_orderkey
         |    JOIN customer ON c_custkey = o_custkey
         |    JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |    JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
         |    AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
         |      AND TIMESTAMP '1997-12-31 00:00:00') shipping
         |GROUP BY supp_nation, cust_nation, l_year
         |ORDER BY supp_nation, cust_nation, l_year""".stripMargin),

    // Q8: market share of one nation within a region by year.
    both("t08_market_share",
      s"""SELECT o_year,
         |  round(CAST(sum(CASE WHEN nation = 'NATION_2' THEN volume ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE)
         |    / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
         |FROM (
         |  SELECT CAST(year(o_orderdate) AS INT) AS o_year, $rev AS volume,
         |    n2.n_name AS nation
         |  FROM part JOIN lineitem ON p_partkey = l_partkey
         |    JOIN supplier ON s_suppkey = l_suppkey
         |    JOIN orders ON l_orderkey = o_orderkey
         |    JOIN customer ON o_custkey = c_custkey
         |    JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |    JOIN region ON n1.n_regionkey = r_regionkey
         |    JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
         |    AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
         |      AND TIMESTAMP '1997-12-31 00:00:00') all_nations
         |GROUP BY o_year ORDER BY o_year""".stripMargin),

    // Q9: product-type profit by nation and year.
    both("t09_product_profit",
      s"""SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
         |FROM (
         |  SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
         |    $rev AS amount
         |  FROM part JOIN lineitem ON p_partkey = l_partkey
         |    JOIN supplier ON s_suppkey = l_suppkey
         |    JOIN orders ON o_orderkey = l_orderkey
         |    JOIN nation ON s_nationkey = n_nationkey
         |  WHERE p_name LIKE '%widget%') profit
         |GROUP BY nation, o_year ORDER BY nation, o_year DESC""".stripMargin),

    // Q10: top returned-revenue customers.
    both("t10_returned_items",
      s"""SELECT c_custkey, c_name, CAST(sum($rev) AS DOUBLE) AS revenue,
         |  c_acctbal, n_name
         |FROM customer JOIN orders ON c_custkey = o_custkey
         |  JOIN lineitem ON l_orderkey = o_orderkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |  AND l_returnflag = 'R'
         |GROUP BY c_custkey, c_name, c_acctbal, n_name
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),

    // Q12 shape: priority mix per linestatus (no shipmode column; CASE agg).
    both("t12_priority_mix",
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |    OR o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
        |    AND o_orderpriority <> '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),

    // Q13: distribution of customers by order count (left join + double agg).
    both("t13_customer_distribution",
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey) c_orders
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // Q14: promo revenue share.
    both("t14_promo_revenue",
      s"""SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
         |    THEN $rev ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE)
         |  / CAST(sum($rev) AS DOUBLE), 4) AS promo_revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""".stripMargin),

    // Q17 shape: revenue from small-quantity lines of one brand, with a
    // correlated per-part average-quantity subquery.
    both("t17_small_quantity",
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(25,2))) AS DOUBLE) AS total
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#1'
        |  AND l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
        |    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin),

    // Q18: large-volume orders (HAVING subquery + semi join).
    q("t18_large_orders",
      """SELECT c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |  CAST(o_totalprice AS DOUBLE) AS total,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(25,2))) AS DOUBLE) AS sum_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(l_quantity) > 120)
        |GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY total DESC, o_orderkey LIMIT 20""".stripMargin) { (spark, dir) =>
      Engine.register(spark, dir)
      spark.sql(sparkMoney(
        """SELECT c_custkey, o_orderkey,
          |  date_format(o_orderdate, 'yyyy-MM-dd') AS orderdate,
          |  CAST(o_totalprice AS DOUBLE) AS total,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(25,2))) AS DOUBLE) AS sum_qty
          |FROM customer JOIN orders ON c_custkey = o_custkey
          |  JOIN lineitem ON o_orderkey = l_orderkey
          |WHERE o_orderkey IN (
          |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
          |  HAVING sum(l_quantity) > 120)
          |GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
          |ORDER BY total DESC, o_orderkey LIMIT 20""".stripMargin))
    },

    // Q19: disjunctive multi-predicate join (predicate pushdown stressor).
    both("t19_disjunctive",
      s"""SELECT CAST(sum($rev) AS DOUBLE) AS revenue
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
         |    AND l_quantity >= 1 AND l_quantity <= 20)
         |  OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
         |    AND l_quantity >= 10 AND l_quantity <= 30)
         |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
         |    AND l_quantity >= 20 AND l_quantity <= 40)""".stripMargin),

    // Q21 shape: suppliers whose line was the latest ship in a multi-supplier
    // order (double correlated EXISTS / NOT EXISTS). The Spark leg folds the
    // two correlated subqueries into ONE per-order aggregate of lineitem
    // (r18, guide §2.3/§2.4): both subqueries range over the same order's
    // lines, so EXISTS(l2 with another supplier) ⟺ the order has ≥2
    // distinct non-null suppliers ⟺ min(l_suppkey) <> max(l_suppkey) —
    // spelled with min/max, not count(DISTINCT), so the aggregate is a
    // single-pass codegen'd min/max instead of per-group hash sets (l1's
    // supplier is one of them — a NULL-supplier l2 satisfies neither form,
    // and a NULL-supplier l1 dies at the supplier join in both; all-NULL
    // gives NULL <> NULL = NULL → filtered, matching EXISTS over no
    // satisfiable row) — and NOT EXISTS(l3 shipped later) ⟺
    // l1.l_shipdate IS NULL (a NULL comparison satisfies no l3 in the
    // original) OR l1.l_shipdate = max(non-null shipdates of the order)
    // (NULL l3 shipdates satisfy neither form). At scale this replaces the
    // semi-join + anti-join probes — two more full shuffles of lineitem —
    // with one per-order aggregate whose output is orders-sized, not
    // lineitem-sized. The DuckDB oracle keeps the EXISTS text, so the
    // equivalence is re-proved cell-by-cell on every oracle run.
    q("t21_waiting_supplier",
      """SELECT s_name, count(*) AS numwait
        |FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |  JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_shipdate > l1.l_shipdate)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 25""".stripMargin) { (spark, dir) =>
      Engine.register(spark, dir)
      spark.sql(
        """WITH o_agg AS (
          |  SELECT l_orderkey, max(l_shipdate) AS __max_ship,
          |         min(l_suppkey) AS __mn_supp, max(l_suppkey) AS __mx_supp
          |  FROM lineitem GROUP BY l_orderkey)
          |SELECT s_name, count(*) AS numwait
          |FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
          |  JOIN orders ON o_orderkey = l1.l_orderkey
          |  JOIN o_agg a ON a.l_orderkey = l1.l_orderkey
          |WHERE o_orderstatus = 'F' AND a.__mn_supp <> a.__mx_supp
          |  AND (l1.l_shipdate IS NULL OR l1.l_shipdate = a.__max_ship)
          |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 25""".stripMargin)
    },

    // Q22 shape: high-balance customers with no orders, bucketed by a
    // name-derived code.
    both("t22_global_sales",
      """SELECT cntrycode, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(25,2))) AS DOUBLE) AS totacctbal
        |FROM (
        |  SELECT substr(c_name, 10, 2) AS cntrycode, c_acctbal
        |  FROM customer
        |  WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
        |    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) custsale
        |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin),

    // Q15: top supplier(s) by quarterly revenue — the revenue CTE is
    // referenced twice (join + scalar max); revenue stays DECIMAL through
    // the equality so both engines compare exactly, cast to DOUBLE only in
    // the projection. Completes the 22-query TPC-H set (Q1/Q3/Q5/Q6 live as
    // q01-q04).
    both("t15_top_supplier",
      s"""WITH revenue AS (
         |  SELECT l_suppkey AS supplier_no, sum($rev) AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-07-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name,
         |  CAST(total_revenue AS DOUBLE) AS total_revenue
         |FROM supplier JOIN revenue ON s_suppkey = supplier_no
         |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
         |ORDER BY s_suppkey""".stripMargin),

    // Q2 shape (no partsupp: lineitem is the part-supplier bridge): cheapest
    // source per part via a correlated scalar min subquery.
    both("t02_min_cost_supplier",
      """SELECT DISTINCT p.p_partkey, s.s_name, s.s_acctbal
        |FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |WHERE p.p_size < 15
        |  AND l.l_extendedprice = (SELECT min(l2.l_extendedprice)
        |    FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
        |ORDER BY s.s_acctbal DESC, p.p_partkey, s.s_name LIMIT 20""".stripMargin),

    // Q11 shape: parts whose revenue share exceeds 1.5x the mean share —
    // HAVING against global scalar subqueries, scale-free (threshold relative
    // to the part population) and kept exact by cross-multiplying decimals
    // instead of dividing.
    both("t11_part_value_share",
      """SELECT l_partkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS part_value
        |FROM lineitem GROUP BY l_partkey
        |HAVING sum(CAST(l_extendedprice AS DECIMAL(18,2))) *
        |    (SELECT count(DISTINCT l_partkey) FROM lineitem) * 2 >
        |  (SELECT sum(CAST(l_extendedprice AS DECIMAL(18,2))) FROM lineitem) * 3
        |ORDER BY part_value DESC, l_partkey""".stripMargin),

    // Q16 shape: distinct supplier count per part attribute, excluding a
    // NOT IN supplier subquery.
    both("t16_supplier_counts",
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size IN (5, 15, 25, 35)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    // Q20 shape: suppliers moving an above-average share of promo-part
    // quantity — nested IN subqueries with a grouped HAVING, division-free
    // (decimal cross-multiply) so both engines compare exactly.
    both("t20_promo_suppliers",
      """SELECT s_name, s_nationkey
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        |  GROUP BY l_suppkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) *
        |      (SELECT count(*) FROM supplier) >
        |    (SELECT sum(CAST(l_quantity AS DECIMAL(12,2))) FROM lineitem
        |     WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')))
        |ORDER BY s_name""".stripMargin),
  )
}
