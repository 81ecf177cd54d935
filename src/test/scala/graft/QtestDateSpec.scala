package graft

/** Conformance wave: the reference's date family — ref ql/src/test/
  * queries/clientpositive/date_1.q, date_comparison.q, date_udf.q
  * (expected cells from results/clientpositive/llap where .q.out-pinned).
  *
  * `CAST(date AS <numeric/boolean>)` answers NULL in Hive (date_1.q.out
  * row of seven NULLs) — and matches here under the engine's non-ANSI
  * mode, pinned in a companion test.
  */
class QtestDateSpec extends QtestHarness {

  protected val qcases: Seq[QCase] = Seq(
    QCase("date_1.q", "dt1",
      "select cast('2012-01-01' as string) AS a, " +
        "cast(cast('2011-01-01' as date) as string) AS b, " +
        "CAST(cast(cast('2011-01-01' as date) as timestamp) AS STRING) AS c, " +
        "cast(cast(cast('2011-01-01' as date) as timestamp) as date) AS d, " +
        "cast(cast('2011-01-01 00:00:00' as timestamp) as date) AS e",
      duck = Some("select cast('2012-01-01' as string) AS a, " +
        "cast(cast('2011-01-01' as date) as string) AS b, " +
        "strftime(cast(cast('2011-01-01' as date) as timestamp), '%Y-%m-%d %H:%M:%S') AS c, " +
        "cast(cast(cast('2011-01-01' as date) as timestamp) as date) AS d, " +
        "cast(cast('2011-01-01 00:00:00' as timestamp) as date) AS e"),
      note = "string<->date<->timestamp cast chains"),

    QCase("date_comparison.q", "dtc1",
      "select cast('2011-05-06' as date) > cast('2011-05-06' as date) AS a, " +
        "cast('2011-05-06' as date) < cast('2011-05-06' as date) AS b, " +
        "cast('2011-05-06' as date) = cast('2011-05-06' as date) AS c, " +
        "cast('2011-05-06' as date) <> cast('2011-05-06' as date) AS d, " +
        "cast('2011-05-06' as date) >= cast('2011-05-06' as date) AS e, " +
        "cast('2011-05-06' as date) <= cast('2011-05-06' as date) AS f, " +
        "cast('2011-05-05' as date) > cast('2011-05-06' as date) AS g, " +
        "cast('2011-05-05' as date) < cast('2011-05-06' as date) AS h"),

    QCase("date_udf.q", "dtu1",
      "select year(d) AS y, month(d) AS m, day(d) AS dd, " +
        "dayofmonth(d) AS dom, weekofyear(d) AS woy, " +
        "CAST(to_date(d) AS STRING) AS td " +
        "from (select cast('2011-05-06' as date) AS d) t",
      duck = Some("select year(d) AS y, month(d) AS m, day(d) AS dd, " +
        "dayofmonth(d) AS dom, weekofyear(d) AS woy, " +
        "strftime(d, '%Y-%m-%d') AS td " +
        "from (select cast('2011-05-06' as date) AS d) t")),

    QCase("date_udf.q", "dtu2",
      "select CAST(date_add(d, 5) AS STRING) AS p5, " +
        "CAST(date_sub(d, 10) AS STRING) AS m10 " +
        "from (select cast('2011-05-06' as date) AS d) t",
      duck = Some("select strftime(d + INTERVAL 5 DAY, '%Y-%m-%d') AS p5, " +
        "strftime(d - INTERVAL 10 DAY, '%Y-%m-%d') AS m10 " +
        "from (select cast('2011-05-06' as date) AS d) t")),

    QCase("date_udf.q", "dtu3",
      "select datediff(d, d) AS z, datediff(d, '2002-03-21') AS a, " +
        "datediff('2002-03-21', d) AS b, " +
        "datediff(cast('2002-03-21 00:00:00' as timestamp), d) AS c, " +
        "datediff(d, cast('2002-03-21 00:00:00' as timestamp)) AS e, " +
        "datediff(d, date '2002-03-21') AS f " +
        "from (select cast('2011-05-06' as date) AS d) t",
      duck = Some("select date_diff('day', d, d) AS z, " +
        "date_diff('day', DATE '2002-03-21', d) AS a, " +
        "date_diff('day', d, DATE '2002-03-21') AS b, " +
        "date_diff('day', d, DATE '2002-03-21') AS c, " +
        "date_diff('day', DATE '2002-03-21', d) AS e, " +
        "date_diff('day', DATE '2002-03-21', d) AS f " +
        "from (select cast('2011-05-06' as date) AS d) t"),
      note = "datediff(a, b) = a - b in days; string and timestamp " +
        "arguments coerce to date"))

  test("qtest conformance: date family (cast chains, comparisons, " +
      "date_udf arithmetic)") {
    run("date_")
  }

  test("date_1.q: CAST(date AS numeric/boolean) answers NULL — Hive " +
      "parity under the engine's non-ANSI mode") {
    val r = Engine.sql(spark, sfDir,
      "select cast(cast('2011-01-01' as date) as boolean), " +
        "cast(cast('2011-01-01' as date) as tinyint), " +
        "cast(cast('2011-01-01' as date) as smallint), " +
        "cast(cast('2011-01-01' as date) as int), " +
        "cast(cast('2011-01-01' as date) as bigint), " +
        "cast(cast('2011-01-01' as date) as float), " +
        "cast(cast('2011-01-01' as date) as double)").head()
    assert((0 until 7).forall(r.isNullAt), r.toString) // date_1.q.out
  }
}
