package graft

/** Conformance wave 16g: the interval family — ref ql/src/test/queries/
  * clientpositive/interval_udf.q, interval_comparison.q, interval_alt.q
  * (expected cells from results/clientpositive/llap).
  *
  * Wave finding (fixed in HiveFunctions): Hive's year/month and
  * day/hour/minute/second accept INTERVAL arguments —
  * year(interval '1-2' year to month) = 1, second of a day-time
  * interval truncates the fraction (6.789 → 6) — where the Spark
  * builtins only take datetimes.
  *
  * interval_alt.q's bare-word literals (`2 seconds` as a select item,
  * `date + 30 days`, `interval (expr) day`) are Hive-parser spellings
  * deliberately NOT rewritten (fail-loud; the canonical INTERVAL
  * spelling covers the semantics).
  */
class QtestIntervalSpec extends QtestHarness {

  protected val qcases: Seq[QCase] = Seq(
    QCase("interval_udf.q", "iv01",
      "select year(iym) AS a, month(iym) AS b, day(idt) AS c, " +
        "hour(idt) AS d, minute(idt) AS e, second(idt) AS f " +
        "from (select interval '1-2' year to month AS iym, " +
        "interval '3 4:5:6.789' day to second AS idt) q",
      duck = Some(""), hive = Some(Seq("1", "2", "3", "4", "5", "6"))),

    QCase("interval_comparison.q", "iv02",
      "select (i1 = i1) AS a, (i1 = i2) AS b, (i1 >= i2) AS c, " +
        "(i1 <= i2) AS d, (i3 = i4) AS e, (i1 < i3) AS f, " +
        "(i3 > i1) AS g, (i1 != i3) AS h " +
        "from (select interval '2-0' year to month as i1, " +
        "interval '2' year as i2, interval '2-1' year to month as i3, " +
        "interval '25' month as i4) q1",
      duck = Some(""),
      hive = Some(Seq("true", "true", "true", "true", "true", "true",
        "true", "true")),
      note = "year-month literals in different units compare by value"),

    QCase("interval_comparison.q", "iv03",
      "select (i1 != i1) AS a, (i1 != i2) AS b, (i1 < i2) AS c, " +
        "(i1 > i2) AS d, (i1 = i3) AS e, (i1 > i3) AS f, (i3 < i1) AS g " +
        "from (select interval '1 0:0:0' day to second as i1, " +
        "interval '24' hour as i2, interval '1 0:0:1' day to second as i3) q1",
      duck = Some(""),
      hive = Some(Seq("false", "false", "false", "false", "false",
        "false", "false")),
      note = "day-time literals in different units compare by value"),

    QCase("interval_alt.q", "iv04",
      "select (1+1 in (1,2,3,4)) AS a, ((1+1) in (1,2,3,4)) AS b",
      duck = Some(""), hive = Some(Seq("true", "true")),
      note = "arithmetic binds tighter than IN in both dialects"),

    QCase("interval_alt.q", "iv05",
      "select cast(interval '5-5' year to month as string) AS a, " +
        "cast(date '2012-01-01' + interval 30 days as string) AS b, " +
        "cast(date '2012-01-01' - interval 30 days as string) AS c",
      duck = Some(""),
      hive = Some(Seq("5-5", "2012-01-31", "2011-12-02")),
      note = "Hive renders the bare '5-5' — matched since r17's " +
        "HiveCastRendering (this row previously pinned Spark's " +
        "INTERVAL '...' spelling as a known divergence)"))

  test("qtest conformance: interval family (field extraction from " +
      "intervals, cross-unit comparisons, arithmetic)") {
    run("interval_")
  }

  test("KNOWN DIVERGENCE, pinned (interval_alt.q): `a = b IN (list)` " +
      "precedence — Hive binds IN tighter (a = (b IN list)), Spark " +
      "binds = tighter ((a = b) IN list)") {
    // Hive: false = (false IN (true,false)) = false = true = FALSE
    // Spark: (false = false) IN (true,false) = true IN (...) = TRUE
    // A parser-precedence rewrite would have to re-associate every
    // unparenthesized comparison-before-IN in the grammar — out of
    // scope; the parenthesized spellings (iv04) agree in both dialects.
    val r = Engine.sql(spark, sfDir,
      "select (true=false in (true,false)) AS c, " +
        "(false=false in (true,false)) AS d").head
    assert(r.getBoolean(0) === true) // agrees with Hive by coincidence
    assert(r.getBoolean(1) === true) // Hive answers false
  }
}
