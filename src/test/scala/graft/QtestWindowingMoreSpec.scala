package graft

/** Conformance wave 16l: windowing remainder — NULL-bearing window order
  * keys (windowing_order_null.q over over10k ∪ over4_null) and DISTINCT
  * window aggregates (windowing_distinct.q), which the engine lowers to
  * collect_set compositions because Spark has no distinct windows
  * (plans/DistinctWindows). Ref ql/src/test/queries/clientpositive/.
  */
class QtestWindowingMoreSpec extends QtestHarness {

  // DuckDB twin for whole-partition distinct aggregates: group-by
  // distinct counts joined back per row (DuckDB's windowed DISTINCT
  // support is not assumed)
  private def wdTwin(aggs: String): String =
    s"SELECT w.index AS index, $aggs FROM qt_wdist w JOIN (SELECT " +
      "index, count(DISTINCT t) AS ct, count(DISTINCT d) AS cd, " +
      "count(DISTINCT bo) AS cbo, count(DISTINCT s) AS cs, " +
      "count(DISTINCT concat('Mr.', s)) AS cms, " +
      "count(DISTINCT ts) AS cts, count(DISTINCT dec) AS cdec, " +
      "sum(DISTINCT t) AS st, sum(DISTINCT d) AS sd, " +
      "sum(DISTINCT dec) AS sdec, avg(DISTINCT t) AS at, " +
      "avg(DISTINCT d) AS ad FROM qt_wdist GROUP BY index) g " +
      "ON w.index = g.index ORDER BY w.index"

  protected val qcases: Seq[QCase] = Seq(
    QCase("windowing_order_null.q", "wn1",
      "SELECT i, s, b, sum(b) OVER (PARTITION BY i ORDER BY s NULLS " +
        "LAST, b ROWS UNBOUNDED PRECEDING) AS w FROM qt_o10knull " +
        "WHERE i IS NULL OR i = 65534 " +
        "ORDER BY i NULLS LAST, s NULLS LAST, b NULLS LAST",
      note = "explicit NULLS LAST on the window order key with real " +
        "NULL rows; running-sum frame skips NULL b", ordered = true),
    QCase("windowing_order_null.q", "wn2",
      "SELECT d, s, f, sum(f) OVER (PARTITION BY d ORDER BY s, f DESC " +
        "NULLS FIRST ROWS UNBOUNDED PRECEDING) AS w FROM qt_o10knull " +
        "WHERE d IS NULL OR d IN (0.01, 0.02) " +
        "ORDER BY d NULLS LAST, s NULLS LAST, f NULLS LAST",
      note = "mixed default + explicit null order in one window spec"),
    QCase("windowing_order_null.q", "wn3",
      "SELECT b, s, sum(i) OVER (PARTITION BY b ORDER BY s) AS w " +
        "FROM qt_o10knull WHERE b IS NULL ORDER BY s NULLS LAST",
      note = "bare window ORDER BY defaults NULLS LAST (Hive " +
        "NULL-as-largest): the three NULL-s rows are peers of the " +
        "full-frame RANGE window, after the named rows", ordered = true),
    QCase("windowing_distinct.q", "wd1",
      "SELECT index, COUNT(DISTINCT t) OVER (PARTITION BY index) AS " +
        "ct, COUNT(DISTINCT d) OVER (PARTITION BY index) AS cd, " +
        "COUNT(DISTINCT bo) OVER (PARTITION BY index) AS cbo, " +
        "COUNT(DISTINCT s) OVER (PARTITION BY index) AS cs, " +
        "COUNT(DISTINCT concat('Mr.', s)) OVER (PARTITION BY index) " +
        "AS cms, COUNT(DISTINCT ts) OVER (PARTITION BY index) AS cts, " +
        "COUNT(DISTINCT dec) OVER (PARTITION BY index) AS cdec " +
        "FROM qt_wdist ORDER BY index",
      duck = Some(wdTwin(
        "g.ct, g.cd, g.cbo, g.cs, g.cms, g.cts, g.cdec")),
      note = "COUNT(DISTINCT) OVER — Spark refuses distinct windows; " +
        "lowered to size(collect_set() OVER)"),
    QCase("windowing_distinct.q", "wd2",
      "SELECT index, SUM(DISTINCT t) OVER (PARTITION BY index) AS st, " +
        "SUM(DISTINCT d) OVER (PARTITION BY index) AS sd, " +
        "SUM(DISTINCT dec) OVER (PARTITION BY index) AS sdec " +
        "FROM qt_wdist ORDER BY index",
      duck = Some(wdTwin("g.st, g.sd, g.sdec")),
      note = "SUM(DISTINCT) OVER: aggregate() fold over the distinct " +
        "set, type-preserving seed (long stays long, decimal decimal)"),
    QCase("windowing_distinct.q", "wd3",
      "SELECT index, AVG(DISTINCT t) OVER (PARTITION BY index) AS at, " +
        "AVG(DISTINCT d) OVER (PARTITION BY index) AS ad " +
        "FROM qt_wdist ORDER BY index",
      duck = Some(wdTwin("g.at, g.ad")),
      note = "AVG(DISTINCT) OVER = distinct sum / distinct count"))

  test("qtest conformance: windowing with NULL order keys + DISTINCT " +
      "window aggregates") {
    run("windowing_")
  }

  test("distinct window over an ORDERED running frame computes the " +
      "running distinct aggregate (frame-faithful lowering)") {
    val rows = Engine.sql(spark, sfDir,
      "SELECT v, COUNT(DISTINCT v) OVER (ORDER BY ord ROWS UNBOUNDED " +
        "PRECEDING) AS c, SUM(DISTINCT v) OVER (ORDER BY ord ROWS " +
        "UNBOUNDED PRECEDING) AS s FROM (SELECT * FROM VALUES " +
        "(1, 10), (2, 10), (3, 20), (4, CAST(NULL AS INT)), (5, 10) " +
        "AS t(ord, v))")
      .collect().map(r => (
        if (r.isNullAt(0)) -1 else r.getInt(0),
        r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getDecimal(2).longValueExact())).toSeq
    assert(rows === Seq((10, 1L, 10L), (10, 1L, 10L), (20, 2L, 30L),
      (-1, 2L, 30L), (10, 2L, 30L)))
  }
}
