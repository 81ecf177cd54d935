package graft

import org.apache.spark.sql.types.DecimalType

/** Conformance wave 16j: the decimal family — text-load parse rules,
  * precision/scale arithmetic, casts in and out of decimal, union
  * widening — ref ql/src/test/queries/clientpositive/decimal_1.q,
  * decimal_3.q, decimal_5.q, decimal_6.q, decimal_precision2.q,
  * decimal_trailing.q over the reference's kv7/kv9/kv10 fixtures
  * (expected cells from results/clientpositive/llap).
  *
  * Pinned reference semantics:
  *   - text→decimal parse: int-digit overflow → NULL, excess scale
  *     rounds HALF_UP, a trailing bare '.' is a valid zero-fraction
  *     decimal ("00000." = 0 — decimal_trailing.q.out row 27);
  *   - cast decimal→decimal overflow → NULL (not error, not saturate);
  *   - bare `decimal` = decimal(10,0), cast rounds HALF_UP;
  *   - decimal→timestamp reads the value as epoch seconds;
  *   - union of decimal(10,5) and decimal(17,4) widens to decimal(18,5);
  *   - literal `BD` suffix arithmetic keeps exact precision.
  */
class QtestDecimalSpec extends QtestHarness {

  protected val qcases: Seq[QCase] = Seq(
    QCase("decimal_3.q", "d01",
      "SELECT key, value FROM qt_kv7 ORDER BY key, value",
      note = "decimal(38,18) text load: 1E+99 overflows → NULL, 1E-99 " +
        "rounds to 0; NULL key sorts LAST (Hive NULL-as-largest default)",
      ordered = true),
    QCase("decimal_3.q", "d02",
      "SELECT key, value FROM qt_kv7 ORDER BY key DESC, value DESC",
      duck = Some("SELECT key, value FROM qt_kv7 ORDER BY key DESC " +
        "NULLS FIRST, value DESC NULLS FIRST"),
      note = "bare DESC → NULLS FIRST (NULL = largest); DuckDB's " +
        "default is absolute nulls-last, so the twin spells it",
      ordered = true),
    QCase("decimal_3.q", "d03",
      "SELECT DISTINCT key FROM qt_kv7 ORDER BY key",
      ordered = true),
    QCase("decimal_3.q", "d04",
      "SELECT key, sum(value) AS s FROM qt_kv7 GROUP BY key ORDER BY key",
      note = "group on a decimal(38,18) key: 3.14 and 3.140 parse equal " +
        "and group together (sum 13 in decimal_3.q.out)",
      ordered = true),
    QCase("decimal_3.q", "d05",
      "SELECT value, cast(sum(key) as string) AS s FROM qt_kv7 " +
        "GROUP BY value ORDER BY value",
      duck = Some("SELECT value, cast(cast(sum(key) as decimal(38,18)) " +
        "as varchar) AS s FROM qt_kv7 GROUP BY value ORDER BY value"),
      note = "sum over decimal(38,18) stays at scale 18",
      ordered = true),
    QCase("decimal_3.q", "d06",
      "SELECT a.key AS k, a.value AS v1, b.value AS v2 FROM qt_kv7 a " +
        "JOIN qt_kv7 b ON a.key = b.key ORDER BY k, v1, v2",
      note = "decimal equi-join: NULL keys do not join", ordered = true),
    QCase("decimal_3.q", "d07",
      "SELECT count(*) AS c14, (SELECT count(*) FROM qt_kv7 WHERE " +
        "key = 3.140) AS c140 FROM qt_kv7 WHERE key = 3.14",
      note = "3.14 and 3.140 literals compare equal against the column"),
    QCase("decimal_5.q", "d08",
      "SELECT cast(key as decimal(6,3)) AS k FROM qt_kv9a",
      duck = Some("SELECT CASE WHEN abs(key) < 1000 THEN " +
        "cast(round(key, 3) as decimal(6,3)) END AS k FROM qt_kv9a"),
      note = "cast decimal(10,5)→decimal(6,3): int-digit overflow → " +
        "NULL (-1255.49, 23232.23435), excess scale rounds (10.73433 → " +
        "10.734) — decimal_5.q.out"),
    QCase("decimal_5.q", "d09",
      "SELECT cast(key as decimal) AS k FROM qt_kv9a",
      duck = Some("SELECT cast(round(key, 0) as decimal(10,0)) AS k " +
        "FROM qt_kv9a"),
      note = "bare `decimal` is decimal(10,0); cast rounds HALF_UP " +
        "(-1255.49 → -1255, 125.2 → 125)"),
    QCase("decimal_1.q", "d10",
      "SELECT cast(t as boolean) AS a, cast(t as tinyint) AS b, " +
        "cast(t as smallint) AS c, cast(t as int) AS d, " +
        "cast(t as bigint) AS e, cast(t as float) AS f, " +
        "cast(t as double) AS g, cast(t as string) AS h, " +
        "cast(cast(t as timestamp) as string) AS i " +
        "FROM (SELECT cast('17.29' as decimal(4,2)) AS t)",
      duck = Some(""),
      hive = Some(Seq("true", "17", "17", "17", "17", "17.29", "17.29",
        "17.29", "1970-01-01 00:00:17.29")),
      note = "decimal_1.q cast family: numeric casts truncate toward " +
        "zero, decimal→timestamp reads epoch seconds with fraction"),
    QCase("decimal_6.q", "d11",
      "SELECT cast(t.key as string) AS k FROM (SELECT key FROM " +
        "qt_kv9a UNION ALL SELECT key FROM qt_kv9b) t ORDER BY t.key",
      duck = Some("SELECT cast(cast(t.key as decimal(18,5)) as varchar) " +
        "AS k FROM (SELECT cast(key as decimal(18,5)) AS key FROM " +
        "qt_kv9a UNION ALL SELECT cast(key as decimal(18,5)) AS key " +
        "FROM qt_kv9b) t ORDER BY t.key NULLS LAST"),
      note = "decimal(10,5) UNION ALL decimal(17,4) widens to " +
        "decimal(18,5) (decimal_6.q.out: 23232.23435 beside " +
        "23232.23440); six NULLs (overflow loads) sort last",
      ordered = true),
    QCase("decimal_precision2.q", "d13",
      "SELECT cast(100.001BD as string) AS a, " +
        "cast(0.09765625BD * 0.09765625BD * 0.0125BD * 578992BD " +
        "as string) AS b",
      duck = Some(""),
      hive = Some(Seq("100.001", "69.02122497558593750000")),
      note = "BD-suffixed decimal literals: exact product " +
        "(decimal_precision2.q.out)"),
    QCase("decimal_trailing.q", "d14",
      "SELECT id, a, b FROM qt_kv10 ORDER BY id", ordered = true),
    QCase("decimal_trailing.q", "d15",
      "SELECT count(*) AS n, count(a) AS na, count(b) AS nb FROM qt_kv10",
      duck = Some(""),
      hive = Some(Seq("30", "20", "21")),
      note = "decimal_trailing.q.out NULL census: a drops 10 rows " +
        "(int-digit overflow), b drops 9; the trailing-'.' rows " +
        "(\"00000.\" id 27) load as 0, NOT NULL — LazySimpleSerDe " +
        "decimal parse tolerance"))

  test("qtest conformance: decimal family (load rules, precision " +
      "arithmetic, casts, union widening)") {
    run("decimal_")
  }

  test("decimal_6.q: key + 5.5 CTAS column types as decimal(11,5) — " +
      "Hive's plus-precision rule (decimal_6.q.out desc)") {
    // a result type needs only qt_kv9a's schema: its in-repo stand-in
    val df = Engine.sql(QtestHarness.standIns, sfDir,
      "SELECT key + 5.5 AS k FROM qt_kv9a")
    assert(df.schema("k").dataType === DecimalType(11, 5))
  }

  test("decimal text parse: trailing '.' reads as a zero-fraction " +
      "decimal through the MM text path (LazySimpleSerDe parity)") {
    import org.apache.spark.sql.types._
    val c = graft.sources.TextFormats.hiveTextCast(
      org.apache.spark.sql.functions.col("s"), DecimalType(10, 4))
    import spark.implicits._
    val got = Seq("00000.", "123.", " 17.29 ", ".", "1.5.2", "abc",
      "1E+99", "-000", "12345678901")
      .toDF("s").select(c.as("d")).collect().map(r =>
        if (r.isNullAt(0)) null else r.getDecimal(0).toPlainString)
    assert(got.toSeq === Seq("0.0000", "123.0000", "17.2900", null,
      null, null, null, "0.0000", null))
  }
}
