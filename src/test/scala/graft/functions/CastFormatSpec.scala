package graft.functions

import graft.{Engine, SparkSpec}

/** SQL:2016 CAST ... FORMAT — expectations pinned to the reference's
  * own unit tests (ql/udf/generic/TestGenericUDFCastFormat.java) and
  * format-token table (HiveSqlDateTimeFormatter.java:422).
  */
class CastFormatSpec extends SparkSpec {

  private def one(sql: String): String = {
    HiveFunctions.registerAll(spark)
    val v = spark.sql(s"SELECT $sql AS v").head().get(0)
    if (v == null) null else v.toString
  }

  test("timestamp -> string (TestGenericUDFCastFormat expectations)") {
    val ts = "TIMESTAMP '2009-07-30 00:00:08'"
    assert(one(s"cast_format($ts, 'string', 'yyyy-MM-dd HH24:mi:ss')") ===
      "2009-07-30 00:00:08")
    assert(one(
      s"cast_format(TIMESTAMP '2009-07-30 11:02:00', 'string', 'MM/dd/yyyy hh24miss')") ===
      "07/30/2009 110200")
    assert(one(s"cast_format(TIMESTAMP '2009-07-30 01:02:03', 'string', 'MM')") === "07")
    assert(one(s"cast_format(TIMESTAMP '1969-07-30 00:00:00', 'string', 'yy')") === "69")
    // SQL mm is MONTH and mi is MINUTE — the Java-collision trap
    assert(one(s"cast_format(TIMESTAMP '2009-07-30 01:02:03', 'string', 'mm mi')") ===
      "07 02")
  }

  test("char/varchar outputs truncate; char right-pads (reference rows)") {
    val t = "TIMESTAMP '2009-07-30 00:00:08'"
    assert(one(s"cast_format($t, 'char(3)', 'yyyy-MM-dd HH24:mi:ss')") === "200")
    assert(one(s"cast_format(TIMESTAMP '2009-07-30 01:02:03', 'char(3)', 'MM')") === "07 ")
    assert(one(s"cast_format($t, 'varchar(3)', 'yyyy-MM-dd HH24:mi:ss')") === "200")
    assert(one(s"cast_format(TIMESTAMP '2009-07-30 01:02:03', 'varchar(3)', 'MM')") === "07")
  }

  test("text tokens follow the pattern's case (MON/Mon/mon); am/pm and " +
      "dotted forms; day names") {
    val d = "DATE '2009-07-30'"
    assert(one(s"cast_format($d, 'string', 'MON')") === "JUL")
    assert(one(s"cast_format($d, 'string', 'Mon')") === "Jul")
    assert(one(s"cast_format($d, 'string', 'mon')") === "jul")
    assert(one(s"cast_format($d, 'string', 'Month')") === "July")
    assert(one(s"cast_format($d, 'string', 'DY')") === "THU")
    assert(one(s"cast_format($d, 'string', 'Day')") === "Thursday")
    val ts = "TIMESTAMP '2018-01-01 16:00:00'"
    assert(one(s"cast_format($ts, 'string', 'hh12 AM')") === "04 PM")
    assert(one(s"cast_format($ts, 'string', 'hh24 p.m.')") === "16 p.m.")
    assert(one(s"cast_format($ts, 'string', 'yyyy \"Qtr\" q')") === "2018 Qtr 1")
  }

  test("string -> timestamp/date parse (reference rows); unparseable is NULL") {
    assert(one("CAST(" +
      "cast_format('2009-07-30 01:02:03', 'timestamp', 'yyyy-MM-dd HH24:mi:ss')" +
      " AS STRING)") === "2009-07-30 01:02:03")
    assert(one("CAST(" +
      "cast_format('07/30/2009 11:0200', 'timestamp', 'MM/dd/yyyy hh24:miss')" +
      " AS STRING)") === "2009-07-30 11:02:00")
    assert(one("cast_format('07/30/2009', 'date', 'MM/dd/yyyy')") === "2009-07-30")
    assert(one("cast_format('not a date', 'date', 'MM/dd/yyyy')") === null)
  }

  test("CAST(x AS type FORMAT 'p') spelling rewrites through the front door") {
    val df = Engine.sql(spark, sfDir,
      "SELECT CAST(TIMESTAMP '2009-07-30 11:02:00' AS STRING FORMAT 'MM/dd/yyyy hh24miss') AS v")
    assert(df.head().getString(0) === "07/30/2009 110200")
    val df2 = Engine.sql(spark, sfDir,
      "SELECT CAST('2009-07-30' AS DATE FORMAT 'yyyy-MM-dd') AS v, " +
        "CAST(TIMESTAMP '2018-01-01 16:00:00' AS varchar(2) FORMAT 'hh12') AS w")
    val r = df2.head()
    assert(r.get(0).toString === "2009-07-30")
    assert(r.getString(1) === "04")
    // nested in an expression with parens inside the operand
    val df3 = Engine.sql(spark, sfDir,
      "SELECT length(CAST(date_add(DATE '2009-07-29', 1) AS STRING FORMAT 'Month')) AS n")
    assert(df3.head().getInt(0) === 4) // "July"
    // identifier-boundary safety: a trailing "as" inside an identifier
    // (x_as) must not be taken as the AS keyword — the real AS later in
    // the operand splits correctly
    assert(graft.plans.CastFormat.rewrite(
      "SELECT CAST(t.x_as AS STRING FORMAT 'yyyy') FROM t") ===
      Some("SELECT cast_format(t.x_as, 'STRING', 'yyyy') FROM t"))
    // ... and with NO real AS keyword at all (the identifier's trailing
    // "as" is the only candidate), the rewrite must not fire
    assert(graft.plans.CastFormat.rewrite(
      "SELECT CAST(expr_as STRING FORMAT 'yyyy') FROM t") === None)
  }

  test("rr two-digit-year pivot (TestHiveSqlDateTimeFormatter rows): " +
      "00->2000, 49->2049, 50->1950, 99->1999") {
    // the pivot references the CURRENT year (ref HiveSqlDateTimeFormatter
    // .java:112-119): these pins hold while the current year's last two
    // digits are <= 49 — i.e. until 2050, same assumption the reference's
    // own test rows make
    assert(one("cast_format('00-02-03', 'date', 'rr-mm-dd')") === "2000-02-03")
    assert(one("cast_format('49-02-03', 'date', 'rr-mm-dd')") === "2049-02-03")
    assert(one("cast_format('50-02-03', 'date', 'rr-mm-dd')") === "1950-02-03")
    assert(one("cast_format('99-02-03', 'date', 'rr-mm-dd')") === "1999-02-03")
    assert(one("cast_format('50-02-03 04:05:06', 'timestamp', " +
      "'rr-mm-dd hh24:mi:ss')") === "1950-02-03 04:05:06.0")
    assert(one("cast_format('junk', 'date', 'rr-mm-dd')") === null)
    // rrrr with 4-digit input stays the plain year parse
    assert(one("cast_format('1950-02-03', 'date', 'rrrr-mm-dd')") ===
      "1950-02-03")
  }

  test("unknown tokens and unsupported directions fail loudly") {
    val e1 = intercept[Exception](one(
      "cast_format(current_timestamp(), 'string', 'yyyy-xx')"))
    assert(e1.getMessage.contains("unknown SQL:2016 token"), e1.getMessage)
    val e2 = intercept[Exception](one(
      "cast_format(current_timestamp(), 'string', 'tzh:tzm')"))
    assert(e2.getMessage.contains("TZH/TZM"), e2.getMessage)
    val e3 = intercept[Exception](one(
      "cast_format('969', 'timestamp', 'yyy')"))
    assert(e3.getMessage.contains("not supported for parsing"), e3.getMessage)
  }

  test("ISO week-date parse (iyyy-iw-id) rebuilds the ISO calendar; " +
      "phantom weeks answer NULL (r17; ref HiveSqlDateTimeFormatter " +
      "IYYY/IW/ID contract)") {
    assert(one("cast_format('2019-1-1', 'date', 'iyyy-iw-id')") ===
      "2018-12-31") // ISO 2019-W01-1 is a Monday in calendar 2018
    assert(one("cast_format('2020-53-7', 'date', 'iyyy-iw-id')") ===
      "2021-01-03") // 2020 is a 53-week ISO year
    assert(one("cast_format('2019-26-3', 'date', 'iyyy-iw-id')") ===
      "2019-06-26")
    assert(one("cast_format('2019-53-1', 'date', 'iyyy-iw-id')") ===
      null) // 2019 has 52 ISO weeks - the phantom week is unparseable
    assert(one("cast_format('2019-1-9', 'date', 'iyyy-iw-id')") ===
      null) // day-of-week outside 1..7
    assert(one("cast_format('2020-53-7', 'timestamp', 'iyyy-iw-id')") ===
      "2021-01-03 00:00:00.0")
    // iyyy without iw+id keeps the documented refusal
    assertThrows[Exception] {
      one("cast_format('2019', 'date', 'iyyy')")
    }
  }

  test("trailing TZH:TZM parses, validates and DISCARDS the offset " +
      "(r17; TestHiveSqlDateTimeFormatter pins the local fields)") {
    assert(one("cast_format('2019-01-01 14:00-1:30', 'timestamp', " +
      "'yyyy-MM-dd HH24:MI TZH:TZM')") === "2019-01-01 14:00:00.0")
    assert(one("cast_format('2019-01-01 14:00+10:30', 'timestamp', " +
      "'yyyy-MM-dd HH24:MI TZH:TZM')") === "2019-01-01 14:00:00.0")
    assert(one("cast_format('2019-01-01 -0:30', 'timestamp', " +
      "'yyyy-mm-dd TZH:TZM')") === "2019-01-01 00:00:00.0")
    // a NON-trailing tz token keeps the documented fail-loud refusal
    assertThrows[Exception] {
      one("cast_format('0/333-01-11/02', 'timestamp', " +
        "'TZM/YYY-MM-TZH/DD')")
    }
  }
}
