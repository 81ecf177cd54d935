package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One curated conformance case from the reference's qtest corpus (see
  * [[QtestHarness]]): `spark` runs through the engine front door; `duck`
  * is the DuckDB-dialect twin (None = same text; Some("") = no DuckDB
  * analog — the transcribed-.q.out `hive` leg is then mandatory);
  * `ordered` compares in sequence (ORDER BY cases).
  */
private[graft] case class QCase(file: String, name: String, spark: String,
    duck: Option[String] = None, note: String = "",
    hive: Option[Seq[String]] = None, ordered: Boolean = false) {
    def hiveOnly: Boolean = duck.contains("")
    require(!hiveOnly || hive.isDefined,
      s"$name: a DuckDB-less case needs the .q.out leg")
  }

/** Fixtures shared by every qtest family spec: the reference's canonical
  * datasets loaded as qt_-prefixed temp views AND parquet dirs for the
  * DuckDB side — built once per JVM (the specs share [[SparkSpec]]'s
  * session).
  *
  * [[standIns]] is the in-repo alternative for checks that need only a
  * table's schema (plus a row count or two), not the reference's rows:
  * the refusal specs (QtestNegativeSpec, QtestNegativeWave17Spec,
  * QtestNegativeWave17bSpec) run on it as their `spark`, and
  * QtestDecimalSpec's decimal_6 result-type check reads its `qt_kv9a`.
  * It is a session of its own so the stand-ins can never shadow the
  * reference-backed `qt_` views that the DuckDB twin legs compare
  * against their parquet dirs in the same JVM.
  */
object QtestHarness {

  val refData = "/root/reference/data/files"

  private lazy val spark = SparkSpec.session

  /** Writes each frame to a parquet dir under `dir` and registers the
    * `session` temp view over the WRITTEN file; returns the table→dir map.
    */
  private def materialize(session: SparkSession, dir: String,
      tables: Map[String, DataFrame]): Map[String, String] =
    tables.map { case (name, df) =>
      val d = s"$dir/$name"
      df.write.parquet(d)
      // BOTH engines read the identical parquet: registering the Spark
      // view over the written file (not the in-memory frame) keeps probe
      // columns non-constant-foldable — a LocalRelation lit(null) probe
      // lets Spark's NullPropagation fold `NULL IN (<empty subquery>)`
      // to NULL where a scan probe (and Hive, and DuckDB) answers FALSE
      session.read.parquet(d).createOrReplaceTempView(name)
      name -> d
    }

  /** srcpart: `src` under each of Hive's four (ds, hr) partitions. */
  private def partitioned(src: DataFrame): DataFrame =
    Seq(("2008-04-08", "11"), ("2008-04-08", "12"),
      ("2008-04-09", "11"), ("2008-04-09", "12"))
      .map { case (ds, hr) => src.withColumn("ds", lit(ds))
        .withColumn("hr", lit(hr)) }
      .reduce(_ unionByName _)

  // ------------------------------------------------------------ fixtures

  lazy val python: Option[String] =
    Seq("python3", "/root/.pyenv/shims/python3", "/usr/bin/python3")
      .find { p =>
        try new ProcessBuilder(p, "-c", "import duckdb").start()
          .waitFor() == 0
        catch { case _: Exception => false }
      }

  lazy val haveRef: Boolean =
    new java.io.File(s"$refData/kv1.txt").isFile

  /** Loads every fixture as a qt_-prefixed temp view AND a parquet dir
    * for the DuckDB side; returns the table→dir map.
    */
  lazy val fixtures: Map[String, String] = {
    graft.functions.HiveFunctions.registerAll(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_qtest_")
      .toString
    def kv(path: String, sep: String, cols: Seq[String]): DataFrame =
      spark.read
        .option("sep", sep).option("emptyValue", "").option("nullValue", "\\N")
        .csv(path)
        .toDF(cols: _*)
        .select(cols.map(c => coalesce(col(c), lit("")).as(c)): _*)
    val src = kv(s"$refData/kv1.txt", "", Seq("key", "value"))
    val src1 = kv(s"$refData/kv3.txt", "", Seq("key", "value"))
    val srcpart = partitioned(src)
    val t1 = kv(s"$refData/T1.txt", "", Seq("key", "val"))
    val t2 = kv(s"$refData/T2.txt", "", Seq("key", "val"))
    val t3 = kv(s"$refData/T3.txt", "", Seq("key", "val"))
    val gsets = kv(s"$refData/grouping_sets.txt", " ", Seq("a", "b", "c"))
    val part = spark.read.option("sep", "")
      .csv(s"$refData/tpch/tiny/part.tbl.bz2")
      .toDF("p_partkey", "p_name", "p_mfgr", "p_brand", "p_type",
        "p_size", "p_container", "p_retailprice", "p_comment")
      .select(col("p_partkey").cast("int"), col("p_name"), col("p_mfgr"),
        col("p_brand"), col("p_type"), col("p_size").cast("int"),
        col("p_container"), col("p_retailprice").cast("double"),
        col("p_comment"))
    val sales = spark.read.option("sep", "\t")
      .csv(s"$refData/sales.txt").toDF("name", "id")
      .select(col("name"), col("id").cast("int"))
    val things = Seq(("things.txt", "2011-10-23"), ("things2.txt", "2011-10-24"))
      .map { case (f, ds) => spark.read.option("sep", "\t")
        .csv(s"$refData/$f").toDF("id", "name")
        .select(col("id").cast("int"), col("name"))
        .withColumn("ds", lit(ds)) }
      .reduce(_ unionByName _)
    // semijoin.q derives its tables from src by CTAS
    val t1sj = src.where(col("key").cast("int") <= 10)
      .select(col("key").cast("int").as("key"), col("value"))
    val t2sj = t1sj.select((col("key") * 2).cast("int").as("key"),
      col("value"))
    val t3sj = t1sj.unionByName(t2sj)
    val t4sj = t1sj.limit(0)
    // subquery_scalar.q fixtures: part with NULLs, an all-NULL pair, an
    // empty table
    val pnull = spark.read.option("sep", ",")
      .csv(s"$refData/part_tiny_nulls.txt")
      .toDF("p_partkey", "p_name", "p_mfgr", "p_brand", "p_type",
        "p_size", "p_container", "p_retailprice", "p_comment")
      .select(col("p_partkey").cast("int"), col("p_name"), col("p_mfgr"),
        col("p_brand"), col("p_type"), col("p_size").cast("int"),
        col("p_container"), col("p_retailprice").cast("double"),
        col("p_comment"))
      .unionByName(spark.range(1).select(lit(78487).as("p_partkey"),
        lit(null).cast("string").as("p_name"),
        lit("Manufacturer#6").as("p_mfgr"), lit("Brand#52").as("p_brand"),
        lit("LARGE BRUSHED BRASS").as("p_type"), lit(23).as("p_size"),
        lit("MED BAG").as("p_container"),
        lit(1464.48).as("p_retailprice"), lit("hely blith").as("p_comment")))
    val tnull = spark.range(2).select(lit(null).cast("int").as("i"),
      lit(null).cast("string").as("c"))
    val tempty = tnull.select(col("c")).limit(0)
    // udf_get_json_object.q's one-row json document table
    val srcjson = spark.read.text(s"$refData/json.txt")
      .withColumnRenamed("value", "json")
    // join_nullsafe.q's table (in8.txt: NULL-bearing int pairs)
    val null8 = spark.read.option("sep", "")
      .csv(s"$refData/in8.txt").toDF("key", "value")
      .select(col("key").cast("int"), col("value").cast("int"))
    // order_null.q's table; count.q's abcd (in4.txt: empty field = NULL)
    val srcnull = {
      import spark.implicits._
      Seq((Option(1), Option("A")), (None, None), (Option(3), None),
        (Option(2), None), (Option(2), Option("A")),
        (Option(2), Option("B"))).toDF("a", "b")
    }
    val abcd = spark.read.option("sep", "\u0001")
      .csv(s"$refData/in4.txt").toDF("a", "b", "c", "d")
      .select(col("a").cast("int"), col("b").cast("int"),
        col("c").cast("int"), col("d").cast("int"))
    // join_filters_overlap.q's table: (100, 40), (100, 50), (100, 60)
    val a4 = spark.range(1).select(lit(100).as("key"),
        explode(array(lit(40), lit(50), lit(60))).as("value"))
    // lateral_view.q / lateral_view_outer.q array-valued tables
    val lvarr = src.orderBy(col("key")).limit(20)
      .select(col("key"), array(col("value")).as("vals"))
    val avalued = src.select(col("key"),
      when(col("key").cast("int") > 300,
        array(col("value"), col("value"))).as("vals"))
    // windowing_windowspec*.q's over10k (|-separated; bin column dropped,
    // Hive's bare `decimal` = DECIMAL(10,0))
    val over10k = spark.read.option("sep", "|")
      .csv(s"$refData/over10k")
      .toDF("t", "si", "i", "b", "f", "d", "bo", "s", "ts", "dec", "bin")
      .select(col("t").cast("int"), col("si").cast("int"),
        col("i").cast("int"), col("b").cast("long"),
        col("f").cast("float"), col("d").cast("double"),
        col("bo").cast("boolean"), col("s"),
        col("ts").cast("timestamp"),
        col("dec").cast("decimal(10,0)").as("dec"))
    // windowing_order_null.q: over10k ∪ over4_null (the null-bearing
    // tail rows that give window order keys actual NULLs)
    val o10kNull = {
      def rd(f: String) = spark.read.option("sep", "|")
        .option("nullValue", "\\N").csv(s"$refData/$f")
        .toDF("t", "si", "i", "b", "f", "d", "bo", "s", "ts", "dec", "bin")
      rd("over10k").unionByName(rd("over4_null"))
        .select(col("t").cast("int"), col("si").cast("int"),
          col("i").cast("int"), col("b").cast("long"),
          col("f").cast("float"), col("d").cast("double"),
          col("bo").cast("boolean"), col("s"),
          col("ts").cast("timestamp"),
          col("dec").cast("decimal(10,0)").as("dec"))
    }
    // windowing_distinct.q's 12-column table (leading index; bin dropped)
    val wdist = spark.read.option("sep", "|").option("nullValue", "\\N")
      .csv(s"$refData/windowing_distinct.txt")
      .toDF("index", "t", "si", "i", "b", "f", "d", "bo", "s", "ts",
        "dec", "bin")
      .select(col("index").cast("int"), col("t").cast("int"),
        col("si").cast("int"), col("i").cast("int"),
        col("b").cast("long"), col("f").cast("float"),
        col("d").cast("double"), col("bo").cast("boolean"), col("s"),
        col("ts").cast("timestamp"),
        col("dec").cast("decimal(4,2)").as("dec"))
    // sample2-9.q's srcbucket (2-bucket layout, Ctrl-A separated)
    val srcbucket = Seq("srcbucket0.txt", "srcbucket1.txt")
      .map(f => spark.read.option("sep", "")
        .csv(s"$refData/$f").toDF("key", "value"))
      .reduce(_ unionByName _)
      .select(col("key").cast("int"), col("value"))
    // subquery_in.q's lineitem probes: the reference ships no lineitem
    // fixture file, so the driver's sf0.001 lineitem stands in (the gate
    // is Spark-vs-DuckDB over IDENTICAL parquet, so semantics still pin;
    // l_shipmode doesn't exist here — cases use l_returnflag)
    val lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag"))
    // decimal_precision.q's kv8.txt: one decimal(20,10) column; values
    // that overflow the type parse as NULL (Hive's LOAD semantics, which
    // PERMISSIVE csv parsing mirrors)
    val kv8 = spark.read.schema("dval decimal(20,10)")
      .csv(s"$refData/kv8.txt")
    // decimal_3/5/6/trailing.q text loads (kv7/kv9/kv10): LOAD into a
    // decimal-typed text table goes through the engine's
    // LazySimpleSerDe-parity cast (int-digit overflow → NULL, excess
    // scale rounds HALF_UP, a trailing '.' is a valid zero-fraction
    // decimal — "00000." reads as 0 where BigDecimal throws)
    def decText(file: String, sep: String,
        schema: Seq[(String, org.apache.spark.sql.types.DataType)]) =
      spark.read.option("sep", sep).csv(s"$refData/$file")
        .toDF(schema.map(_._1): _*)
        .select(schema.map { case (n, t) =>
          graft.sources.TextFormats.hiveTextCast(col(n), t).as(n)
        }: _*)
    import org.apache.spark.sql.types.{DecimalType, IntegerType}
    val kv7 = decText("kv7.txt", " ",
      Seq("key" -> DecimalType(38, 18), "value" -> IntegerType))
    val kv9a = decText("kv9.txt", " ",
      Seq("key" -> DecimalType(10, 5), "value" -> IntegerType))
    val kv9b = decText("kv9.txt", " ",
      Seq("key" -> DecimalType(17, 4), "value" -> IntegerType))
    val kv10 = decText("kv10.txt", ",", Seq("id" -> IntegerType,
      "a" -> DecimalType(10, 4), "b" -> DecimalType(15, 8)))
    // interval_arithmetic.q's dateval/tsval pair (the .q derives them
    // from alltypesorc; two deterministic rows carry the semantics)
    val dts = {
      import spark.implicits._
      Seq(("1999-06-07", "1999-06-07 03:04:05.123456"),
        ("2021-12-31", "2021-12-31 23:59:59.5"))
        .toDF("d", "t")
        .select(col("d").cast("date").as("dateval"),
          col("t").cast("timestamp").as("tsval"))
    }
    // vectorization_*.q's canonical 12,288-row alltypesorc (a plain ORC
    // file — no acid wrapper, ordinary spark.read); timestamps surface
    // as-is, tinyint/smallint widen in parquet for the DuckDB side
    val alltypesorc = spark.read.orc(s"$refData/alltypesorc")
    // vector_case_when_1.q's full-schema TPC-H tiny lineitem (ref
    // data/files/tpch/tiny/lineitem.tbl.bz2) + the .q's all-NULL row.
    // char/varchar columns land as plain strings in the shared parquet:
    // the .tbl values are unpadded, so CHAR-pad rendering never enters
    // the comparison and both engines filter on identical bytes.
    val litest = {
      val raw = spark.read.option("sep", "|")
        .csv(s"$refData/tpch/tiny/lineitem.tbl.bz2")
      // dbgen terminates each line with '|': drop the trailing empty field
      val named = raw.select(raw.columns.take(16).map(col): _*)
        .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus", "l_shipdate", "l_commitdate",
          "l_receiptdate", "l_shipinstruct", "l_shipmode", "l_comment")
      val typed = named.select(
        col("l_orderkey").cast("int"), col("l_partkey").cast("int"),
        col("l_suppkey").cast("int"), col("l_linenumber").cast("int"),
        col("l_quantity").cast("int"),
        col("l_extendedprice").cast("double"),
        col("l_discount").cast("double"),
        col("l_tax").cast("decimal(10,2)"),
        col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate").cast("date"), col("l_commitdate").cast("date"),
        col("l_receiptdate").cast("date"), col("l_shipinstruct"),
        col("l_shipmode"), col("l_comment"))
      typed.unionByName(typed.limit(1).select(
        typed.schema.fields.map(f =>
          lit(null).cast(f.dataType).as(f.name)): _*))
    }
    // vector_case_when_2.q's timestamps table: derived from
    // data/files/timestamps.txt exactly as the .q does (ctimestamp2 =
    // tsval - INTERVAL '1 2:3:4' DAY TO SECOND; stimestamp1 = the cast
    // rendering) + the all-NULL row. Both engines read the parquet this
    // derivation wrote, so the derivation itself is not under test.
    val timestamps = {
      val base = spark.read.schema("tsval timestamp")
        .csv(s"$refData/timestamps.txt")
        .select(col("tsval").cast("date").as("cdate"),
          col("tsval").as("ctimestamp1"),
          col("tsval").cast("string").as("stimestamp1"),
          (col("tsval") - expr("INTERVAL '1 2:3:4' DAY TO SECOND"))
            .as("ctimestamp2"))
      base.unionByName(base.limit(1).select(
        base.schema.fields.map(f =>
          lit(null).cast(f.dataType).as(f.name)): _*))
    }
    // vector_decimal_10_0.q's two-value load: 999999999.999 rounds into
    // decimal(10,0), 9999999999.999 overflows to NULL (LOAD semantics,
    // via the decText LazySimpleSerDe-parity reader)
    val dec100 = decText("decimal_10_0.txt", ",",
      Seq("dec" -> DecimalType(10, 0)))
    // vector_decimal64_*.q's 1000-row decimal64 table (all four columns
    // fit the decimal64 fast path); the diffscale variant re-types the
    // wholesale column at scale 1
    def dec64(wholesale: org.apache.spark.sql.types.DataType) =
      spark.read.option("sep", ",")
        .csv(s"$refData/decimal64table.csv")
        .toDF("ss_ext_list_price", "ss_ext_wholesale_cost",
          "ss_ext_discount_amt", "ss_ext_sales_price")
        .select(col("ss_ext_list_price").cast(DecimalType(7, 2)),
          col("ss_ext_wholesale_cost").cast(wholesale),
          col("ss_ext_discount_amt").cast(DecimalType(7, 2)),
          col("ss_ext_sales_price").cast(DecimalType(7, 2)))
    // vector_aggregate_9 / vector_distinct_2.q's 2000-row vectortab2k
    // (|-separated, empty field = NULL for the typed columns)
    val vt2k = spark.read.option("sep", "|")
      .csv(s"$refData/vectortab2k")
      .toDF("t", "si", "i", "b", "f", "d", "dc", "bo", "s", "s2",
        "ts", "ts2", "dt")
      .select(col("t").cast("int"), col("si").cast("int"),
        col("i").cast("int"), col("b").cast("long"),
        col("f").cast("float"), col("d").cast("double"),
        col("dc").cast(DecimalType(38, 18)), col("bo").cast("boolean"),
        col("s"), col("s2"), col("ts").cast("timestamp"),
        col("ts2").cast("timestamp"), col("dt").cast("date"))
    // the cbo_* corpus's three 20-row tables (key/value carry
    // WHITESPACE-variant duplicates — ' 1 ', '1 ', '1' are distinct
    // join keys but numerically equal after coercion; dt is the .q's
    // constant partition value)
    def cboT(file: String) = spark.read.option("sep", ",")
      .option("nullValue", "\\N")
      .csv(s"$refData/$file")
      .toDF("key", "value", "c_int", "c_float", "c_boolean")
      .select(col("key"), col("value"), col("c_int").cast("int"),
        col("c_float").cast("float"), col("c_boolean").cast("boolean"),
        lit("2014").as("dt"))
    // vector_between_columns.q's TSINT/TINT pairs (+ the .q's NULL rows)
    def pipeInts(file: String, c2: String) = {
      val base = spark.read.option("sep", "|").option("nullValue", "\\N")
        .csv(s"$refData/$file").toDF("rnum", c2)
        .select(col("rnum").cast("int"), col(c2).cast("int"))
      base.unionByName(base.limit(1).select(lit(null).cast("int")
        .as("rnum"), lit(null).cast("int").as(c2)))
    }
    val tsint = pipeInts("TSINT", "csint")
    val tint = pipeInts("TINT", "cint")
    val all = Map(
      "qt_src" -> src, "qt_src1" -> src1, "qt_srcpart" -> srcpart,
      "qt_t1" -> t1, "qt_t2" -> t2, "qt_t3" -> t3,
      "qt_gsets" -> gsets, "qt_part" -> part,
      "qt_sales" -> sales, "qt_things" -> things,
      "qt_t1sj" -> t1sj, "qt_t2sj" -> t2sj, "qt_t3sj" -> t3sj,
      "qt_t4sj" -> t4sj, "qt_lvarr" -> lvarr, "qt_avalued" -> avalued,
      "qt_a4" -> a4, "qt_pnull" -> pnull, "qt_tnull" -> tnull,
      "qt_tempty" -> tempty, "qt_srcnull" -> srcnull, "qt_abcd" -> abcd,
      "qt_null8" -> null8, "qt_json" -> srcjson,
      "qt_over10k" -> over10k, "qt_lineitem" -> lineitem,
      "qt_kv8" -> kv8, "qt_dts" -> dts,
      "qt_kv7" -> kv7, "qt_kv9a" -> kv9a, "qt_kv9b" -> kv9b,
      "qt_kv10" -> kv10, "qt_o10knull" -> o10kNull, "qt_wdist" -> wdist,
      "qt_srcbucket" -> srcbucket,
      "qt_alltypesorc" -> alltypesorc, "qt_litest" -> litest,
      "qt_timestamps" -> timestamps, "qt_tsint" -> tsint,
      "qt_tint" -> tint, "qt_vt2k" -> vt2k, "qt_dec100" -> dec100,
      "qt_cbot1" -> cboT("cbo_t1.txt"), "qt_cbot2" -> cboT("cbo_t2.txt"),
      "qt_cbot3" -> cboT("cbo_t3.txt"),
      "qt_dec64" -> dec64(DecimalType(7, 2)),
      "qt_dec64b" -> dec64(DecimalType(7, 1)))
    materialize(spark, dir, all)
  }

  // ---------------------------------------------------------- stand-ins

  /** A session of its own (a clone of [[SparkSpec]]'s, configured by
    * `Engine.configure`) holding deterministic, schema-identical
    * stand-ins for the `qt_` tables the refusal specs and decimal_6 name:
    *  - `qt_src(key, value)`: 500 rows, key = 7·i mod 310 (190 keys
    *    twice), value `val_<key>` — kv1's shape;
    *  - `qt_src1(key, value)`: 25 rows, every 5th key and every 5th
    *    value empty — kv3's shape;
    *  - `qt_srcpart(key, value, ds, hr)`: qt_src under 4 partitions;
    *  - `qt_t1`/`qt_t2(key, val)`, `qt_gsets(a, b, c)`: 6 string rows;
    *  - `qt_part`: 26 rows of tpch part's 9 columns (the multi-row
    *    scalar-subquery refusal needs ≥2);
    *  - `qt_kv9a(key decimal(10,5), value int)`: 8 rows.
    * Any reference-backed `qt_` view the clone inherits is dropped, so
    * the stand-ins are all that answers here, reference or not. With the
    * reference present, each stand-in's schema must equal its
    * [[fixtures]] view's.
    */
  lazy val standIns: SparkSession = {
    val s = org.apache.spark.sql.GraftShims.cloneSession(SparkSpec.session)
    Engine.configure(s)
    s.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("qt_"))
      .foreach(t => s.catalog.dropTempView(t.name))
    val i = col("id")
    def str(c: org.apache.spark.sql.Column) = c.cast("string")
    val key = str(i * 7 % 310)
    val src = s.range(500)
      .select(key.as("key"), concat(lit("val_"), key).as("value"))
    val src1 = s.range(25).select(
      when(i % 5 === 4, lit("")).otherwise(key).as("key"),
      when(i % 5 === 2, lit("")).otherwise(concat(lit("val_"), key))
        .as("value"))
    val t1 = s.range(6).select(str(i + 1).as("key"), str(i + 11).as("val"))
    val t2 = s.range(6).select(str(i + 2).as("key"), str(i + 12).as("val"))
    val gsets = s.range(6)
      .select(str(i % 3 + 1).as("a"), str(i % 2 + 1).as("b"),
        str(i + 1).as("c"))
    val part = s.range(26).select(
      (i + 1).cast("int").as("p_partkey"),
      concat(lit("part "), str(i)).as("p_name"),
      concat(lit("Manufacturer#"), str(i % 5 + 1)).as("p_mfgr"),
      concat(lit("Brand#"), str(i % 5 + 1), str(i % 4 + 1)).as("p_brand"),
      element_at(array(lit("PROMO BRUSHED STEEL"),
        lit("STANDARD POLISHED TIN"), lit("LARGE ANODIZED BRASS")),
        (i % 3 + 1).cast("int")).as("p_type"),
      (i * 7 % 50 + 1).cast("int").as("p_size"),
      element_at(array(lit("SM CASE"), lit("JUMBO BOX")),
        (i % 2 + 1).cast("int")).as("p_container"),
      (i * 10.5 + 900).cast("double").as("p_retailprice"),
      concat(lit("comment "), str(i)).as("p_comment"))
    val kv9a = s.range(8).select(
      (i / 8 - 2.5).cast("decimal(10,5)").as("key"),
      i.cast("int").as("value"))
    val all = Map("qt_src" -> src, "qt_src1" -> src1,
      "qt_srcpart" -> partitioned(src), "qt_t1" -> t1, "qt_t2" -> t2,
      "qt_gsets" -> gsets, "qt_part" -> part, "qt_kv9a" -> kv9a)
    materialize(s, java.nio.file.Files
      .createTempDirectory("graft_qtest_standin_").toString, all)
    if (haveRef) {
      fixtures // the reference-backed views, in SparkSpec's session
      all.keys.foreach { name =>
        val (got, want) = (s.table(name).schema, spark.table(name).schema)
        require(got == want,
          s"stand-in $name drifted from its fixture: $got vs $want")
      }
    }
    s
  }

}

/** Machinery for a qtest conformance family spec: declare `qcases`, call
  * `run(<file prefixes>)` per test. Results gate cell-by-cell against
  * DuckDB running the twin over the same parquet (one batched python
  * process per spec class), with the optional transcribed-.q.out third
  * leg. See QtestConformanceSpec's doc for the porting rules.
  */
trait QtestHarness extends SparkSpec {

  import QtestHarness.{python, haveRef, fixtures}

  protected def qcases: Seq[QCase]

  // --------------------------------------------------------- machinery

  private val TsFraction =
    """(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2})(\.\d*?)0*$""".r

  /** Canonical cell: numerics via BigDecimal (strips rendering noise),
    * booleans lowercased, NULL marker passed through; timestamp strings
    * drop trailing fraction zeros (Spark renders `.5`, DuckDB `.500000`).
    */
  protected def canon(s: String): String =
    if (s == "NULL") s
    else if (s == "True" || s == "False") s.toLowerCase
    else try BigDecimal(s).underlying.stripTrailingZeros.toPlainString
    catch {
      case _: NumberFormatException => s match {
        case TsFraction(whole, frac) =>
          whole + (if (frac == ".") "" else frac)
        case other => other
      }
    }

  protected def cellEq(a: String, b: String): Boolean =
    a == b || {
      try {
        val (x, y) = (BigDecimal(a), BigDecimal(b))
        (x - y).abs <= BigDecimal(1e-6) * (x.abs.max(y.abs).max(1))
      } catch { case _: NumberFormatException => false }
    }

  protected def sparkRows(sql: String): Seq[Seq[String]] =
    Engine.sql(spark, sfDir, sql).collect().toSeq.map(_.toSeq.map {
      case null => "NULL"
      case v => canon(v.toString)
    })

  private lazy val duckResults: Map[String, Either[String, Seq[Seq[String]]]] = {
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    val spec = jackson.Serialization.write(Map(
      "tables" -> fixtures,
      "queries" -> qcases.filterNot(_.hiveOnly)
        .map(c => c.name -> c.duck.getOrElse(c.spark)).toMap))
    val proc = new ProcessBuilder(python.get, "tools/qtest_oracle.py").start()
    proc.getOutputStream.write(spec.getBytes("UTF-8"))
    proc.getOutputStream.close()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    val err = new String(proc.getErrorStream.readAllBytes(), "UTF-8")
    require(proc.waitFor() == 0, s"qtest_oracle.py failed: $err")
    jackson.JsonMethods.parse(out) match {
      case JObject(fields) => fields.map {
        case (name, JArray(rows)) => name -> Right(rows.map {
          case JArray(cells) => cells.map {
            case JString(s) => canon(s)
            case other => canon(other.values.toString)
          }
          case other => sys.error(s"unexpected row shape: $other")
        })
        case (name, obj) => name ->
          Left((obj \ "error").extractOpt[String].getOrElse(obj.toString))
      }.toMap
      case other => sys.error(s"unexpected oracle output: $other")
    }
  }

  protected def run(family: String*): Unit = {
    assume(haveRef, "/root/reference fixture data not present")
    assume(python.isDefined, "python3 + duckdb not available")
    fixtures // force
    qcases.filter(c => family.exists(c.file.startsWith)).foreach { c =>
      withClue(s"[${c.file} ${c.name}] ${c.note}\n  spark: ${c.spark}\n") {
        // ORDER BY cases compare in sequence; everything else sorted
        def arrange(rows: Seq[Seq[String]]): Seq[Seq[String]] =
          if (c.ordered) rows else rows.sortBy(_.mkString(""))
        val got = arrange(sparkRows(c.spark))
        if (!c.hiveOnly) {
          val want = duckResults(c.name) match {
            case Left(err) => fail(s"DuckDB rejected the twin: $err")
            case Right(rows) => arrange(rows)
          }
          assert(got.size === want.size,
            s"row count: spark=${got.size} duck=${want.size}")
          got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
            assert(g.size === w.size, s"row $i arity")
            g.zip(w).foreach { case (a, b) =>
              assert(cellEq(a, b), s"row $i: spark=$g duck=$w")
            }
          }
        }
        c.hive.foreach { exp =>
          val h = exp.map(canon)
          assert(got.size === 1 && got.head.size === h.size,
            s"hive-expected shape: got=$got")
          got.head.zip(h).foreach { case (a, b) =>
            assert(cellEq(a, b), s"vs reference .q.out: spark=${got.head} " +
              s"hive=$h")
          }
        }
      }
    }
  }
}
