package graft

/** Conformance wave 16c: partition/table DDL — ref ql/src/test/queries/
  * clientpositive/drop_partitions_filter.q (expected partition lists
  * from results/clientpositive/llap/drop_partitions_filter.q.out),
  * rename_table.q, escape1.q. Stateful DDL, so these run outside
  * [[QtestHarness]] (they exercise the catalog, not a SELECT's rows).
  *
  * Wave finding (front-door [[graft.plans.PartitionDdl]]): Hive's DROP
  * PARTITION accepts COMPARATOR specs — `(c='US', d<'2')`,
  * `(c>='US', d<='2')`, `(c != 'France')`, multiple PARTITION groups in
  * one statement — where Spark's parser only accepts equality.
  */
class QtestPartitionDdlSpec extends SparkSpec {

  import QtestHarness.haveRef

  private def parts(t: String): Seq[String] =
    Engine.sql(spark, sfDir, s"show partitions $t")
      .collect().map(_.getString(0)).sorted.toSeq

  private def withTable(names: String*)(body: => Unit): Unit =
    try body
    finally names.foreach(n =>
      Engine.sql(spark, sfDir, s"DROP TABLE IF EXISTS $n"))

  test("drop_partitions_filter.q: comparator and multi-group DROP " +
      "PARTITION resolve against the catalog (string comparison for " +
      "string partition columns)") {
    withTable("ptestfilter_n1") {
      Engine.sql(spark, sfDir, "DROP TABLE IF EXISTS ptestfilter_n1")
      Engine.sql(spark, sfDir,
        "create table ptestfilter_n1 (a string, b int) " +
          "partitioned by (c string, d string)")
      Seq(("US", 1), ("US", 2), ("Uganda", 2), ("Germany", 2),
        ("Canada", 3), ("Russia", 3), ("Greece", 2), ("India", 3),
        ("France", 4)).foreach { case (c, d) =>
        // mixed-case table spelling from the .q (ptestFilter_n1) works too
        Engine.sql(spark, sfDir,
          s"alter table ptestFilter_n1 add partition (c='$c', d=$d)")
      }
      assert(parts("ptestfilter_n1") === Seq("c=Canada/d=3", "c=France/d=4",
        "c=Germany/d=2", "c=Greece/d=2", "c=India/d=3", "c=Russia/d=3",
        "c=US/d=1", "c=US/d=2", "c=Uganda/d=2"))

      Engine.sql(spark, sfDir,
        "alter table ptestfilter_n1 drop partition (c='US', d<'2')")
      assert(parts("ptestfilter_n1") === Seq("c=Canada/d=3", "c=France/d=4",
        "c=Germany/d=2", "c=Greece/d=2", "c=India/d=3", "c=Russia/d=3",
        "c=US/d=2", "c=Uganda/d=2"))

      Engine.sql(spark, sfDir,
        "alter table ptestfilter_n1 drop partition (c>='US', d<='2')")
      assert(parts("ptestfilter_n1") === Seq("c=Canada/d=3", "c=France/d=4",
        "c=Germany/d=2", "c=Greece/d=2", "c=India/d=3", "c=Russia/d=3"))

      Engine.sql(spark, sfDir,
        "alter table ptestfilter_n1 drop partition (c >'India')")
      assert(parts("ptestfilter_n1") === Seq("c=Canada/d=3", "c=France/d=4",
        "c=Germany/d=2", "c=Greece/d=2", "c=India/d=3"))

      Engine.sql(spark, sfDir,
        "alter table ptestfilter_n1 drop partition (c >='India'),\n" +
          "                             partition (c='Greece', d='2')")
      assert(parts("ptestfilter_n1") === Seq("c=Canada/d=3", "c=France/d=4",
        "c=Germany/d=2"))

      Engine.sql(spark, sfDir,
        "alter table ptestfilter_n1 drop partition (c != 'France')")
      assert(parts("ptestfilter_n1") === Seq("c=France/d=4"))

      // equality partial spec with no match: silent no-op (Spark-native)
      Engine.sql(spark, sfDir,
        "alter table ptestfilter_n1 drop if exists partition (c='US')")
      assert(parts("ptestfilter_n1") === Seq("c=France/d=4"))
    }
  }

  test("comparator drops over NUMERIC-looking values compare numerically " +
      "(9 < 10), not lexicographically ('10' < '9')") {
    withTable("ptestnum") {
      Engine.sql(spark, sfDir, "DROP TABLE IF EXISTS ptestnum")
      Engine.sql(spark, sfDir,
        "create table ptestnum (a string) partitioned by (d int)")
      Seq(9, 10, 11).foreach(d => Engine.sql(spark, sfDir,
        s"alter table ptestnum add partition (d=$d)"))
      Engine.sql(spark, sfDir,
        "alter table ptestnum drop partition (d < 10)")
      assert(parts("ptestnum") === Seq("d=10", "d=11"))
      Engine.sql(spark, sfDir,
        "alter table ptestnum drop partition (d >= '11')")
      assert(parts("ptestnum") === Seq("d=10"))
    }
  }

  test("rename_table.q: ALTER TABLE RENAME TO keeps rows; SHOW TABLES " +
      "LIKE pattern-matches the new name") {
    withTable("kv_rename_src", "kv_rename_dst") {
      Engine.sql(spark, sfDir, "DROP TABLE IF EXISTS kv_rename_src")
      Engine.sql(spark, sfDir, "DROP TABLE IF EXISTS kv_rename_dst")
      Engine.sql(spark, sfDir,
        "create table kv_rename_src as select 1 AS k, 'v' AS v")
      Engine.sql(spark, sfDir,
        "alter table kv_rename_src rename to kv_rename_dst")
      val names = Engine.sql(spark, sfDir, "show tables like 'kv_rename_*'")
        .collect().map(_.getString(0)).sorted.toSeq // tab_name (r17 shape)
      assert(names === Seq("kv_rename_dst"))
      assert(Engine.sql(spark, sfDir, "select k from kv_rename_dst")
        .head.getInt(0) === 1)
    }
  }

  test("alter_partition_coltype.q: partition-key type evolution is " +
      "metadata-only — existing partitions stay valid and predicates " +
      "coerce under the new type (counts pinned to the .q.out)") {
    assume(haveRef); QtestHarness.fixtures
    withTable("alter_coltype") {
      Engine.sql(spark, sfDir, "DROP TABLE IF EXISTS alter_coltype")
      Engine.sql(spark, sfDir,
        "create table alter_coltype(key string, value string) " +
          "partitioned by (dt string, ts string)")
      def n(pred: String): Long = Engine.sql(spark, sfDir,
        s"select count(*) from alter_coltype where $pred").head.getLong(0)
      // the parquet-backed qt_src1 view keeps 21 of kv3's 25 lines (the
      // blank-key lines drop in the CSV read — harmless to the two-
      // engines-same-parquet gate); counts here are RELATIVE to it, the
      // .q.out's 25/50/25 sequence scaled
      val rows = spark.table("qt_src1").count()
      Engine.sql(spark, sfDir,
        "insert overwrite table alter_coltype partition(dt='100', " +
          "ts='6.30') select * from qt_src1")
      assert(n("dt = '100'") === rows)
      // retype dt to INT: the '100' partition keeps matching
      Engine.sql(spark, sfDir,
        "alter table alter_coltype partition column (dt int)")
      Engine.sql(spark, sfDir,
        "insert overwrite table alter_coltype partition(dt=100, " +
          "ts='3.0') select * from qt_src1")
      assert(n("dt = '100'") === 2 * rows)
      // retype ts to DOUBLE (and dt back to string): '6.30' matches the
      // 6.3 double partition; the dt=100/ts=3.0 overwrite replaces the
      // earlier ts='3.0' partition (same typed value)
      Engine.sql(spark, sfDir,
        "alter table alter_coltype partition column (ts double)")
      Engine.sql(spark, sfDir,
        "alter table alter_coltype partition column (dt string)")
      Engine.sql(spark, sfDir,
        "insert overwrite table alter_coltype partition(dt='100', " +
          "ts=3.0) select * from qt_src1")
      assert(n("ts = '6.30'") === rows)
      assert(n("ts = 3.0 and dt = 100") === rows)
      assert(n("dt = '100'") === 2 * rows)
      // misuse refuses: not a partition column
      val e = intercept[Exception] { Engine.sql(spark, sfDir,
        "alter table alter_coltype partition column (key int)") }
      assert(e.getMessage.contains("not a partition column"), e.getMessage)
    }
  }

  test("PARTITION COLUMN retype on an in-repo table: predicates keep " +
      "matching, a data column refuses, and enforcement needs UPDATE") {
    withTable("pcol_retype") {
      def sql(q: String) = Engine.sql(spark, sfDir, q)
      sql("DROP TABLE IF EXISTS pcol_retype")
      sql("create table pcol_retype (key string, value string) " +
        "partitioned by (dt string)")
      sql("insert into pcol_retype partition (dt='100') " +
        "values ('1', 'a'), ('2', 'b'), ('3', 'c')")
      def n(pred: String): Long =
        sql(s"select count(*) from pcol_retype where $pred").head.getLong(0)
      assert(n("dt = '100'") === 3)
      sql("alter table pcol_retype partition column (dt int)")
      assert(spark.table("pcol_retype").schema("dt").dataType ===
        org.apache.spark.sql.types.IntegerType)
      assert(n("dt = 100") === 3)
      assert(n("dt = '100'") === 3)
      val e = intercept[IllegalArgumentException] {
        sql("alter table pcol_retype partition column (key int)") }
      assert(e.getMessage.contains("not a partition column"), e.getMessage)
      try {
        spark.conf.set("spark.graft.authz.enabled", "true")
        spark.conf.set("spark.graft.authz.admins", "pcol_admin")
        spark.conf.set("spark.graft.user", "pcol_user")
        intercept[graft.plans.Authz.AccessDenied] {
          sql("alter table pcol_retype partition column (dt string)") }
        assert(spark.table("pcol_retype").schema("dt").dataType ===
          org.apache.spark.sql.types.IntegerType)
        graft.plans.Authz.grant("pcol_retype", graft.plans.Authz.User("pcol_user"),
          Seq("update"))
        sql("alter table pcol_retype partition column (dt string)")
        assert(spark.table("pcol_retype").schema("dt").dataType ===
          org.apache.spark.sql.types.StringType)
      } finally {
        Seq("spark.graft.authz.enabled", "spark.graft.authz.admins",
          "spark.graft.user").foreach(spark.conf.unset)
        graft.plans.Authz.clearAll()
      }
    }
  }

  test("escape1.q: dynamic-partition INSERT of special-character values " +
      "escapes directory names; partial-spec DROP PARTITION clears them") {
    assume(haveRef)
    withTable("escape1_t") {
      Engine.sql(spark, sfDir, "DROP TABLE IF EXISTS escape1_t")
      val raw0 = spark.read.text(QtestHarness.refData + "/escapetest.txt")
        .withColumnRenamed("value", "s")
      assert(raw0.count() === 102L) // escape1.q.out: count from escape_raw
      // KNOWN DIVERGENCE, pinned: Hive escapes NUL partition values to
      // %00 (escape1.q.out shows ds=1/part=%00); Spark's
      // ExternalCatalogUtils.escapePathName escape set starts at \u0001,
      // so a \u0000 value reaches the filesystem raw and the write
      // fails. The remaining 101 values (control chars, %, quotes,
      // spaces...) round-trip identically to the reference.
      val raw = raw0.where(
        org.apache.spark.sql.functions.col("s") =!= "\u0000")
      raw.createOrReplaceTempView("escape_raw_v")
      val n = raw.count()
      assert(n === 101L)
      Engine.sql(spark, sfDir,
        "create table escape1_t (a string) " +
          "partitioned by (ds string, part string)")
      Engine.sql(spark, sfDir,
        "insert overwrite table escape1_t partition (ds='1', part) " +
          "select '1', s from escape_raw_v")
      assert(Engine.sql(spark, sfDir, "select count(*) from escape1_t")
        .head.getLong(0) === n)
      val ps = parts("escape1_t")
      assert(ps.forall(_.startsWith("ds=1/part=")))
      // '!' and '$' land literal; '%' and control chars escape to %XX
      // (the reference's SHOW PARTITIONS shows part=!, part=$, part=%00…)
      assert(ps.exists(_.endsWith("part=!")), ps.take(8).toString)
      assert(ps.exists(_.endsWith("part=%25")), "expected %% escaped")
      // partial-spec drop removes every partition under ds=1
      Engine.sql(spark, sfDir,
        "alter table escape1_t drop partition (ds='1')")
      assert(parts("escape1_t").isEmpty)
    }
  }
}
