package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.{Engine, SparkSpec}

/** SQL-statement DML (UPDATE/DELETE/MERGE/INSERT as SQL text) and
  * catalog-name table resolution.
  */
class SqlDmlSpec extends SparkSpec {

  private def scratch(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def items(lo: Int, hi: Int) = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, s"name$i", i * 10.0, i % 4)).toDF("id", "name", "price", "k")
  }

  private def sql(q: String) = Engine.sql(spark, sfDir, q)

  test("UPDATE and DELETE over a parquet path table via SQL text") {
    val path = scratch("graft_sqldml_")
    items(0, 100).write.parquet(path)
    sql(s"UPDATE parquet.`$path` SET price = price * 2 WHERE id < 10")
    sql(s"DELETE FROM parquet.`$path` WHERE id >= 90")
    val t = spark.read.parquet(path)
    assert(t.count() === 90)
    assert(t.filter(col("id") === 5).head.getDouble(2) === 100.0)
    assert(t.filter(col("id") === 50).head.getDouble(2) === 500.0)
  }

  test("DML statements accept alias-qualified references and bare names") {
    val path = scratch("graft_sqldml_")
    items(0, 20).write.parquet(path)
    NamedTables.registerPath("sqldml_ptab", path)
    sql("UPDATE sqldml_ptab SET price = sqldml_ptab.price + 1 WHERE sqldml_ptab.id = 3")
    assert(spark.read.parquet(path).filter(col("id") === 3).head.getDouble(2) === 31.0)
    // registered path names also resolve on the read path
    val n = sql("SELECT count(*) AS n FROM sqldml_ptab WHERE price >= 0").head.getLong(0)
    assert(n === 20)
  }

  test("snapshot tables: SQL UPDATE / DELETE / MERGE against a registered name") {
    val root = scratch("graft_sqldml_snap_")
    val t = Snapshots.create(spark, root, items(0, 100))
    NamedTables.registerSnapshot("sqldml_sales", root)

    sql("UPDATE sqldml_sales SET price = 0.0 WHERE k = 2")
    sql("DELETE FROM sqldml_sales WHERE id >= 80")
    import spark.implicits._
    items(70, 90).select($"id" + 1000, $"name", lit(7.5).as("price"), $"k")
      .toDF("id", "name", "price", "k")
      .createOrReplaceTempView("sqldml_src")
    sql(
      """MERGE INTO sqldml_sales AS t USING sqldml_src AS s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET price = s.price
        |WHEN NOT MATCHED THEN INSERT (id, name, price, k)
        |  VALUES (s.id, s.name, s.price, s.k)""".stripMargin)

    val cur = t.read()
    assert(cur.count() === 100, "80 kept + 20 inserted (ids 1070..1089)")
    assert(cur.filter($"k" === 2 && $"id" < 80 && $"id" =!= 1074 && $"id" =!= 1078)
      .agg(sum($"price")).head.getDouble(0) === 0.0)
    assert(cur.filter($"id" >= 1000).count() === 20)
    // time travel unaffected by the SQL-statement surface
    assert(t.readVersion(0).count() === 100)
    assert(t.readVersion(0).filter($"k" === 2).agg(sum($"price")).head.getDouble(0) > 0)
  }

  test("registered names read the CURRENT snapshot (late binding, not a frozen view)") {
    val root = scratch("graft_sqldml_snap_")
    Snapshots.create(spark, root, items(0, 10))
    NamedTables.registerSnapshot("sqldml_live", root)
    assert(sql("SELECT count(*) AS n FROM sqldml_live").head.getLong(0) === 10)
    sql("DELETE FROM sqldml_live WHERE id < 4")
    assert(sql("SELECT count(*) AS n FROM sqldml_live").head.getLong(0) === 6)
    // and the path-addressed form reads the same table
    assert(sql(s"SELECT count(*) AS n FROM snapshot.`$root`").head.getLong(0) === 6)
  }

  test("INSERT INTO and INSERT OVERWRITE a named snapshot table") {
    val root = scratch("graft_sqldml_snap_")
    val t = Snapshots.create(spark, root, items(0, 10))
    NamedTables.registerSnapshot("sqldml_ins", root)
    sql("INSERT INTO sqldml_ins VALUES (100, 'x', 1.0, 0), (101, 'y', 2.0, 1)")
    assert(t.read().count() === 12)
    sql("INSERT OVERWRITE sqldml_ins SELECT id, name, price, k FROM sqldml_ins WHERE id >= 100")
    assert(t.read().count() === 2)
    assert(t.latest().version === 2L)
  }

  test("INSERT with an explicit column list fills unlisted columns with NULL") {
    val root = scratch("graft_sqldml_snap_")
    val t = Snapshots.create(spark, root, items(0, 5))
    NamedTables.registerSnapshot("sqldml_collist", root)
    sql("INSERT INTO sqldml_collist (id, price) VALUES (200, 9.5), (201, 8.5)")
    import spark.implicits._
    val ins = t.read().filter($"id" >= 200).orderBy($"id")
      .collect().map(r => (r.getLong(0), r.isNullAt(1), r.getDouble(2), r.isNullAt(3)))
    assert(ins.toSeq === Seq((200L, true, 9.5, true), (201L, true, 8.5, true)))
    // out-of-order lists are positional over the listed names
    sql("INSERT INTO sqldml_collist (price, id) VALUES (7.5, 202)")
    assert(t.read().filter($"id" === 202).head.getDouble(2) === 7.5)
    // unknown and duplicate columns are errors
    assertThrows[IllegalArgumentException](
      sql("INSERT INTO sqldml_collist (id, nope) VALUES (1, 2)"))
    assertThrows[IllegalArgumentException](
      sql("INSERT INTO sqldml_collist (id, id) VALUES (1, 2)"))
  }

  test("INSERT with static and dynamic PARTITION specs") {
    val root = scratch("graft_sqldml_snap_")
    val t = Snapshots.create(spark, root, items(0, 5),
      partitionBy = Seq("k"))
    NamedTables.registerSnapshot("sqldml_part", root)
    // static: k comes from the spec as a constant, query supplies the rest
    sql("""INSERT INTO sqldml_part PARTITION (k = 3)
          |VALUES (300, 'st', 1.5)""".stripMargin)
    import spark.implicits._
    assert(t.read().filter($"id" === 300).head.getInt(3) === 3)
    // static spec + column list: unlisted fill NULL, spec fills k
    sql("INSERT INTO sqldml_part PARTITION (k = 2) (id) VALUES (301)")
    val r301 = t.read().filter($"id" === 301).head
    assert(r301.isNullAt(1) && r301.isNullAt(2) && r301.getInt(3) === 2)
    // dynamic: the partition column trails the query output
    sql("""INSERT INTO sqldml_part PARTITION (k)
          |VALUES (302, 'dy', 2.5, 1)""".stripMargin)
    assert(t.read().filter($"id" === 302).head.getInt(3) === 1)
    // a column in both the list and a static spec is an error
    assertThrows[IllegalArgumentException](
      sql("INSERT INTO sqldml_part PARTITION (k = 1) (id, k) VALUES (1, 2)"))
  }

  test("MERGE: WHEN MATCHED THEN DELETE, no insert arm") {
    val root = scratch("graft_sqldml_snap_")
    val t = Snapshots.create(spark, root, items(0, 30))
    NamedTables.registerSnapshot("sqldml_del", root)
    import spark.implicits._
    Seq(1L, 2L, 3L, 999L).toDF("id").createOrReplaceTempView("sqldml_delsrc")
    sql(
      """MERGE INTO sqldml_del t USING sqldml_delsrc s ON t.id = s.id
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(t.read().count() === 27, "999 matches nothing and must not insert")
  }

  test("temp views shadow registered names on the read path") {
    val root = scratch("graft_sqldml_snap_")
    Snapshots.create(spark, root, items(0, 50))
    NamedTables.registerSnapshot("sqldml_shadow", root)
    import spark.implicits._
    Seq((1L, "v", 0.0, 0)).toDF("id", "name", "price", "k")
      .createOrReplaceTempView("sqldml_shadow")
    try assert(sql("SELECT count(*) AS n FROM sqldml_shadow").head.getLong(0) === 1)
    finally spark.catalog.dropTempView("sqldml_shadow")
    assert(sql("SELECT count(*) AS n FROM sqldml_shadow").head.getLong(0) === 50)
  }

  test("unsupported MERGE shapes fail with clear messages, not wrong answers") {
    val root = scratch("graft_sqldml_snap_")
    Snapshots.create(spark, root, items(0, 10))
    NamedTables.registerSnapshot("sqldml_err", root)
    import spark.implicits._
    Seq((1L, "v", 0.0, 0)).toDF("id", "name", "price", "k")
      .createOrReplaceTempView("sqldml_errsrc")
    def expectUnsupported(q: String, frag: String): Unit = {
      val e = intercept[UnsupportedOperationException](sql(q))
      assert(e.getMessage.contains(frag), s"message was: ${e.getMessage}")
    }
    expectUnsupported(
      """MERGE INTO sqldml_err t USING sqldml_errsrc s ON t.id < s.id
        |WHEN MATCHED THEN DELETE""".stripMargin,
      "AND-chain")
    expectUnsupported(
      """MERGE INTO sqldml_err t USING sqldml_errsrc s ON t.id = s.id
        |WHEN NOT MATCHED BY SOURCE AND s.price > 0 THEN DELETE""".stripMargin,
      "cannot reference the source")
  }

  test("MERGE with a composite ON key (AND-chain) updates and inserts") {
    import spark.implicits._
    val root = scratch("graft_sqldml_snap_")
    val t = Snapshots.create(spark, root,
      Seq((1L, 1, 10.0), (1L, 2, 20.0), (2L, 1, 30.0))
        .toDF("oid", "line", "amount"))
    NamedTables.drop("sqldml_ck")
    NamedTables.registerSnapshot("sqldml_ck", root)
    Seq((1L, 2, 99.0), (2L, 2, 42.0))
      .toDF("s_oid", "s_line", "s_amount").createOrReplaceTempView("sqldml_cksrc")
    sql(
      """MERGE INTO sqldml_ck t USING sqldml_cksrc s
        |ON t.oid = s.s_oid AND t.line = s.s_line
        |WHEN MATCHED THEN UPDATE SET amount = s.s_amount
        |WHEN NOT MATCHED THEN INSERT (oid, line, amount)
        |  VALUES (s.s_oid, s.s_line, s.s_amount)""".stripMargin)
    val got = t.read().orderBy("oid", "line")
      .as[(Long, Int, Double)].collect().toSeq
    assert(got === Seq((1L, 1, 10.0), (1L, 2, 99.0), (2L, 1, 30.0), (2L, 2, 42.0)))
  }

  test("MERGE NULL-key semantics: source NULL keys insert, no phantom row; COW == MOR") {
    import spark.implicits._
    def run(writeMode: String): Seq[(Option[Long], String)] = {
      val root = scratch("graft_sqldml_snap_")
      Snapshots.create(spark, root,
        Seq((Some(1L), "a"), (Some(2L), "b"), (None: Option[Long], "nullkey"))
          .toDF("id", "v"))
      val name = s"sqldml_nk_${writeMode.take(3)}"
      NamedTables.drop(name)
      NamedTables.registerSnapshot(name, root, writeMode)
      Seq((Some(2L), "B"), (None: Option[Long], "ghost"))
        .toDF("id", "v").createOrReplaceTempView("sqldml_nksrc")
      sql(
        s"""MERGE INTO $name t USING sqldml_nksrc s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      Snapshots.table(spark, root).read()
        .orderBy(col("id").asc_nulls_last, col("v"))
        .as[(Option[Long], String)].collect().toSeq
    }
    // NULL-key source row is NOT MATCHED -> inserts its values ("ghost");
    // the NULL-key target row is untouched; no phantom all-NULL row appears
    val expected = Seq((Some(1L), "a"), (Some(2L), "B"),
      (None, "ghost"), (None, "nullkey"))
    assert(run(NamedTables.WriteCow) === expected)
    assert(run(NamedTables.WriteMor) === expected, "MOR must agree with COW")
  }

  test("MERGE NULL-key target rows are in scope for NOT MATCHED BY SOURCE") {
    import spark.implicits._
    val root = scratch("graft_sqldml_snap_")
    val t = Snapshots.create(spark, root,
      Seq((Some(1L), "a"), (None: Option[Long], "stale"))
        .toDF("id", "v"))
    NamedTables.drop("sqldml_nkt")
    NamedTables.registerSnapshot("sqldml_nkt", root)
    Seq(Some(1L)).toDF("id").createOrReplaceTempView("sqldml_nktsrc")
    sql(
      """MERGE INTO sqldml_nkt t USING sqldml_nktsrc s ON t.id = s.id
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    // the NULL-keyed target row matched nothing -> NMBS DELETE removes it
    assert(t.read().as[(Option[Long], String)].collect().toSeq ===
      Seq((Some(1L), "a")))
  }

  test("MERGE partial INSERT column list fills unassigned columns with NULL") {
    import spark.implicits._
    val root = scratch("graft_sqldml_snap_")
    val t = Snapshots.create(spark, root, items(0, 3))
    NamedTables.drop("sqldml_pins")
    NamedTables.registerSnapshot("sqldml_pins", root)
    Seq((7L, "seven")).toDF("id", "name").createOrReplaceTempView("sqldml_pinsrc")
    sql(
      """MERGE INTO sqldml_pins t USING sqldml_pinsrc s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT (id, name) VALUES (s.id, s.name)""".stripMargin)
    val row = t.read().filter(col("id") === 7L).head
    assert(row.getString(1) === "seven")
    assert(row.isNullAt(2) && row.isNullAt(3), "unassigned columns are NULL")
  }

  test("insert-only MERGE tolerates duplicate matched source keys (no spurious guard)") {
    import spark.implicits._
    val root = scratch("graft_sqldml_snap_")
    val t = Snapshots.create(spark, root, items(0, 5))
    NamedTables.drop("sqldml_dup")
    NamedTables.registerSnapshot("sqldml_dup", root)
    // two source rows with key 1 (matched: don't insert), two with key 9
    // (unmatched: both insert) — no matched arm, so no cardinality guard
    Seq((1L, "x", 0.0, 0), (1L, "y", 0.0, 0), (9L, "p", 1.0, 1), (9L, "q", 2.0, 1))
      .toDF("id", "name", "price", "k").createOrReplaceTempView("sqldml_dupsrc")
    sql(
      """MERGE INTO sqldml_dup t USING sqldml_dupsrc s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = t.read()
    assert(got.count() === 7, "5 original + 2 inserted for unmatched key 9")
    assert(got.filter(col("id") === 9L).count() === 2)
  }

  test("MERGE matched-arm source references bind to real source columns, not insert projections") {
    import spark.implicits._
    val root = scratch("graft_sqldml_snap_")
    val t = Snapshots.create(spark, root, items(0, 3))
    NamedTables.drop("sqldml_bind")
    NamedTables.registerSnapshot("sqldml_bind", root)
    // the insert list assigns target `name` from source `other`; a matched
    // arm referencing s.name must still see the REAL source column `name`
    Seq((1L, "realname", "othername", 5.0, 9))
      .toDF("id", "name", "other", "price", "k")
      .createOrReplaceTempView("sqldml_bindsrc")
    sql(
      """MERGE INTO sqldml_bind t USING sqldml_bindsrc s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET name = s.name
        |WHEN NOT MATCHED THEN INSERT (id, name, price, k)
        |  VALUES (s.id, s.other, s.price, s.k)""".stripMargin)
    assert(t.read().filter(col("id") === 1L).head.getString(1) === "realname")
  }

  test("MERGE with conditional multi-arm WHEN MATCHED: first arm wins") {
    val root = scratch("graft_sqldml_snap_")
    val t = Snapshots.create(spark, root, items(0, 40))
    NamedTables.registerSnapshot("sqldml_arms", root)
    import spark.implicits._
    // source rows matching ids 0..19; arm order decides: k=0 deletes,
    // k=1 zeroes the price, everything else doubles it
    items(0, 20).select($"id", $"k".as("sk")).createOrReplaceTempView("sqldml_armsrc")
    sql(
      """MERGE INTO sqldml_arms t USING sqldml_armsrc s ON t.id = s.id
        |WHEN MATCHED AND t.k = 0 THEN DELETE
        |WHEN MATCHED AND t.k = 1 THEN UPDATE SET price = 0.0
        |WHEN MATCHED THEN UPDATE SET price = t.price * 2""".stripMargin)
    val got = t.read()
    assert(got.count() === 35, "5 rows with k=0 among ids 0..19 deleted")
    assert(got.filter($"id" < 20 && $"k" === 1).agg(sum($"price")).head.getDouble(0) === 0.0)
    // k=2,3 among ids<20 doubled; untouched beyond
    assert(got.filter($"id" === 2).head.getDouble(2) === 40.0)
    assert(got.filter($"id" === 3).head.getDouble(2) === 30.0 * 2)
    assert(got.filter($"id" === 25).head.getDouble(2) === 250.0)
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE deletes/updates unmatched target rows") {
    val root = scratch("graft_sqldml_snap_")
    val t = Snapshots.create(spark, root, items(0, 30))
    NamedTables.registerSnapshot("sqldml_nmbs", root)
    import spark.implicits._
    (0 until 10).map(i => i.toLong).toDF("id").createOrReplaceTempView("sqldml_nmbsrc")
    // sync-to-source: keep matched rows, age out unmatched ones
    sql(
      """MERGE INTO sqldml_nmbs t USING sqldml_nmbsrc s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET price = t.price + 1
        |WHEN NOT MATCHED BY SOURCE AND t.k = 3 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET name = 'stale'""".stripMargin)
    val got = t.read()
    assert(got.filter($"id" < 10).count() === 10, "matched rows kept")
    assert(got.filter($"id" === 5).head.getDouble(2) === 51.0, "matched updated")
    assert(got.filter($"id" >= 10 && $"k" === 3).count() === 0, "k=3 stale deleted")
    assert(got.filter($"name" === "stale").count() === got.filter($"id" >= 10).count())
  }

  test("MERGE conditional INSERT arm filters which source rows insert") {
    val root = scratch("graft_sqldml_snap_")
    val t = Snapshots.create(spark, root, items(0, 10))
    NamedTables.registerSnapshot("sqldml_cins", root)
    import spark.implicits._
    items(5, 25).createOrReplaceTempView("sqldml_cinsrc")
    sql(
      """MERGE INTO sqldml_cins t USING sqldml_cinsrc s ON t.id = s.id
        |WHEN NOT MATCHED AND s.k = 2 THEN INSERT (id, name, price, k)
        |  VALUES (s.id, s.name, s.price, s.k)""".stripMargin)
    val got = t.read()
    // ids 10..24 with k=2: 10,14,18,22
    assert(got.count() === 10 + 4)
    assert(got.filter($"id" >= 10).select("k").distinct().head.getInt(0) === 2)
  }

  test("MERGE with multiple ordered WHEN NOT MATCHED arms: first arm wins") {
    val root = scratch("graft_sqldml_snap_")
    val t = Snapshots.create(spark, root, items(0, 10))
    NamedTables.registerSnapshot("sqldml_mins", root)
    import spark.implicits._
    items(5, 25).createOrReplaceTempView("sqldml_minsrc")
    sql(
      """MERGE INTO sqldml_mins t USING sqldml_minsrc s ON t.id = s.id
        |WHEN NOT MATCHED AND s.k = 2 THEN INSERT (id, name, price, k)
        |  VALUES (s.id, 'bucket2', s.price, s.k)
        |WHEN NOT MATCHED AND s.k IN (2, 3) THEN INSERT (id, name, price, k)
        |  VALUES (s.id, 'bucket3', s.price, s.k)""".stripMargin)
    val got = t.read()
    // unmatched ids 10..24: k=2 -> 10,14,18,22 (arm 1); k=3 -> 11,15,19,23
    // (arm 2 — arm 1's condition also overlaps k IN (2,3) but arm ORDER
    // decides); k=0,1 rows match no arm and drop
    assert(got.count() === 10 + 8)
    assert(got.filter($"name" === "bucket2").count() === 4)
    assert(got.filter($"name" === "bucket3").count() === 4)
    assert(got.filter($"name" === "bucket3" && $"k" === 2).count() === 0,
      "a k=2 row must take the FIRST matching arm")
  }

  test("VERSION AS OF / TIMESTAMP AS OF time travel on a named snapshot table") {
    val root = scratch("graft_sqldml_snap_")
    val t = Snapshots.create(spark, root, items(0, 40))
    NamedTables.registerSnapshot("sqldml_tt", root)
    val afterCreate = t.latest().timestampMs
    Thread.sleep(5)
    sql("DELETE FROM sqldml_tt WHERE id >= 20")
    assert(sql("SELECT count(*) AS n FROM sqldml_tt").head.getLong(0) === 20)
    assert(sql("SELECT count(*) AS n FROM sqldml_tt VERSION AS OF 0").head.getLong(0) === 40)
    assert(sql("SELECT count(*) AS n FROM sqldml_tt VERSION AS OF 1").head.getLong(0) === 20)
    val tsLit = java.time.Instant.ofEpochMilli(afterCreate)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString.replace('T', ' ')
    assert(sql(s"SELECT count(*) AS n FROM sqldml_tt TIMESTAMP AS OF '$tsLit'")
      .head.getLong(0) === 40)
    // joins across versions work in one statement
    val j = sql(
      """SELECT count(*) AS n FROM sqldml_tt cur
        |JOIN sqldml_tt VERSION AS OF 0 v0 ON cur.id = v0.id""".stripMargin)
    assert(j.head.getLong(0) === 20)
  }

  test("SHOW TABLES lists registered names alongside Spark's own") {
    val root = scratch("graft_sqldml_show_")
    Snapshots.create(spark, root, items(0, 3))
    NamedTables.registerSnapshot("sqldml_show_t", root)
    items(0, 3).createOrReplaceTempView("sqldml_show_v")
    val all = sql("SHOW TABLES").collect()
    // Hive's one-column tab_name shape (r17): name is column 0
    assert(all.map(_.getString(0)).contains("sqldml_show_t"))
    assert(all.map(_.getString(0)).contains("sqldml_show_v"))
    // LIKE pattern applies to registered names too
    val like = sql("SHOW TABLES LIKE 'sqldml_show_*'").collect().map(_.getString(0))
    assert(like.toSet === Set("sqldml_show_t", "sqldml_show_v"))
    assert(sql("SHOW TABLES LIKE 'zz_nothing*'").collect().isEmpty)
    NamedTables.drop("sqldml_show_t")
  }

  test("CTAS retry after a create/register half-failure attaches the orphan root") {
    val root = scratch("graft_sqldml_ctasretry_")
    // simulate the half-failure: the snapshot was created but the JVM died
    // before the name registration
    Snapshots.create(spark, root, items(0, 12))
    assert(NamedTables.get("sqldml_ctas_retry").isEmpty)
    // the retry (same statement) attaches instead of throwing, and does NOT
    // re-run the query (version stays 0 — no second write)
    items(0, 999).createOrReplaceTempView("sqldml_ctas_retry_src")
    sql(s"""CREATE TABLE sqldml_ctas_retry USING snapshot LOCATION '$root'
           |AS SELECT * FROM sqldml_ctas_retry_src""".stripMargin)
    assert(sql("SELECT count(*) AS n FROM sqldml_ctas_retry").head.getLong(0) === 12)
    assert(Snapshots.table(spark, root).latest().version === 0L)
    NamedTables.drop("sqldml_ctas_retry")
  }

  test("CREATE TABLE / CTAS / DROP TABLE USING snapshot from SQL") {
    val root = scratch("graft_sqldml_ddl_")
    items(0, 30).createOrReplaceTempView("sqldml_ctas_src")
    // CTAS creates the log and registers the name
    sql(s"""CREATE TABLE sqldml_ctas USING snapshot LOCATION '$root'
           |AS SELECT id, name, price, k FROM sqldml_ctas_src""".stripMargin)
    assert(sql("SELECT count(*) AS n FROM sqldml_ctas").head.getLong(0) === 30)
    assert(Snapshots.table(spark, root).latest().version === 0L)
    // IF NOT EXISTS on an existing table is a no-op
    sql(s"CREATE TABLE IF NOT EXISTS sqldml_ctas USING snapshot LOCATION '$root' AS SELECT * FROM sqldml_ctas_src")
    assert(sql("SELECT count(*) AS n FROM sqldml_ctas").head.getLong(0) === 30)
    intercept[IllegalStateException](
      sql(s"CREATE TABLE sqldml_ctas USING snapshot LOCATION '$root' AS SELECT * FROM sqldml_ctas_src"))
    // DROP unregisters the name; the data stays (external-table semantics)
    sql("DROP TABLE sqldml_ctas")
    assert(NamedTables.get("sqldml_ctas").isEmpty)
    // CREATE TABLE attaches an existing root back under a (new) name
    sql(s"CREATE TABLE sqldml_attached USING snapshot LOCATION '$root'")
    assert(sql("SELECT count(*) AS n FROM sqldml_attached").head.getLong(0) === 30)
    // CREATE TABLE with a column list creates an empty, writable table
    val root2 = scratch("graft_sqldml_ddl_")
    sql(s"""CREATE TABLE sqldml_fresh (id BIGINT, v STRING)
           |USING snapshot LOCATION '$root2'""".stripMargin)
    assert(sql("SELECT count(*) AS n FROM sqldml_fresh").head.getLong(0) === 0)
    sql("INSERT INTO sqldml_fresh VALUES (1, 'a'), (2, 'b')")
    assert(sql("SELECT count(*) AS n FROM sqldml_fresh").head.getLong(0) === 2)
  }

  test("write.mode='merge-on-read': SQL UPDATE/DELETE write sidecars, not rewrites") {
    val root = scratch("graft_sqldml_mor_")
    import spark.implicits._
    items(0, 50).createOrReplaceTempView("sqldml_morsrc")
    sql(s"""CREATE TABLE sqldml_mor USING snapshot LOCATION '$root'
           |TBLPROPERTIES ('write.mode'='merge-on-read')
           |AS SELECT * FROM sqldml_morsrc""".stripMargin)
    val t = Snapshots.table(spark, root)
    val before = t.latest()
    sql("DELETE FROM sqldml_mor WHERE id < 10")
    val afterDelete = t.latest()
    assert(afterDelete.action === "delete-mor")
    assert(afterDelete.files === before.files, "MOR delete must not rewrite data files")
    assert(afterDelete.deletes.nonEmpty)
    sql("UPDATE sqldml_mor SET price = 0.0 WHERE id >= 40")
    assert(t.latest().action === "update-mor")
    // simple upsert MERGE routes to the MOR planner too
    items(30, 35).createOrReplaceTempView("sqldml_mor_mergesrc")
    sql(
      """MERGE INTO sqldml_mor t USING sqldml_mor_mergesrc s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET name = s.name
        |WHEN NOT MATCHED THEN INSERT * """.stripMargin)
    assert(t.latest().action === "merge-mor")
    assert(sql("SELECT count(*) AS n FROM sqldml_mor").head.getLong(0) === 40)
    assert(sql("SELECT sum(price) AS s FROM sqldml_mor WHERE id >= 40").head.getDouble(0) === 0.0)
    // a bad write.mode value errors clearly
    val e = intercept[IllegalArgumentException](
      sql(s"CREATE TABLE sqldml_badmode (id BIGINT) USING snapshot LOCATION '${scratch("x_")}' TBLPROPERTIES ('write.mode'='sideways')"))
    assert(e.getMessage.contains("write.mode"))
  }

  test("ALTER TABLE ADD COLUMNS evolves a named snapshot table from SQL") {
    val root = scratch("graft_sqldml_snap_")
    val t = Snapshots.create(spark, root, items(0, 10))
    NamedTables.registerSnapshot("sqldml_evolve", root)
    sql("ALTER TABLE sqldml_evolve ADD COLUMNS (extra DOUBLE, tag STRING)")
    val got = sql("SELECT * FROM sqldml_evolve")
    assert(got.columns.toSeq === Seq("id", "name", "price", "k", "extra", "tag"))
    assert(got.filter(col("extra").isNull).count() === 10, "pre-evolution rows read NULL")
    sql("INSERT INTO sqldml_evolve VALUES (100, 'n', 1.0, 0, 2.5, 'x')")
    assert(sql("SELECT count(*) AS n FROM sqldml_evolve WHERE tag = 'x'").head.getLong(0) === 1)
    assert(t.latest().version === 2L)
  }

  test("ALTER TABLE RENAME/DROP COLUMN + TRUNCATE on a named snapshot table") {
    val root = scratch("graft_sqldml_snap_")
    Snapshots.create(spark, root, items(0, 20))
    NamedTables.registerSnapshot("sqldml_evo2", root)
    sql("ALTER TABLE sqldml_evo2 RENAME COLUMN name TO title")
    val got = sql("SELECT * FROM sqldml_evo2")
    assert(got.columns.toSeq === Seq("id", "title", "price", "k"))
    assert(sql("SELECT count(*) AS n FROM sqldml_evo2 WHERE title = 'name7'")
      .head.getLong(0) === 1, "old files must serve the renamed column")
    sql("ALTER TABLE sqldml_evo2 DROP COLUMN price")
    assert(sql("SELECT * FROM sqldml_evo2").columns.toSeq === Seq("id", "title", "k"))
    // lossless type widening is metadata-only; old int files read as long
    sql("ALTER TABLE sqldml_evo2 ALTER COLUMN k TYPE BIGINT")
    val widened = sql("SELECT * FROM sqldml_evo2")
    assert(widened.schema("k").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(widened.filter(col("k") === 3L).count() === 5)
    intercept[IllegalArgumentException](
      sql("ALTER TABLE sqldml_evo2 ALTER COLUMN title TYPE INT"))
    // statements keep addressing the evolved schema
    sql("UPDATE sqldml_evo2 SET title = 'gone' WHERE id = 3")
    assert(sql("SELECT count(*) AS n FROM sqldml_evo2 WHERE title = 'gone'")
      .head.getLong(0) === 1)
    sql("TRUNCATE TABLE sqldml_evo2")
    assert(sql("SELECT count(*) AS n FROM sqldml_evo2").head.getLong(0) === 0)
  }

  test("ALTER TABLE RENAME TO moves a registered name; data stays put") {
    val root = scratch("graft_sqldml_snap_")
    Snapshots.create(spark, root, items(0, 10))
    NamedTables.registerSnapshot("sqldml_oldname", root)
    sql("ALTER TABLE sqldml_oldname RENAME TO sqldml_newname")
    assert(NamedTables.get("sqldml_oldname").isEmpty)
    assert(sql("SELECT count(*) AS n FROM sqldml_newname").head.getLong(0) === 10)
    NamedTables.drop("sqldml_newname")
  }

  test("SHOW PARTITIONS lists a partitioned snapshot table's specs from the manifest") {
    val root = scratch("graft_sqldml_snap_")
    Snapshots.create(spark, root, items(0, 40), partitionBy = Seq("k"))
    NamedTables.registerSnapshot("sqldml_parts", root)
    val parts = sql("SHOW PARTITIONS sqldml_parts")
    assert(parts.columns.toSeq === Seq("partition"))
    assert(parts.collect().map(_.getString(0)).toSeq === Seq("k=0", "k=1", "k=2", "k=3"))
    // non-partitioned tables refuse, like the reference
    val root2 = scratch("graft_sqldml_snap_")
    Snapshots.create(spark, root2, items(0, 5))
    NamedTables.registerSnapshot("sqldml_noparts", root2)
    intercept[IllegalArgumentException](sql("SHOW PARTITIONS sqldml_noparts"))
  }

  test("UPDATE assignments are simultaneous: SET a = b, b = a swaps") {
    import spark.implicits._
    // snapshot COW
    val root = scratch("graft_sqldml_swap_")
    val t = Snapshots.create(spark, root,
      Seq((1L, 10.0, 20.0), (2L, 30.0, 40.0)).toDF("id", "a", "b"))
    NamedTables.registerSnapshot("sqldml_swap", root)
    sql("UPDATE sqldml_swap SET a = b, b = a WHERE id = 1")
    val r = t.read().filter($"id" === 1).head
    assert(r.getDouble(1) === 20.0 && r.getDouble(2) === 10.0,
      "both assignments must read the pre-update row")
    // snapshot MOR
    NamedTables.registerSnapshot("sqldml_swapm", root, NamedTables.WriteMor)
    sql("UPDATE sqldml_swapm SET a = b, b = a WHERE id = 2")
    val r2 = t.read().filter($"id" === 2).head
    assert(r2.getDouble(1) === 40.0 && r2.getDouble(2) === 30.0)
    // parquet path table
    val path = scratch("graft_sqldml_swap_")
    Seq((1L, 1.0, 2.0)).toDF("id", "a", "b").write.parquet(path)
    sql(s"UPDATE parquet.`$path` SET a = b, b = a WHERE id = 1")
    val r3 = spark.read.parquet(path).head
    assert(r3.getDouble(1) === 2.0 && r3.getDouble(2) === 1.0)
    // assigning a nonexistent column fails loudly on every planner
    intercept[IllegalArgumentException](
      sql("UPDATE sqldml_swap SET nope = 1.0"))
    intercept[IllegalArgumentException](
      sql("UPDATE sqldml_swapm SET nope = 1.0"))
    intercept[IllegalArgumentException](
      sql(s"UPDATE parquet.`$path` SET nope = 1.0"))
  }

  test("INSERT INTO ... BY NAME matches columns by name, not position") {
    val root = scratch("graft_sqldml_snap_")
    val t = Snapshots.create(spark, root, items(0, 5))
    NamedTables.registerSnapshot("sqldml_byname", root)
    sql(
      """INSERT INTO sqldml_byname BY NAME
        |SELECT 7 AS k, 5.0 AS price, 'n' AS name, 900 AS id""".stripMargin)
    val r = sql("SELECT * FROM sqldml_byname WHERE id = 900").head
    assert(r.getString(1) === "n" && r.getDouble(2) === 5.0 && r.getInt(3) === 7)
    val e = intercept[IllegalArgumentException](sql(
      "INSERT INTO sqldml_byname BY NAME SELECT 1 AS id, 'x' AS name"))
    assert(e.getMessage.contains("missing column"))
  }

  test("INSERT OVERWRITE replaces a path table, preserving a partitioned layout") {
    val path = scratch("graft_sqldml_iow_")
    items(0, 40).write.partitionBy("k").parquet(path)
    NamedTables.registerPath("sqldml_iow", path)
    // self-referencing overwrite: keep only k=1 rows
    sql("INSERT OVERWRITE sqldml_iow SELECT id, name, price, k FROM sqldml_iow WHERE k = 1")
    assert(sql("SELECT count(*) AS n FROM sqldml_iow").head.getLong(0) === 10)
    // layout survived: partition pruning still applies on the read
    val dirs = new java.io.File(path).listFiles().map(_.getName).filter(_.startsWith("k="))
    assert(dirs.toSeq === Seq("k=1"), s"only k=1 must remain, got ${dirs.toSeq}")
    // appends after the overwrite land in their partitions
    sql("INSERT INTO sqldml_iow VALUES (500, 'x', 1.0, 2)")
    assert(sql("SELECT count(*) AS n FROM sqldml_iow WHERE k = 2").head.getLong(0) === 1)
  }

  test("graft_tables() lists registered names with format and write mode") {
    val root = scratch("graft_sqldml_snap_")
    Snapshots.create(spark, root, items(0, 5))
    NamedTables.registerSnapshot("sqldml_show", root, NamedTables.WriteMor)
    val rows = sql("SELECT name, format, write_mode FROM graft_tables() WHERE name = 'sqldml_show'")
      .collect()
    assert(rows.length === 1)
    assert(rows.head.getString(1) === "snapshot")
    assert(rows.head.getString(2) === "merge-on-read")
  }

  test("DESCRIBE TABLE works on registered names") {
    val root = scratch("graft_sqldml_snap_")
    Snapshots.create(spark, root, items(0, 10), partitionBy = Seq("k"))
    NamedTables.registerSnapshot("sqldml_desc", root)
    val rows = sql("DESCRIBE TABLE sqldml_desc").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(rows.take(4).map(_._1).toSeq === Seq("id", "name", "price", "k"))
    assert(rows.contains(("# Partition Information", "")))
    assert(rows.contains(("Format", "snapshot")))
    assert(rows.exists { case (k, v) => k == "Location" && v == root })
  }

  test("snapshot TVFs accept registered names: snapshot_history('name')") {
    val root = scratch("graft_sqldml_snap_")
    val t = Snapshots.create(spark, root, items(0, 10))
    t.append(items(10, 20))
    NamedTables.registerSnapshot("sqldml_tvfn", root)
    val h = sql("SELECT version, action FROM snapshot_history('sqldml_tvfn') ORDER BY version")
      .collect()
    assert(h.map(_.getString(1)).toSeq === Seq("create", "append"))
    assert(sql("SELECT count(*) AS n FROM snapshot_table('sqldml_tvfn', 0)").head.getLong(0) === 10)
    assert(sql("SELECT count(*) AS n FROM snapshot_changes('sqldml_tvfn', 0)").head.getLong(0) === 10)
  }

  test("UPDATE, DELETE and MERGE on a temp view refuse, naming the view") {
    items(0, 10).createOrReplaceTempView("sqldml_tmpview")
    try Seq(
      "DELETE FROM sqldml_tmpview WHERE id = 3",
      "UPDATE sqldml_tmpview SET price = 0 WHERE id = 3",
      "UPDATE sqldml_tmpview v SET price = 0 WHERE v.id = 3",
      "MERGE INTO sqldml_tmpview t USING sqldml_tmpview s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET price = s.price").foreach { q =>
      val e = intercept[UnsupportedOperationException](sql(q))
      assert(e.getMessage.contains("sqldml_tmpview"), e.getMessage)
      assert(e.getMessage.contains("is a view"), e.getMessage)
      assert(e.getMessage.contains("snapshot, registered or catalog table"),
        e.getMessage)
    } finally spark.catalog.dropTempView("sqldml_tmpview")
    // a missing name still surfaces Spark's own not-found error
    val missing = intercept[Exception](sql("DELETE FROM sqldml_no_such_t"))
    assert(missing.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), missing.getMessage)
  }

  test("extensions-injected rule resolves registered names in plain spark.sql") {
    val root = scratch("graft_sqldml_snap_")
    Snapshots.create(spark, root, items(0, 25))
    NamedTables.registerSnapshot("sqldml_ext", root)
    // a second session over the same context, bootstrapped the way
    // spark.sql.extensions would do it on a cluster
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 =
      try SparkSession.builder().withExtensions(new graft.GraftExtensions().apply(_))
        .getOrCreate()
      finally {
        prevDefault.foreach(SparkSession.setDefaultSession)
      }
    try {
      assert(s2 ne spark)
      assert(s2.sql("SELECT count(*) AS n FROM sqldml_ext").head.getLong(0) === 25)
    } finally {
      SparkSession.setActiveSession(spark)
    }
  }
}
