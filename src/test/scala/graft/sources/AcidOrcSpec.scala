package graft.sources

import graft.{Engine, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ACID ORC layout reader: snapshot reconstruction over base/delta/
  * delete_delta trees written by [[AcidOrc]]'s own minimal writer (the
  * wire format is the public AcidUtils/OrcRecordUpdater contract, so a
  * table written here is byte-layout what a migrating user's warehouse
  * holds).
  */
class AcidOrcSpec extends SparkSpec {

  private def scratch(): String =
    java.nio.file.Files.createTempDirectory("graft_acid_").toString + "/t"

  private def orders: DataFrame =
    Engine.table(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  /** Build base_5 + delta_6_6 + delete-of-part-of-base, return (dir, df of
    * expected surviving keys).
    */
  private def buildTable(dir: String): Unit = {
    val base = orders.where(col("o_orderkey") % 4 === 0)
    val delta = orders.where(col("o_orderkey") % 4 === 1)
    AcidOrc.appendDelta(spark, dir, 5L, base)
    // rename delta_5_5 -> base_5 to exercise the base path
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(dir, "delta_5_5"),
      new org.apache.hadoop.fs.Path(dir, "base_5"))
    AcidOrc.appendDelta(spark, dir, 6L, delta)
    // delete the base rows divisible by 8: find their ROW__IDs by reading
    // the raw acid file (the ids the writer assigned)
    val ids = AcidOrc.rawEvents(spark, s"$dir/base_5/bucket_00000")
      .where(col("row.o_orderkey") % 8 === 0)
      .select(col("originalTransaction"), col("bucket"), col("rowId"))
    AcidOrc.appendDeleteDelta(spark, dir, 7L, ids)
  }

  test("base + delta + delete_delta reconstruct the live snapshot") {
    val dir = scratch()
    buildTable(dir)
    val got = AcidOrc.read(spark, dir)
    assert(got.columns.toSeq ===
      Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
    val expect = orders.where(
      (col("o_orderkey") % 4 === 0 || col("o_orderkey") % 4 === 1) &&
        col("o_orderkey") % 8 =!= 0)
    assert(got.count() === expect.count())
    assert(got.join(expect, Seq("o_orderkey"), "left_anti").count() === 0)
    assert(expect.join(got, Seq("o_orderkey"), "left_anti").count() === 0)
  }

  test("highest base wins; deltas covered by the base are ignored") {
    val dir = scratch()
    // delta_2_2 holds junk that a later base_5 supersedes
    AcidOrc.appendDelta(spark, dir, 2L,
      orders.limit(10).withColumn("o_orderkey", lit(-1L)))
    buildTable(dir)
    val got = AcidOrc.read(spark, dir)
    assert(got.where(col("o_orderkey") === -1L).count() === 0)
  }

  test("widest-wins de-overlap: compacted delta shadows residual raw delta") {
    val dir = scratch()
    AcidOrc.appendDelta(spark, dir, 6L, orders.limit(50))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a minor compaction of write ids 6..8 that contains the same 50 rows
    AcidOrc.appendDelta(spark, dir, 9L, orders.limit(50))
    fs.rename(new org.apache.hadoop.fs.Path(dir, "delta_9_9"),
      new org.apache.hadoop.fs.Path(dir, "delta_6_8"))
    val got = AcidOrc.read(spark, dir)
    assert(got.count() === 50) // not 100: delta_6_6 is shadowed by delta_6_8
  }

  test("partitioned layout: k=v dirs surface as string columns and scope " +
      "ROW__ID identity") {
    val dir = scratch()
    val byStatus = orders.where(col("o_orderkey") % 10 === 0)
    byStatus.select(col("o_orderstatus")).distinct().collect()
      .map(_.getString(0)).foreach { s =>
        AcidOrc.appendDelta(spark, s"$dir/o_status=$s", 5L,
          byStatus.where(col("o_orderstatus") === s)
            .select(col("o_orderkey"), col("o_totalprice")))
      }
    // delete rowId 0 from ONE partition only; identical (otid,bucket,rowId)
    // in other partitions must survive
    import spark.implicits._
    AcidOrc.appendDeleteDelta(spark, s"$dir/o_status=O", 6L,
      Seq((5L, AcidOrc.encodeBucket(0), 0L))
        .toDF("originalTransaction", "bucket", "rowId"))
    val got = AcidOrc.read(spark, dir)
    assert(got.columns.contains("o_status"))
    val expected = byStatus.count() - 1
    assert(got.count() === expected)
    // every surviving row's partition value matches its status
    val perPart = got.groupBy(col("o_status")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = byStatus.groupBy(col("o_orderstatus")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perPart("O") === want("O") - 1)
    (want.keySet - "O").foreach(k => assert(perPart(k) === want(k)))
  }

  test("legacy mode: op=1 in-place update resolves latest-wins; op=2 " +
      "inline delete honored") {
    val dir = scratch()
    import spark.implicits._
    val rows = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "v")
    AcidOrc.appendDelta(spark, dir, 5L, rows)
    // hand-write a legacy delta with an op=1 update of k=1's row and an
    // op=2 delete of k=2's row (both ROW__IDs read from the v5 file)
    val v5 = AcidOrc.rawEvents(spark, s"$dir/delta_5_5/bucket_00000").cache()
    val upd = v5.where(col("row.k") === 1L).select(
      lit(AcidOrc.OpUpdate).as("operation"),
      col("originalTransaction"), col("bucket"), col("rowId"),
      lit(6L).as("currentTransaction"),
      struct(col("row.k").as("k"), col("row.s").as("s"),
        lit(99.0).as("v")).as("row"))
    val del = v5.where(col("row.k") === 2L).select(
      lit(AcidOrc.OpDelete).as("operation"),
      col("originalTransaction"), col("bucket"), col("rowId"),
      lit(6L).as("currentTransaction"),
      struct(col("row.k"), col("row.s"), col("row.v")).as("row"))
    val staging = java.nio.file.Files.createTempDirectory("acid_leg_")
      .toString
    upd.unionByName(del).coalesce(1).write.mode("overwrite").orc(staging)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(staging))
      .map(_.getPath).find(_.getName.startsWith("part-")).get
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, "delta_6_6"))
    fs.rename(part, new org.apache.hadoop.fs.Path(dir,
      "delta_6_6/bucket_00000"))
    v5.unpersist()

    val got = AcidOrc.read(spark, dir, legacyUpdates = true)
      .orderBy(col("k")).collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L, 3L))
    assert(got.head.getDouble(2) === 99.0) // updated image won
    // default (v2) mode ignores inline op=1/op=2 handling by contract:
    // the op=2 row is dropped but the stale k=1 image remains alongside
    val v2 = AcidOrc.read(spark, dir).where(col("k") === 1L).count()
    assert(v2 === 2L)
  }

  test("deletes against pre-ACID originals apply via positional ROW__IDs " +
      "(copy-file continuation, per-bucket numbering)") {
    val dir = scratch()
    import spark.implicits._
    // originals: upgraded-in-place table — bucket 0 is a base file plus a
    // _copy_1 continuation, bucket 1 is its own file
    AcidOrc.writeOriginal(spark, dir,
      Seq((1L, "x"), (2L, "y")).toDF("k", "s"))
    AcidOrc.writeOriginal(spark, dir,
      Seq((10L, "p"), (11L, "q")).toDF("k", "s"), copyN = 1)
    AcidOrc.writeOriginal(spark, dir,
      Seq((20L, "r")).toDF("k", "s"), taskId = 1)
    assert(AcidOrc.read(spark, dir).count() === 5)
    // an insert delta alongside originals unions in
    AcidOrc.appendDelta(spark, dir, 3L, Seq((3L, "z")).toDF("k", "s"))
    assert(AcidOrc.read(spark, dir).count() === 6)
    // identity surface: originals expose otid=0 and the reference's
    // numbering — bucket 0 rows 0,1 in 000000_0 then 2,3 in _copy_1;
    // bucket 1 restarts at 0
    val ids = AcidOrc.readWithIds(spark, dir)
      .where(col("_acid_otid") === 0L)
      .select(col("k"), col("_acid_bucket"), col("_acid_rowid")).collect()
      .map(r => r.getLong(0) ->
        (AcidOrc.decodeBucketId(r.getInt(1)), r.getLong(2))).toMap
    assert(ids === Map(1L -> (0, 0L), 2L -> (0, 1L), 10L -> (0, 2L),
      11L -> (0, 3L), 20L -> (1, 0L)))
    // delete events with originalTransaction = 0 hit exactly those rows:
    // bucket 0 rowId 0 (k=1), bucket 0 rowId 3 (k=11, inside the copy
    // file), bucket 1 rowId 0 (k=20)
    AcidOrc.appendDeleteDelta(spark, dir, 4L,
      Seq((0L, AcidOrc.encodeBucket(0), 0L),
        (0L, AcidOrc.encodeBucket(0), 3L),
        (0L, AcidOrc.encodeBucket(1), 0L))
        .toDF("originalTransaction", "bucket", "rowId"))
    assert(AcidOrc.read(spark, dir).orderBy(col("k"))
      .select(col("k")).as[Long].collect().toSeq === Seq(2L, 3L, 10L))
    // the write verbs work on originals-bearing tables
    assert(AcidOrc.deleteWhere(spark, dir, col("k") === 10L) === 1L)
    assert(AcidOrc.updateWhere(spark, dir, col("k") === 2L,
      Map("s" -> lit("Y"))) === 1L)
    val afterVerbs = AcidOrc.read(spark, dir).orderBy(col("k")).collect()
    assert(afterVerbs.map(_.getLong(0)).toSeq === Seq(2L, 3L))
    assert(afterVerbs.head.getString(1) === "Y")
    // compaction folds originals + deltas into a base, ROW__IDs preserved
    AcidOrc.compact(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).sorted.toSeq
    assert(names.forall(_.startsWith("base_")), names.mkString(","))
    assert(AcidOrc.read(spark, dir).orderBy(col("k"))
      .select(col("k")).as[Long].collect().toSeq === Seq(2L, 3L))
    // copy-file ordering is LEXICOGRAPHIC by path (the reference's fixed
    // sort, AcidUtils "Path.uri.compareTo"): copy_10 numbers BEFORE
    // copy_2 — stored delete ROW__IDs depend on it
    val dirLex = scratch()
    AcidOrc.writeOriginal(spark, dirLex, Seq((1L, "base")).toDF("k", "s"))
    AcidOrc.writeOriginal(spark, dirLex,
      Seq((10L, "c10")).toDF("k", "s"), copyN = 10)
    AcidOrc.writeOriginal(spark, dirLex,
      Seq((2L, "c2")).toDF("k", "s"), copyN = 2)
    val lexIds = AcidOrc.readWithIds(spark, dirLex)
      .select(col("k"), col("_acid_rowid")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lexIds === Map(1L -> 0L, 10L -> 1L, 2L -> 2L),
      s"copy_10 must number before copy_2 (lexicographic): $lexIds")
    // a non-conforming original name refuses loudly when identity is
    // asked, but still reads via the columnar path
    val dir2 = scratch()
    val staging = java.nio.file.Files.createTempDirectory("acid_orig_")
      .toString
    Seq((1L, "x")).toDF("k", "s").coalesce(1).write.mode("overwrite")
      .orc(staging)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir2))
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(staging))
      .map(_.getPath).find(_.getName.startsWith("part-")).get
    fs.rename(part, new org.apache.hadoop.fs.Path(dir2, "weird.orc"))
    assert(AcidOrc.read(spark, dir2).count() === 1)
    val e = intercept[IllegalArgumentException] {
      AcidOrc.readWithIds(spark, dir2).count()
    }
    assert(e.getMessage.contains("CONVERT HIVE ACID"))
  }

  test("CONVERT HIVE ACID ... TO SNAPSHOT migrates layout and registers " +
      "the name") {
    val dir = scratch()
    buildTable(dir)
    val dst = java.nio.file.Files.createTempDirectory("graft_acid_mig_")
      .toString + "/t"
    val name = s"acid_migrated_${System.nanoTime()}"
    val msg = Engine.sql(spark, sfDir,
      s"CONVERT HIVE ACID '$dir' TO SNAPSHOT '$dst' AS $name")
      .collect().head.getString(0)
    assert(msg.contains("converted"))
    val expect = orders.where(
      (col("o_orderkey") % 4 === 0 || col("o_orderkey") % 4 === 1) &&
        col("o_orderkey") % 8 =!= 0)
    // the snapshot table answers by NAME with the migrated content
    val got = Engine.sql(spark, sfDir, s"SELECT count(*) AS n FROM $name")
      .head().getLong(0)
    assert(got === expect.count())
    // partitioned source: partition layout carries over
    val pdir = scratch()
    import spark.implicits._
    AcidOrc.appendDelta(spark, s"$pdir/st=A", 5L, Seq((1L, 1.0), (2L, 2.0))
      .toDF("k", "v"))
    AcidOrc.appendDelta(spark, s"$pdir/st=B", 5L, Seq((3L, 3.0))
      .toDF("k", "v"))
    val pdst = java.nio.file.Files.createTempDirectory("graft_acid_mig_")
      .toString + "/t"
    val pmsg = Engine.sql(spark, sfDir,
      s"CONVERT HIVE ACID '$pdir' TO SNAPSHOT '$pdst'")
      .collect().head.getString(0)
    assert(pmsg.contains("partitioned by (st)"))
    val t = graft.plans.Snapshots.table(spark, pdst)
    assert(t.read().count() === 3)
    assert(t.read().where(col("st") === "B").select(col("k"))
      .head().getLong(0) === 3L)
  }

  test("add-columns schema evolution across deltas: old rows read NULL, " +
      "widest schema wins") {
    val dir = scratch()
    import spark.implicits._
    AcidOrc.appendDelta(spark, dir, 5L, Seq((1L, "a"), (2L, "b"))
      .toDF("k", "s"))
    // the table grew a column; newer delta carries it
    AcidOrc.appendDelta(spark, dir, 6L, Seq((3L, "c", 30.5))
      .toDF("k", "s", "extra"))
    val got = AcidOrc.read(spark, dir).orderBy(col("k")).collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(got.take(2).forall(_.isNullAt(2)))
    assert(got.last.getDouble(2) === 30.5)
    // deletes keyed by ROW__ID still apply across the schema generations
    val ids = AcidOrc.rawEvents(spark, s"$dir/delta_5_5/bucket_00000")
      .where(col("row.k") === 1L)
      .select(col("originalTransaction"), col("bucket"), col("rowId"))
    AcidOrc.appendDeleteDelta(spark, dir, 7L, ids)
    assert(AcidOrc.read(spark, dir).orderBy(col("k"))
      .select(col("k")).as[Long].collect().toSeq === Seq(2L, 3L))
    // a same-named column changing TYPE refuses loudly
    AcidOrc.appendDelta(spark, dir, 8L, Seq(("x", "d", 1.0))
      .toDF("k", "s", "extra"))
    val e = intercept[Exception] {
      AcidOrc.read(spark, dir).collect()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString("; ")
    assert(chain.contains("changed a column's type"), chain)
  }

  test("deleteWhere / updateWhere: split-update verbs against the ACID " +
      "layout; compact folds to a base preserving ROW__IDs") {
    val dir = scratch()
    import spark.implicits._
    AcidOrc.appendDelta(spark, dir, 1L,
      (0 until 20).map(i => (i.toLong, s"v$i", i * 1.0)).toDF("k", "s", "v"),
      buckets = 2)
    // DELETE
    assert(AcidOrc.deleteWhere(spark, dir, col("k") % 5 === 0) === 4L)
    assert(AcidOrc.read(spark, dir).count() === 16)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "delete_delta_2_2")))
    // UPDATE (split: delete_delta_3_3 + delta_3_3)
    assert(AcidOrc.updateWhere(spark, dir, col("k") === 1L,
      Map("v" -> lit(99.0))) === 1L)
    val updated = AcidOrc.read(spark, dir)
    assert(updated.count() === 16)
    assert(updated.where(col("k") === 1L).select(col("v"))
      .head().getDouble(0) === 99.0)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "delta_3_3")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "delete_delta_3_3")))
    // partition columns cannot be assigned; unknown columns refuse
    intercept[IllegalArgumentException] {
      AcidOrc.updateWhere(spark, dir, col("k") === 2L,
        Map("nope" -> lit(1)))
    }
    // COMPACT: same content, ROW__IDs preserved, old dirs cleaned
    val idsBefore = AcidOrc.readWithIds(spark, dir)
      .select(col("k"), col("_acid_otid"), col("_acid_rowid"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    AcidOrc.compact(spark, dir)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).sorted.toSeq
    assert(names === Seq("base_3"))
    val after = AcidOrc.read(spark, dir)
    assert(after.count() === 16)
    assert(after.where(col("k") === 1L).select(col("v"))
      .head().getDouble(0) === 99.0)
    val idsAfter = AcidOrc.readWithIds(spark, dir)
      .select(col("k"), col("_acid_otid"), col("_acid_rowid"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(idsAfter === idsBefore, "compaction must preserve ROW__IDs")
    // a second compact is a no-op (head base already covers everything)
    AcidOrc.compact(spark, dir)
    assert(AcidOrc.read(spark, dir).count() === 16)
    // deletes after compaction target the preserved ids
    assert(AcidOrc.deleteWhere(spark, dir, col("k") === 7L) === 1L)
    assert(AcidOrc.read(spark, dir).count() === 15)
  }

  test("write verbs scope to partitions; updateWhere refuses partition " +
      "column assignment") {
    val dir = scratch()
    import spark.implicits._
    Seq("A", "B").foreach { s =>
      AcidOrc.appendDelta(spark, s"$dir/st=$s", 1L,
        (0 until 10).map(i => (i.toLong, i * 1.0)).toDF("k", "v"))
    }
    assert(AcidOrc.deleteWhere(spark, dir,
      col("st") === "A" && col("k") < 3) === 3L)
    val got = AcidOrc.read(spark, dir)
    assert(got.where(col("st") === "A").count() === 7)
    assert(got.where(col("st") === "B").count() === 10)
    intercept[IllegalArgumentException] {
      AcidOrc.updateWhere(spark, dir, col("k") === 1L,
        Map("st" -> lit("C")))
    }
    assert(AcidOrc.updateWhere(spark, dir, col("st") === "B" && col("k") === 5L,
      Map("v" -> lit(-1.0))) === 1L)
    AcidOrc.compact(spark, dir)
    val after = AcidOrc.read(spark, dir)
    assert(after.count() === 17)
    assert(after.where(col("st") === "B" && col("k") === 5L)
      .select(col("v")).head().getDouble(0) === -1.0)
  }

  test("minor compaction folds deltas (and delete_deltas) without " +
      "touching the base; reconstruction and ROW__IDs identical") {
    val dir = scratch()
    import spark.implicits._
    // base_2 + five trickle deltas + two delete_deltas
    AcidOrc.appendDelta(spark, dir, 2L,
      (0 until 40).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), buckets = 2)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(dir, "delta_2_2"),
      new org.apache.hadoop.fs.Path(dir, "base_2"))
    (3L to 7L).foreach { w =>
      AcidOrc.appendDelta(spark, dir, w,
        Seq((100 + w, w * 10.0)).toDF("k", "v"), buckets = 2)
    }
    AcidOrc.deleteWhere(spark, dir, col("k") % 10 === 3) // delete_delta_8_8
    AcidOrc.deleteWhere(spark, dir, col("k") === 104L)   // delete_delta_9_9
    val before = AcidOrc.readWithIds(spark, dir)
      .select(col("k"), col("v"), col("_acid_otid"), col("_acid_bucket"),
        col("_acid_rowid")).collect().map(_.toSeq).toSet
    val baseFile = new org.apache.hadoop.fs.Path(dir, "base_2/bucket_00000")
    val baseStamp = (fs.getFileStatus(baseFile).getLen,
      fs.getFileStatus(baseFile).getModificationTime)
    AcidOrc.compactMinor(spark, dir)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).sorted.toSeq
    assert(names === Seq("base_2", "delete_delta_8_9", "delta_3_7"), names)
    // base untouched byte-for-byte (same length, same mtime — never rewritten)
    assert((fs.getFileStatus(baseFile).getLen,
      fs.getFileStatus(baseFile).getModificationTime) === baseStamp)
    val after = AcidOrc.readWithIds(spark, dir)
      .select(col("k"), col("v"), col("_acid_otid"), col("_acid_bucket"),
        col("_acid_rowid")).collect().map(_.toSeq).toSet
    assert(after === before, "minor compaction must be data-identical")
    // the folded delta still answers incremental consumption for a range
    // fully inside it, and straddling folds stay silent
    assert(AcidOrc.readChanges(spark, dir, 2L, 7L).count() === 5)
    assert(AcidOrc.readChanges(spark, dir, 5L, 7L).count() === 0)
    // consumerFloor: folding around a lagging consumer's offset keeps its
    // unconsumed write ids reachable — the floor splits the fold
    val dir2 = scratch()
    (1L to 4L).foreach { w =>
      AcidOrc.appendDelta(spark, dir2, w, Seq((w, w * 1.0)).toDF("k", "v"))
    }
    AcidOrc.compactMinor(spark, dir2, consumerFloor = 2L)
    val names2 = fs.listStatus(new org.apache.hadoop.fs.Path(dir2))
      .map(_.getPath.getName).sorted.toSeq
    assert(names2 === Seq("delta_1_2", "delta_3_4"), names2.mkString(","))
    // a consumer at offset 2 still receives write ids 3..4 exactly once
    assert(AcidOrc.readChanges(spark, dir2, 2L, 4L).count() === 2)
    assert(AcidOrc.read(spark, dir2).count() === 4)
    // a second minor compact is a no-op (one dir per side)
    AcidOrc.compactMinor(spark, dir)
    assert(AcidOrc.read(spark, dir).collect().length === after.size)
  }

  test("hive_acid_state TVF: the selected live layout with write-id " +
      "ranges; shadowed dirs and covered originals excluded") {
    val dir = scratch()
    import spark.implicits._
    AcidOrc.writeOriginal(spark, dir, Seq((1L, "x")).toDF("k", "s"))
    AcidOrc.appendDelta(spark, dir, 2L, Seq((2L, "y")).toDF("k", "s"))
    AcidOrc.deleteWhere(spark, dir, col("k") === 2L) // delete_delta_3_3
    graft.plans.SnapshotSql.register(spark)
    val rows = spark.sql(s"SELECT kind, dir, min_writeid, max_writeid, " +
      s"files FROM hive_acid_state('$dir') ORDER BY kind, dir").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.toSeq === Seq(
      ("delete_delta", "delete_delta_3_3", 3L, 3L, 1L),
      ("delta", "delta_2_2", 2L, 2L, 1L),
      ("original", "000000_0", 0L, 0L, 1L)))
    // after major compaction only the base remains visible
    AcidOrc.compact(spark, dir)
    val after = spark.sql(s"SELECT kind, min_writeid, max_writeid FROM " +
      s"hive_acid_state('$dir')").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(after.toSeq === Seq(("base", 0L, 3L)))
  }

  test("COMPACT HIVE ACID SQL verb: minor then major; unknown kind " +
      "falls through to Spark's canonical error") {
    val dir = scratch()
    import spark.implicits._
    AcidOrc.appendDelta(spark, dir, 1L,
      (0 until 10).map(i => (i.toLong, i * 1.0)).toDF("k", "v"))
    AcidOrc.appendDelta(spark, dir, 2L, Seq((100L, 1.0)).toDF("k", "v"))
    AcidOrc.appendDelta(spark, dir, 3L, Seq((101L, 2.0)).toDF("k", "v"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def names = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).sorted.toSeq
    val m1 = Engine.sql(spark, sfDir, s"COMPACT HIVE ACID '$dir' 'minor'")
      .head.getString(0)
    assert(m1.contains("minor compaction"))
    assert(names === Seq("delta_1_3"), names.mkString(","))
    assert(AcidOrc.read(spark, dir).count() === 12)
    val m2 = Engine.sql(spark, sfDir, s"COMPACT HIVE ACID '$dir'")
      .head.getString(0)
    assert(m2.contains("major compaction"))
    assert(names === Seq("base_3"), names.mkString(","))
    assert(AcidOrc.read(spark, dir).count() === 12)
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      Engine.sql(spark, sfDir, s"COMPACT HIVE ACID '$dir' 'sideways'")
    }
  }

  test("rebalance compaction: a skewed single-bucket table rewrites to N " +
      "even buckets, write ids preserved, ROW__IDs reassigned") {
    val dir = scratch()
    import spark.implicits._
    // every write through one bucket writer — the skew rebalance exists for
    AcidOrc.appendDelta(spark, dir, 1L,
      (0 until 60).map(i => (i.toLong, i * 1.0)).toDF("k", "v"))
    AcidOrc.appendDelta(spark, dir, 2L,
      (100 until 140).map(i => (i.toLong, i * 1.0)).toDF("k", "v"))
    AcidOrc.deleteWhere(spark, dir, col("k") % 10 === 9) // write id 3
    val before = AcidOrc.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Engine.sql(spark, sfDir, s"COMPACT HIVE ACID '$dir' 'rebalance' 4")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).sorted.toSeq
    assert(dirs === Seq("base_3_v4"), dirs.mkString(","))
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "base_3_v4"))
      .map(_.getPath.getName).sorted.toSeq
    assert(files === Seq("bucket_00000", "bucket_00001", "bucket_00002",
      "bucket_00003"), files.mkString(","))
    // reconstruction identical
    val after = AcidOrc.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(after === before)
    // even spread: the reference's contiguous-chunk rule — 90 live rows
    // over 4 buckets = ceil(90/4)=23 per bucket except the tail
    val ids = AcidOrc.readWithIds(spark, dir)
    val perBucket = ids
      .groupBy(shiftright(col("_acid_bucket"), 16).bitwiseAND(lit(0xfff))
        .as("b"))
      .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perBucket === Map(0 -> 23L, 1 -> 23L, 2 -> 23L, 3 -> 21L),
      perBucket.toString)
    // write ids preserved; rowIds renumbered 0..n-1 globally
    assert(ids.select(col("_acid_otid")).distinct().collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L))
    val rids = ids.select(col("_acid_rowid")).collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(rids === (0L until 90L), "global renumbering 0..n-1")
    // reassigned ROW__IDs are live delete targets
    assert(AcidOrc.deleteWhere(spark, dir, col("k") === 0L) === 1L)
    assert(AcidOrc.read(spark, dir).count() === 89)
  }

  test("hive_acid_ids TVF surfaces ROW__ID (writeid, bucketid, rowid)") {
    val dir = scratch()
    buildTable(dir)
    graft.plans.SnapshotSql.register(spark)
    val rows = spark.sql(
      s"""SELECT o_orderkey, ROW__ID.writeid, ROW__ID.bucketid,
         |  ROW__ID.rowid FROM hive_acid_ids('$dir')""".stripMargin)
      .collect()
    assert(rows.nonEmpty)
    // base rows carry writeid 5, delta rows 6; bucket property decodes to 0
    assert(rows.map(_.getLong(1)).toSet === Set(5L, 6L))
    assert(rows.map(r => AcidOrc.decodeBucketId(r.getInt(2))).toSet
      === Set(0))
    // ROW__ID is a usable delete target: feed it back as a delete
    val victim = spark.sql(
      s"""SELECT ROW__ID.writeid AS originalTransaction,
         |  ROW__ID.bucketid AS bucket, ROW__ID.rowid AS rowId
         |FROM hive_acid_ids('$dir') ORDER BY o_orderkey LIMIT 1"""
        .stripMargin)
    val before = AcidOrc.read(spark, dir).count()
    AcidOrc.appendDeleteDelta(spark, dir, 99L, victim)
    assert(AcidOrc.read(spark, dir).count() === before - 1)
  }

  test("randomized op-sequence net: append/delete/update/compact always " +
      "reconstruct to the in-memory model") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    val dir = scratch()
    val model = scala.collection.mutable.Map[Long, Double]()
    var nextKey = 0L
    def nextW() = math.max(AcidOrc.maxWriteId(spark, dir) + 1, 1L)
    // seed: an upgraded-in-place warehouse — pre-ACID originals (one a
    // _copy_ continuation, one a second bucket) that every later delete/
    // update/compact must address through positional ROW__IDs
    val seed = (0 until 7).map { _ =>
      nextKey += 1; (nextKey, rnd.nextInt(100).toDouble)
    }
    AcidOrc.writeOriginal(spark, dir, seed.take(3).toDF("k", "v"))
    AcidOrc.writeOriginal(spark, dir, seed.slice(3, 5).toDF("k", "v"),
      copyN = 1)
    AcidOrc.writeOriginal(spark, dir, seed.drop(5).toDF("k", "v"),
      taskId = 1)
    seed.foreach { case (k, v) => model(k) = v }
    def randomOp(i: Int): String =
      if (model.isEmpty || i == 0) "append"
      else rnd.nextInt(12) match {
        case 0 | 1 | 2 | 3 => "append"
        case 4 | 5 => "delete"
        case 6 | 7 => "update"
        case 8 => "minor"
        case 9 | 10 => "compact"
        case _ => "rebalance"
      }
    (0 until 14).foreach { i =>
      val op = randomOp(i)
      op match {
        case "append" =>
          val m = 1 + rnd.nextInt(8)
          val rows = (0 until m).map { _ =>
            nextKey += 1; (nextKey, rnd.nextInt(100).toDouble)
          }
          AcidOrc.appendDelta(spark, dir, nextW(),
            rows.toDF("k", "v"), buckets = 1 + rnd.nextInt(2))
          rows.foreach { case (k, v) => model(k) = v }
        case "delete" =>
          val p = 2 + rnd.nextInt(3)
          val r = rnd.nextInt(p)
          val n = AcidOrc.deleteWhere(spark, dir, col("k") % p === r)
          val doomed = model.keys.filter(_ % p == r).toSeq
          assert(n === doomed.size.toLong, s"op $i delete count")
          doomed.foreach(model.remove)
        case "update" =>
          val p = 2 + rnd.nextInt(3)
          val r = rnd.nextInt(p)
          val nv = rnd.nextInt(1000).toDouble
          val n = AcidOrc.updateWhere(spark, dir, col("k") % p === r,
            Map("v" -> lit(nv)))
          val hit = model.keys.filter(_ % p == r).toSeq
          assert(n === hit.size.toLong, s"op $i update count")
          hit.foreach(model(_) = nv)
        case "minor" =>
          AcidOrc.compactMinor(spark, dir, clean = rnd.nextBoolean())
        case "compact" =>
          AcidOrc.compact(spark, dir, clean = rnd.nextBoolean())
        case "rebalance" =>
          AcidOrc.rebalance(spark, dir, 1 + rnd.nextInt(4))
      }
      val got = AcidOrc.read(spark, dir).collect()
        .map(row => row.getLong(0) -> row.getDouble(1)).toMap
      assert(got === model.toMap, s"divergence after op $i ($op)")
    }
  }

  test("readChanges refuses an inconsistent partition layout, as read " +
      "does, instead of labelling one key's rows with another's") {
    val dir = scratch()
    import spark.implicits._
    AcidOrc.appendDelta(spark, s"$dir/a=1", 1L, Seq(1L, 2L).toDF("k"))
    AcidOrc.appendDelta(spark, s"$dir/b=2", 2L, Seq(3L).toDF("k"))
    val snapshot = intercept[IllegalArgumentException] {
      AcidOrc.read(spark, dir)
    }
    assert(snapshot.getMessage.contains("inconsistent partition layouts"))
    val changes = intercept[IllegalArgumentException] {
      AcidOrc.readChanges(spark, dir, 0L, 2L).collect()
    }
    assert(changes.getMessage.contains("inconsistent partition layouts"),
      changes.getMessage)
  }

  test("multi-bucket writes round-trip and bucket ids decode") {
    val dir = scratch()
    AcidOrc.appendDelta(spark, dir, 5L, orders.limit(1000), buckets = 4)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "delta_5_5"))
      .map(_.getPath.getName).sorted
    assert(files.toSeq ===
      Seq("bucket_00000", "bucket_00001", "bucket_00002", "bucket_00003"))
    assert(AcidOrc.read(spark, dir).count() === 1000)
    assert(AcidOrc.decodeBucketId(AcidOrc.encodeBucket(7)) === 7)
    // placement of a primitive-only frame: the bucket is the Murmur3 of the
    // md5 of the row's columns concatenated as strings — pinned so the
    // complex-column hashing below cannot move an existing row
    val placed = (0 until 4).map { b =>
      AcidOrc.rawEvents(spark, s"$dir/delta_5_5/bucket_0000$b")
        .select(col("row.*"))
        .select(pmod(abs(graft.plans.PartitionTransforms.murmur3(
          md5(concat_ws("", col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"))))), lit(4)).as("b"))
        .distinct().collect().map(_.getInt(0)).toSeq
    }
    assert(placed === (0 until 4).map(Seq(_)))
  }

  test("appendDelta writes struct, map and array<int> columns") {
    import spark.implicits._
    val dir = scratch()
    val df = Seq((1L, (1, "a"), Map("k" -> 1), Seq(1, 2)),
        (2L, (2, "b"), Map("k" -> 2, "j" -> 3), Seq.empty[Int]),
        (3L, null, null, null))
      .toDF("id", "st", "m", "arr")
    AcidOrc.appendDelta(spark, dir, 1L, df, buckets = 2)
    val got = AcidOrc.read(spark, dir).orderBy("id").collect().toSeq
    assert(got === df.orderBy("id").collect().toSeq)
    assert(AcidOrc.read(spark, dir).schema.map(f => (f.name, f.dataType.simpleString)) ===
      df.schema.map(f => (f.name, f.dataType.simpleString)))
  }
}
