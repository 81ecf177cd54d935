package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Partition values whose directory names the parquet reader renders
  * URI-encoded in `_metadata.file_path` (`p=a%20b`) while the manifest
  * records them raw (`p=a b`). Every writer that matches row provenance
  * against manifest files — COW and MOR DML, MERGE, compaction's sidecar
  * consolidation, and the retired-rows read — must treat the two
  * renderings as the same file. The table root itself holds a space, so
  * the root prefix is encoded too.
  */
class SnapshotEscapedPathSpec extends SparkSpec {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft esc_").toString + "/t"

  // A JVM names files in its `sun.jnu.encoding`: under a POSIX locale
  // that is ASCII, and no writer (Spark's included) can create a `p=ü`
  // directory. There the non-ASCII value is covered by the rendering test
  // below, and the tables use `c=d` (Hive-escaped on disk to `c%3Dd`).
  private val nonAscii = "\u00fc"
  private val jvmNamesNonAscii = java.nio.charset.Charset
    .forName(System.getProperty("sun.jnu.encoding", "UTF-8"))
    .newEncoder().canEncode(nonAscii)

  // id % 5 picks the partition: a space, a `%` (Hive-escaped on disk to
  // `%25`, then URI-encoded again), a `+`, a non-ASCII letter, and a plain
  // value
  private val parts = Seq("a b", "x%y", "p+q",
    if (jvmNamesNonAscii) nonAscii else "c=d", "plain")

  private def rows(lo: Int, hi: Int): DataFrame = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, s"row$i", parts(i % parts.size)))
      .toDF("id", "s", "p")
  }

  private def table(): Snapshots.SnapshotTable =
    Snapshots.create(spark, freshRoot(), rows(0, 20), partitionBy = Seq("p"))

  private def state(df: DataFrame): Seq[(Long, String, String)] = {
    import spark.implicits._
    df.select("id", "s", "p").as[(Long, String, String)].collect()
      .sortBy(_._1).toSeq
  }

  private def expected(ids: Seq[Int], s: Int => String = i => s"row$i")
      : Seq[(Long, String, String)] =
    ids.sorted.map(i => (i.toLong, s(i), parts(i % parts.size)))

  // one row in each escaped partition
  private val hit = Seq(0, 1, 2, 3)

  test("COW delete and update reach rows under escaped partition values") {
    val t = table()
    t.deleteWhere(col("id").isin(hit: _*))
    assert(state(t.read()) === expected((0 until 20).filterNot(hit.contains)))
    t.updateWhere(col("id").isin(5, 6, 7, 8), Map("s" -> lit("u")))
    assert(state(t.read()) === expected((4 until 20),
      i => if (i >= 5 && i <= 8) "u" else s"row$i"))
  }

  test("COW merge rewrites the escaped partitions it matches") {
    import spark.implicits._
    val t = table()
    val src = Seq((0L, "m", "a b"), (1L, "m", "x%y"), (2L, "m", "p+q"),
      (3L, "m", parts(3)), (100L, "new", "a b")).toDF("id", "s", "p")
    t.merge(src, "id", "id", whenMatchedSet = Map("s" -> col("s")))
    assert(state(t.read()) ===
      expected(0 until 20, i => if (hit.contains(i)) "m" else s"row$i") :+
        ((100L, "new", "a b")))
  }

  test("MOR delete, update and merge retire rows under escaped values") {
    import spark.implicits._
    val t = table()
    // the largest file sits under `a b`: a scan's first row comes from it
    t.append(rows(20, 120).filter(col("p") === "a b").coalesce(1))
    val all = (0 until 20) ++ (20 until 120 by parts.size)
    t.deleteWhereMergeOnRead(col("id").isin(hit: _*))
    val live = all.filterNot(hit.contains)
    assert(state(t.read()) === expected(live))
    t.updateWhereMergeOnRead(col("id").isin(5, 6, 7, 8), Map("s" -> lit("u")))
    val upd = (i: Int) => if (i >= 5 && i <= 8) "u" else s"row$i"
    assert(state(t.read()) === expected(live, upd))
    val src = Seq((10L, "m", "a b"), (11L, "m", "x%y"), (12L, "m", "p+q"),
      (13L, "m", parts(3)), (1000L, "new", "x%y")).toDF("id", "s", "p")
    t.mergeMergeOnRead(src, "id", "id", whenMatchedSet = Map("s" -> col("s")))
    assert(state(t.read()) === expected(live,
      i => if (i >= 10 && i <= 13) "m" else upd(i)) :+ ((1000L, "new", "x%y")))
  }

  test("compact keeps delete entries of escaped files it does not rewrite") {
    val t = table()
    // one large file under `a b`: larger than the compaction target, so
    // compact keeps it and must carry its delete entry forward
    t.append(rows(1000, 6000).filter(col("p") === "a b")
      .withColumn("s", concat(col("s"), lit("-" * 200))).coalesce(1))
    val head = t.latest()
    val big = head.files.maxBy(f => head.stats(f).bytes)
    val target = head.stats(big).bytes
    assert(head.files.count(f => head.stats(f).bytes >= target) === 1)
    val live = state(t.read()).size
    // 1000 lives in the large file, 1 and 2 in small escaped ones
    t.deleteWhereMergeOnRead(col("id").isin(1000, 1, 2))
    val m = t.compact(targetBytes = target, minInputFiles = 2)
    assert(m.action === "compact")
    assert(m.files.contains(big), "the large file is kept, not rewritten")
    assert(m.deletes.nonEmpty, "its delete entry survives consolidation")
    val after = state(t.read())
    assert(after.size === live - 3)
    assert(!after.exists(r => Set(1000L, 1L, 2L).contains(r._1)),
      "a deleted row resurrected after compaction")
  }

  test("provenance names are the reader's rendering of each file") {
    val t = table()
    val head = t.latest()
    import spark.implicits._
    val seen = t.readFilesMeta(head).select("__file").distinct().as[String]
      .collect().toSet
    assert(seen === head.files.map(t.provenanceName).toSet)
    // the rendering the parquet reader gives `_metadata.file_path`, for
    // names no file here can carry
    Seq("a b", "x%25y", "p+q", nonAscii, "c%3Dd").foreach { v =>
      val f = s"data/0/p=$v/part-0.parquet"
      val reader = org.apache.spark.paths.SparkPath
        .fromPath(new org.apache.hadoop.fs.Path(t.qualifiedRoot, f)).toString
      assert(reader.endsWith("/" + t.provenanceName(f)), s"$f -> $reader")
      assert(t.filesNamed(head.copy(files = Seq(f)),
        Set(t.provenanceName(f))) === Set(f))
    }
  }

  test("readRetiredRows returns rows retired under escaped values") {
    val t = table()
    t.deleteWhereMergeOnRead(col("id").isin(hit: _*))
    assert(state(t.readRetiredRows(0L)) === expected(hit))
  }
}
