package graft.plans

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** What a merge-on-read commit reads: one evaluation of its match set per
  * attempt. MERGE scans the target files and the source once each; UPDATE
  * and DELETE scan the table once. Counted as the input records of the
  * Spark stages the commit runs; a stage that reads back a cache an
  * earlier stage of the same commit built is not a scan of any file and
  * is left out. Only jobs submitted under this spec's local property
  * count, so work from other threads cannot leak in.
  */
class MorCommitCostSpec extends SparkSpec {

  private val Prop = "graft.spec.morCost"

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_morcost_").toString

  private def nums(lo: Int, hi: Int): DataFrame = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, s"row$i", i % 4)).toDF("id", "s", "k")
  }

  /** Runs `f` and returns its result with the records its file-scanning
    * stages read.
    */
  private def recordsRead[T](f: => T): (T, Long) = {
    val stagesOfProbe = ConcurrentHashMap.newKeySet[Integer]()
    val cachedSeen = ConcurrentHashMap.newKeySet[Integer]()
    val records = new AtomicLong(0)
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tag = Option(e.properties).map(_.getProperty(Prop)).orNull
        if (tag == "probe") e.stageIds.foreach(stagesOfProbe.add(_))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val info = e.stageInfo
        if (stagesOfProbe.contains(info.stageId)) {
          val cached = info.rddInfos.filter(_.storageLevel.isValid).map(_.id)
          if (!cached.exists(id => cachedSeen.contains(id))) {
            records.addAndGet(info.taskMetrics.inputMetrics.recordsRead)
            cached.foreach(id => cachedSeen.add(id))
          }
        }
      }
    }
    val drainListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Prop) == "drain"))
          drained.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.addSparkListener(drainListener)
    try {
      sc.setLocalProperty(Prop, "probe")
      val out = try f finally sc.setLocalProperty(Prop, null)
      // listener events arrive in posting order: once the drain job's
      // start is seen, every event of the probed jobs has been delivered
      sc.setLocalProperty(Prop, "drain")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(Prop, null)
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus did not drain")
      (out, records.get())
    } finally {
      sc.removeSparkListener(listener)
      sc.removeSparkListener(drainListener)
    }
  }

  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** A table of two files (60 + 40 rows) and a parquet source of 30 rows:
    * 10 match, 20 insert.
    */
  private def fixture(): (Snapshots.SnapshotTable, DataFrame) = {
    val dir = freshDir()
    val t = Snapshots.create(spark, s"$dir/t", nums(0, 60).coalesce(1))
    t.append(nums(60, 100).coalesce(1))
    nums(90, 120).withColumn("s", lit("src")).coalesce(1)
      .write.parquet(s"$dir/src")
    (t, spark.read.parquet(s"$dir/src"))
  }

  test("MOR MERGE scans the target and the source once each") {
    val (t, src) = fixture()
    val before = persisted()
    val (m, read) = recordsRead(t.mergeMergeOnRead(src, "id", "id",
      whenMatchedSet = Map("s" -> col("s"))))
    assert(m.action === "merge-mor")
    assert(read === 100L + 30L, "one scan of the target plus one of the source")
    assert(t.read().count() === 120)
    assert(t.read().filter(col("s") === "src").count() === 30)
    assert(persisted() === before, "the commit left its match set cached")
  }

  test("MOR MERGE with a NOT MATCHED BY SOURCE arm scans the target and " +
      "the source once each") {
    val (t, src) = fixture()
    val before = persisted()
    val spec = MergeEngine.Spec(
      matched = Seq(MergeEngine.Update(None, Map("s" -> col("s")))),
      inserts = Seq(MergeEngine.Insert(None)),
      notMatchedBySource = Seq(MergeEngine.Delete(
        Some(col(MergeEngine.targetSide("id")) < 10))))
    val (m, read) = recordsRead(t.mergeSpecMergeOnRead(src, Seq("id" -> "id"),
      spec))
    assert(m.action === "merge-mor")
    assert(read === 100L + 30L, "one scan of the target plus one of the source")
    // 100 target rows - 10 retired by the NOT MATCHED BY SOURCE arm + 20 inserts
    assert(t.read().count() === 110)
    assert(t.read().filter(col("id") < 10).count() === 0)
    assert(t.read().filter(col("s") === "src").count() === 30)
    assert(persisted() === before, "the commit left its match set cached")
  }

  test("MOR UPDATE and DELETE scan the table once") {
    val (t, _) = fixture()
    val before = persisted()
    // a predicate no file statistic can prune: every row is read
    val (u, readU) = recordsRead(t.updateWhereMergeOnRead(
      col("id") % 3 === 0, Map("s" -> lit("u"))))
    assert(u.action === "update-mor")
    assert(readU === 100L, "one scan of the table")
    assert(t.read().filter(col("s") === "u").count() === 34)
    // the table now holds 100 + 34 rows in its files, 34 of them retired:
    // the scan reads the files and the one sidecar's 34 entries
    val (d, readD) = recordsRead(t.deleteWhereMergeOnRead(col("id") % 5 === 0))
    assert(d.action === "delete-mor")
    assert(readD === 134L + 34L, "one scan of the files and the sidecar")
    assert(t.read().count() === 80)
    assert(persisted() === before, "the commit left its match set cached")
  }

  test("a duplicate-key MOR MERGE fails in-job, publishes nothing and " +
      "releases its cache") {
    import spark.implicits._
    val (t, _) = fixture()
    val v = t.latest().version
    val before = persisted()
    def dirs(sub: String): Set[String] = {
      val d = new java.io.File(s"${t.root}/$sub")
      Option(d.list()).map(_.toSet).getOrElse(Set.empty)
    }
    val (data0, dels0) = (dirs("data"), dirs("deletes"))
    val dup = Seq((5L, "a", 0), (5L, "b", 0), (500L, "c", 0)).toDF("id", "s", "k")
    val e = intercept[Exception] {
      t.mergeMergeOnRead(dup, "id", "id", whenMatchedSet = Map("s" -> col("s")))
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("cardinality violation")),
      e.toString)
    assert(t.latest().version === v, "no new version")
    assert(dirs("data") === data0 && dirs("deletes") === dels0,
      "the guard fired before any file was written")
    assert(t.read().count() === 100)
    assert(persisted() === before, "the failed attempt released its cache")
    // duplicate UNMATCHED keys are legal: both insert
    val dupNew = Seq((700L, "a", 0), (700L, "b", 0)).toDF("id", "s", "k")
    t.mergeMergeOnRead(dupNew, "id", "id", whenMatchedSet = Map("s" -> col("s")))
    assert(t.read().filter(col("id") === 700L).count() === 2)
  }
}
