package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Snapshot-versioned tables: manifest log, snapshot isolation, time travel,
  * file-granularity COW, optimistic concurrency (real racing writers), and
  * vacuum.
  */
class SnapshotsSpec extends SparkSpec {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_snap_").toString + "/t"

  private def nums(lo: Int, hi: Int) = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, s"row$i", i % 4)).toDF("id", "s", "k")
  }

  test("create/read round-trip and history") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 100))
    assert(t.read().count() === 100)
    val h = t.history()
    assert(h.map(_.action) === Seq("create"))
    assert(h.head.version === 0L)
    assert(t.read().columns.toSeq === Seq("id", "s", "k"))
  }

  test("append adds rows and bumps the version; old version still readable") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 100))
    t.append(nums(100, 150))
    assert(t.read().count() === 150)
    assert(t.latest().version === 1L)
    assert(t.readVersion(0).count() === 100)
  }

  test("deleteWhere is snapshot-isolated: v0 keeps the full table") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 100))
    val m = t.deleteWhere(col("id") < 30)
    assert(m.action === "delete")
    assert(t.read().count() === 70)
    assert(t.read().filter(col("id") < 30).count() === 0)
    assert(t.readVersion(0).count() === 100)
  }

  test("updateWhere rewrites matching rows only") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 100))
    t.updateWhere(col("id") >= 90, Map("s" -> lit("UPDATED")))
    val got = t.read()
    assert(got.filter(col("s") === "UPDATED").count() === 10)
    assert(got.filter(col("s").startsWith("row")).count() === 90)
    assert(got.count() === 100)
  }

  test("readAsOf time-travels by commit timestamp") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 100))
    val afterCreate = t.latest().timestampMs
    Thread.sleep(5)
    t.deleteWhere(col("id") >= 50)
    assert(t.readAsOf(afterCreate).count() === 100)
    assert(t.readAsOf(System.currentTimeMillis()).count() === 50)
    intercept[IllegalArgumentException](t.readAsOf(afterCreate - 10000))
  }

  test("COW rewrites only affected files; untouched files carry by reference") {
    val root = freshRoot()
    // two separate appends -> at least two distinct file sets
    val t = Snapshots.create(spark, root, nums(0, 100))
    t.append(nums(1000, 1100))
    val before = t.latest()
    // hits only the second commit's id range
    t.deleteWhere(col("id") >= 1050)
    val after = t.latest()
    val keptFromBefore = after.files.toSet.intersect(before.files.toSet)
    assert(keptFromBefore.nonEmpty,
      "the unaffected create-commit files must survive COW by reference")
    assert(after.files.toSet != before.files.toSet)
    assert(t.read().count() === 150)
  }

  test("no-op DML commits nothing") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 10))
    val v = t.latest().version
    t.deleteWhere(col("id") > 9999)
    assert(t.latest().version === v)
  }

  test("partitioned snapshot: partition values round-trip and prune COW") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 100), partitionBy = Seq("k"))
    assert(t.read().count() === 100)
    assert(t.read().filter(col("k") === 2).count() === 25)
    assert(t.read().columns.toSeq === Seq("id", "s", "k"))
    val before = t.latest()
    t.deleteWhere(col("k") === 2) // affects exactly the k=2 files
    val after = t.latest()
    assert(t.read().count() === 75)
    val removed = before.files.toSet -- after.files.toSet
    assert(removed.nonEmpty && removed.forall(_.contains("k=2")),
      s"only k=2 files may be rewritten, removed: $removed")
    // update may not assign a partition column
    intercept[IllegalArgumentException](
      t.updateWhere(col("id") === 1, Map("k" -> lit(9))))
  }

  test("concurrent appends all win (optimistic rebase, no lost commits)") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 10))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      import scala.jdk.CollectionConverters._
      val jobs = (0 until 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            // each thread opens its own handle, like a separate writer would
            Snapshots.table(spark, root).append(nums(100 * (i + 1), 100 * (i + 1) + 10))
          }
        })
      }
      jobs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(t.latest().version === 8L, "all 8 appends must commit")
    assert(t.read().count() === 10 + 8 * 10)
  }

  test("racing COW writers serialize: both predicates land, no lost update") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 100))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val a = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit =
          Snapshots.table(spark, root).deleteWhere(col("id") < 20)
      })
      val b = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit =
          Snapshots.table(spark, root)
            .updateWhere(col("id") >= 80, Map("s" -> lit("X")))
      })
      a.get(120, java.util.concurrent.TimeUnit.SECONDS)
      b.get(120, java.util.concurrent.TimeUnit.SECONDS)
    } finally pool.shutdown()
    val got = t.read()
    assert(got.count() === 80)
    assert(got.filter(col("id") < 20).count() === 0, "delete must not be lost")
    assert(got.filter(col("s") === "X").count() === 20, "update must not be lost")
  }

  test("exhausted retries raise ConcurrentModificationException") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 10))
    // jam the next version slot so the writer's CAS can never succeed
    val log = java.nio.file.Paths.get(root, "_graft_log")
    java.nio.file.Files.write(log.resolve("v00000001.json"),
      java.nio.file.Files.readAllBytes(log.resolve("v00000000.json")))
    intercept[Snapshots.ConcurrentModificationException](
      t.append(nums(10, 20), maxRetries = 0))
  }

  // every committing verb, maintenance included, loses a race the same way:
  // the engine's exception, naming the verb's action
  private def mergeSource = {
    import spark.implicits._
    Seq((3L, "m", 3), (100L, "new", 0)).toDF("id", "s", "k")
  }

  private val jammedVerbs
      : Seq[(String, Snapshots.SnapshotTable => Snapshots.Manifest)] =
    Seq(
      "delete" -> (_.deleteWhere(col("id") < 5, maxRetries = 0)),
      "update" -> (_.updateWhere(col("id") < 5, Map("s" -> lit("u")),
        maxRetries = 0)),
      "merge" -> (_.mergeSpec(mergeSource, Seq("id" -> "id"),
        MergeEngine.specOf(Map("s" -> lit("m")), whenMatchedDelete = false,
          insertUnmatched = true), sourceKeysUnique = false, maxRetries = 0)),
      "merge-mor" -> (_.mergeMergeOnRead(mergeSource, "id", "id",
        whenMatchedSet = Map("s" -> lit("m")), maxRetries = 0)),
      "delete-mor" -> (_.deleteWhereMergeOnRead(col("id") < 5, maxRetries = 0)),
      "add-columns" -> (_.addColumns(org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.LongType))), maxRetries = 0)),
      "restore" -> (_.restore(0L, maxRetries = 0)),
      "set-partition-spec" -> (_.setPartitionSpec(Seq("k"), maxRetries = 0)),
      "truncate" -> (_.truncate(maxRetries = 0)),
      "compact" -> (_.compact(maxRetries = 0)),
      "cluster" -> (_.clusterBy(Seq("id"), maxRetries = 0)),
      "zorder" -> (_.zOrderBy(Seq("id", "k"), maxRetries = 0)))

  jammedVerbs.foreach { case (action, run) =>
    test(s"exhausted retries raise ConcurrentModificationException: $action") {
      val root = freshRoot()
      val t = Snapshots.create(spark, root, nums(0, 10))
      t.append(nums(10, 20))
      // jam the next version slot with a copy of the head manifest: the
      // head still reads as v1, and every CAS at v2 fails
      val log = java.nio.file.Paths.get(root, "_graft_log")
      java.nio.file.Files.write(log.resolve("v00000002.json"),
        java.nio.file.Files.readAllBytes(log.resolve("v00000001.json")))
      val e = intercept[Snapshots.ConcurrentModificationException](run(t))
      assert(e.getMessage.startsWith(
        s"$action at $root lost the commit race 1 times"), e.getMessage)
    }
  }

  test("merge updates matched rows, inserts unmatched, leaves the rest") {
    import spark.implicits._
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 100))
    val source = Seq(
      (5L, "merged5", 1), (17L, "merged17", 1), // matched -> update s
      (1000L, "new1000", 2), (1001L, "new1001", 3) // unmatched -> insert
    ).toDF("id", "s", "k")
    val m = t.merge(source, "id", "id", whenMatchedSet = Map("s" -> col("s")))
    assert(m.action === "merge")
    val got = t.read()
    assert(got.count() === 102)
    assert(got.filter(col("s").isin("merged5", "merged17")).count() === 2)
    assert(got.filter(col("id") >= 1000L).count() === 2)
    assert(got.filter(col("id") === 5L).select("s").head.getString(0) === "merged5")
    // snapshot isolation: v0 pristine
    assert(t.readVersion(0).filter(col("s").startsWith("merged")).count() === 0)
  }

  test("merge whenMatchedDelete removes matches; insertUnmatched=false skips inserts") {
    import spark.implicits._
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 100))
    val source = Seq((3L, "x", 0), (7L, "x", 0), (5000L, "x", 0)).toDF("id", "s", "k")
    t.merge(source, "id", "id", whenMatchedDelete = true, insertUnmatched = false)
    val got = t.read()
    assert(got.count() === 98)
    assert(got.filter(col("id").isin(3L, 7L)).count() === 0)
    assert(got.filter(col("id") === 5000L).count() === 0, "no insert requested")
  }

  test("merge rewrites only files containing matches (file-granularity COW)") {
    import spark.implicits._
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 100))
    t.append(nums(2000, 2100))
    val before = t.latest()
    // keys hit only the second commit's range
    val source = Seq((2050L, "m", 0)).toDF("id", "s", "k")
    t.merge(source, "id", "id", whenMatchedSet = Map("s" -> lit("m")))
    val after = t.latest()
    assert(after.files.toSet.intersect(before.files.toSet).nonEmpty,
      "files without matches must carry over by reference")
    assert(t.read().count() === 200)
  }

  test("merge cardinality violation fails the statement in-job") {
    import spark.implicits._
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 50))
    val dup = Seq((5L, "a", 0), (5L, "b", 0)).toDF("id", "s", "k")
    val e = intercept[IllegalStateException] {
      t.merge(dup, "id", "id", whenMatchedSet = Map("s" -> col("s")))
    }
    assert(e.getMessage.contains(
      "MERGE cardinality violation: multiple source rows match target id=5"),
      e.getMessage)
    // failed statement must not have committed
    assert(t.latest().version === 0L)
    assert(t.read().count() === 50)
  }

  test("merge into a table with a column named present, COW and MOR") {
    import spark.implicits._
    val rows = Seq((1L, true), (2L, false)).toDF("id", "present")
    val source = Seq((1L, false), (3L, true)).toDF("id", "present")
    val cow = Snapshots.create(spark, freshRoot(), rows)
    val mor = Snapshots.create(spark, freshRoot(), rows)
    cow.merge(source, "id", "id", whenMatchedSet = Map("present" -> col("present")))
    mor.mergeMergeOnRead(source, "id", "id",
      whenMatchedSet = Map("present" -> col("present")))
    for (t <- Seq(cow, mor))
      assert(t.read().as[(Long, Boolean)].collect().sorted.toSeq ===
        Seq((1L, false), (2L, false), (3L, true)))
  }

  test("merge cannot assign partition columns") {
    import spark.implicits._
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 20), partitionBy = Seq("k"))
    val source = Seq((5L, "x", 1)).toDF("id", "s", "k")
    intercept[IllegalArgumentException](
      t.merge(source, "id", "id", whenMatchedSet = Map("k" -> lit(9))))
  }

  test("compact folds small files, keeps data identical, and is versioned") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 50).coalesce(1))
    (0 until 4).foreach(i => t.append(nums(100 * (i + 1), 100 * (i + 1) + 50).coalesce(1)))
    val before = t.latest()
    assert(before.files.size >= 5)
    val m = t.compact(targetBytes = 512L * 1024 * 1024)
    assert(m.action === "compact")
    assert(m.files.size < before.files.size)
    assert(t.read().count() === 250)
    assert(t.read().agg(sum(col("id"))).head.getLong(0) ===
      t.readVersion(before.version).agg(sum(col("id"))).head.getLong(0))
    // compaction below the input threshold is a no-op
    val v = t.latest().version
    assert(t.compact(targetBytes = 1L).version === v)
  }

  test("readWhere prunes files by manifest min/max stats") {
    import spark.implicits._
    val root = freshRoot()
    // three appends with disjoint id ranges -> disjoint file stats
    val t = Snapshots.create(spark, root, nums(0, 100).coalesce(2))
    t.append(nums(1000, 1100).coalesce(2))
    t.append(nums(5000, 5100).coalesce(2))
    val m = t.latest()
    val planned = t.planFiles(m, col("id") >= 5000L)
    assert(planned.nonEmpty && planned.size < m.files.size,
      s"stats must prune: planned ${planned.size}/${m.files.size}")
    assert(t.readWhere(col("id") >= 5000L).count() === 100)
    // equality inside one range
    assert(t.planFiles(m, col("id") === 1050L).size < m.files.size)
    assert(t.readWhere(col("id") === 1050L).count() === 1)
    // IN over two ranges keeps both, prunes the third
    val in2 = t.planFiles(m, col("id").isin(5L, 5050L))
    assert(in2.size < m.files.size)
    // string stats prune too
    val sPlan = t.planFiles(m, col("s") === "row5050")
    assert(sPlan.size < m.files.size)
    assert(t.readWhere(col("s") === "row5050").count() === 1)
    // correctness never depends on stats: full predicate still applied
    assert(t.readWhere(col("id") >= 5000L && col("id") < 5010L).count() === 10)
  }

  test("readWhere prunes partition directories from the path segments") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 100), partitionBy = Seq("k"))
    val m = t.latest()
    val planned = t.planFiles(m, col("k") === 2)
    assert(planned.nonEmpty && planned.forall(_.contains("k=2")),
      s"partition pruning must keep only k=2 files: $planned")
    assert(t.readWhere(col("k") === 2).count() === 25)
    // conjunct of partition + stats predicates composes
    val both = t.planFiles(m, col("k") === 2 && col("id") > 9999L)
    assert(both.forall(_.contains("k=2")))
  }

  test("readWhere null-count stats answer IS NULL / IS NOT NULL") {
    import spark.implicits._
    val root = freshRoot()
    val withNulls = Seq((1L, null.asInstanceOf[String], 0), (2L, null.asInstanceOf[String], 0))
      .toDF("id", "s", "k")
    val t = Snapshots.create(spark, root, nums(0, 10).coalesce(1))
    t.append(withNulls.coalesce(1))
    val m = t.latest()
    val nullPlan = t.planFiles(m, col("s").isNull)
    assert(nullPlan.size < m.files.size, "files with zero nulls must prune for IS NULL")
    assert(t.readWhere(col("s").isNull).count() === 2)
    // all-null file: comparison predicates can't match it
    val cmpPlan = t.planFiles(m, col("s") === "row1")
    assert(cmpPlan.size < m.files.size, "all-null file must prune for equality")
    assert(t.readWhere(col("s") === "row1").count() === 1)
  }

  test("Pruning keeps unparseable/absent stat bounds unless provably all-NULL") {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, GreaterThan, Literal}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("x", DoubleType), StructField("s", StringType)))
    def stat(min: Option[String], max: Option[String], nulls: Long, rows: Long) =
      Some(Snapshots.FileStat(rows, Map(
        "x" -> Snapshots.ColStat(min, max, nulls),
        "s" -> Snapshots.ColStat(min, max, nulls))))
    val gtX = GreaterThan(UnresolvedAttribute("x"), Literal(5.0))
    val eqS = EqualTo(UnresolvedAttribute("s"), Literal("v"))
    // bounds present but unparseable (float NaN/Infinity rendering) -> keep
    assert(Pruning.mayMatch(
      "f", stat(Some("NaN"), Some("Infinity"), 0L, 10L), Nil, schema, gtX))
    // bounds absent but non-null rows exist (writer omitted bounds) -> keep
    assert(Pruning.mayMatch("f", stat(None, None, 0L, 10L), Nil, schema, gtX))
    assert(Pruning.mayMatch("f", stat(None, None, 9L, 10L), Nil, schema, gtX))
    // provably all-NULL -> comparison predicates prune the file
    assert(!Pruning.mayMatch("f", stat(None, None, 10L, 10L), Nil, schema, gtX))
    assert(!Pruning.mayMatch("f", stat(None, None, 10L, 10L), Nil, schema, eqS))
  }

  test("timestamp stats prune files for time-range predicates") {
    import spark.implicits._
    val root = freshRoot()
    def batch(day: Int, n: Int) = (0 until n)
      .map(i => (day * 100L + i, s"2024-03-0$day 0${i % 10}:15:00"))
      .toDF("id", "s").select(col("id"), to_timestamp(col("s")).as("ts"))
    val t = Snapshots.create(spark, root, batch(1, 20).coalesce(1))
    t.append(batch(3, 20).coalesce(1))
    t.append(batch(5, 20).coalesce(1))
    val m = t.latest()
    val planned = t.planFiles(m,
      col("ts").between(lit("2024-03-03 00:00:00").cast("timestamp"),
        lit("2024-03-03 23:59:59").cast("timestamp")))
    assert(planned.nonEmpty && planned.size < m.files.size,
      s"timestamp stats must prune: planned ${planned.size}/${m.files.size}")
    assert(t.readWhere(col("ts") >= lit("2024-03-05 00:00:00").cast("timestamp"))
      .count() === 20)
    assert(t.planFiles(m, col("ts") < lit("2024-03-02 00:00:00").cast("timestamp"))
      .size === 1)
  }

  test("string pruning orders by UTF-8 code points, not UTF-16 units") {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, Literal}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("s", StringType)))
    // file range [A, U+1F600]; literal U+E000 is inside in code-point order
    // but ABOVE the max in UTF-16 unit order (surrogates sort low) — a
    // UTF-16 compare would wrongly prune the file
    val stat = Some(Snapshots.FileStat(10L, Map(
      "s" -> Snapshots.ColStat(Some("A"), Some("😀"), 0L))))
    val eq = EqualTo(UnresolvedAttribute("s"), Literal(""))
    assert(Pruning.mayMatch("f", stat, Nil, schema, eq),
      "literal inside the UTF-8 range must keep the file")
    // and genuinely out-of-range literals still prune
    val below = EqualTo(UnresolvedAttribute("s"), Literal("0"))
    assert(!Pruning.mayMatch("f", stat, Nil, schema, below))
  }

  test("readChanges returns appended rows tagged with version, skips compact") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 10).coalesce(1))
    t.append(nums(100, 110).coalesce(1)) // v1
    t.append(nums(200, 220).coalesce(1)) // v2
    t.compact(targetBytes = 512L * 1024 * 1024) // v3: data-identical
    val ch = t.readChanges(sinceVersion = 0L)
    assert(ch.columns.contains("_commit_version"))
    assert(ch.count() === 30, "create's rows are before sinceVersion")
    assert(ch.filter(col("_commit_version") === 1L).count() === 10)
    assert(ch.filter(col("_commit_version") === 2L).count() === 20)
    assert(ch.filter(col("_commit_action") === "compact").count() === 0)
    assert(t.readChanges(t.latest().version).count() === 0)
  }

  test("appendBatch is idempotent per (streamId, batchId) — exactly-once sink") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 10))
    t.appendBatch(nums(100, 110), "streamA", batchId = 0L)
    // replayed micro-batch (same ids) must be a no-op
    t.appendBatch(nums(100, 110), "streamA", batchId = 0L)
    assert(t.read().count() === 20, "replay must not double-append")
    assert(t.latest().version === 1L)
    t.appendBatch(nums(200, 210), "streamA", batchId = 1L)
    assert(t.read().count() === 30)
    // a different stream's batch 0 is independent
    t.appendBatch(nums(300, 310), "streamB", batchId = 0L)
    assert(t.read().count() === 40)
  }

  test("appendBatch dedup is serialized with the CAS: concurrent replays, one lands") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 10))
    // two writers race the SAME (streamId, batchId) — the zombie-driver
    // failover case. Both pass the up-front check (latch-synchronized
    // start), so only the in-CAS re-validation can prevent a double append.
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(2)
    try {
      val attempts = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long = {
            start.countDown(); start.await(30, TimeUnit.SECONDS)
            t.appendBatch(nums(100, 110), "streamZ", batchId = 7L).version
          }
        })
      }
      attempts.foreach(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(t.read().count() === 20, "exactly one attempt may append")
    assert(t.latest().version === 1L)
    // and the batch stays idempotent afterwards
    t.appendBatch(nums(100, 110), "streamZ", batchId = 7L)
    assert(t.read().count() === 20)
  }

  test("merge-on-read delete hides rows without rewriting any data file") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 100))
    val before = t.latest()
    val m = t.deleteWhereMergeOnRead(col("id") < 30)
    assert(m.action === "delete-mor")
    assert(m.files === before.files, "MOR delete must not touch data files")
    assert(m.deletes.nonEmpty)
    assert(t.read().count() === 70)
    assert(t.read().filter(col("id") < 30).count() === 0)
    // snapshot isolation: v0 still reads everything
    assert(t.readVersion(0).count() === 100)
    // deleting the same rows again is a no-op (nothing visible matches)
    val v = t.latest().version
    t.deleteWhereMergeOnRead(col("id") < 30)
    assert(t.latest().version === v)
  }

  test("MOR deletes accumulate and compose with stats-pruned reads") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 100))
    t.deleteWhereMergeOnRead(col("id") < 10)
    t.deleteWhereMergeOnRead(col("id") >= 90)
    assert(t.latest().deletes.size >= 2)
    assert(t.read().count() === 80)
    assert(t.readWhere(col("id") < 50).count() === 40)
  }

  test("COW update after a MOR delete does not resurrect deleted rows") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 100).coalesce(1))
    t.deleteWhereMergeOnRead(col("id") < 50)
    // the update's affected file contains both deleted and live rows
    t.updateWhere(col("id") >= 50 && col("id") < 60, Map("s" -> lit("U")))
    val got = t.read()
    assert(got.count() === 50, "rewritten file must fold the pending deletes")
    assert(got.filter(col("id") < 50).count() === 0)
    assert(got.filter(col("s") === "U").count() === 10)
  }

  test("merge after a MOR delete treats deleted keys as unmatched") {
    import spark.implicits._
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 50).coalesce(1))
    t.deleteWhereMergeOnRead(col("id") === 7L)
    val source = Seq((7L, "reborn", 1)).toDF("id", "s", "k")
    t.merge(source, "id", "id", whenMatchedSet = Map("s" -> col("s")))
    val got = t.read().filter(col("id") === 7L).collect()
    assert(got.length === 1, "deleted key must insert fresh, not update a ghost")
    assert(got.head.getString(1) === "reborn")
    assert(t.read().count() === 50)
  }

  test("merge-on-read MERGE: sidecar + images + inserts in one version, no rewrites") {
    import spark.implicits._
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 100))
    val before = t.latest()
    val source = Seq(
      (5L, "m5", 1), (17L, "m17", 1), // matched -> update s
      (1000L, "new1000", 2) // unmatched -> insert
    ).toDF("id", "s", "k")
    val m = t.mergeMergeOnRead(source, "id", "id",
      whenMatchedSet = Map("s" -> col("s")))
    assert(m.action === "merge-mor")
    assert(before.files.forall(m.files.contains),
      "MOR merge must keep every pre-existing data file")
    assert(m.deletes.nonEmpty, "matched rows retire via sidecar")
    val got = t.read()
    assert(got.count() === 101)
    assert(got.filter(col("id") === 5L).head.getString(1) === "m5")
    assert(got.filter(col("id") === 1000L).count() === 1)
    // snapshot isolation + compaction fold
    assert(t.readVersion(before.version).filter(col("s") === "m5").count() === 0)
    t.compact()
    assert(t.read().count() === 101)
    assert(t.read().filter(col("id") === 5L).head.getString(1) === "m5")
    // delete arm: matched rows vanish without touching files
    val before2 = t.latest()
    val m2 = t.mergeMergeOnRead(Seq(17L, 9999L).toDF("id"), "id", "id",
      whenMatchedDelete = true, insertUnmatched = false)
    assert(m2.action === "merge-mor")
    assert(before2.files.forall(m2.files.contains))
    assert(t.read().count() === 100)
    assert(t.read().filter(col("id") === 17L).count() === 0)
    // nothing matched, nothing to insert -> no-op
    val v = t.latest().version
    t.mergeMergeOnRead(Seq(424242L).toDF("id"), "id", "id",
      whenMatchedDelete = true, insertUnmatched = false)
    assert(t.latest().version === v)
  }

  test("merge-on-read update appends new images and retires old positions") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 100))
    val before = t.latest()
    val m = t.updateWhereMergeOnRead(col("id") >= 90, Map("s" -> lit("U")))
    assert(m.action === "update-mor")
    assert(before.files.forall(m.files.contains),
      "MOR update must not rewrite existing data files")
    assert(m.files.size > before.files.size, "updated images append as new files")
    assert(m.deletes.nonEmpty)
    val got = t.read()
    assert(got.count() === 100, "update must not change cardinality")
    assert(got.filter(col("s") === "U").count() === 10)
    assert(got.filter(col("s").startsWith("row")).count() === 90)
    assert(t.readVersion(0).filter(col("s") === "U").count() === 0)
    // compact folds both sides back to a plain table
    t.compact(targetBytes = 512L * 1024 * 1024)
    assert(t.latest().deletes.isEmpty)
    assert(t.read().filter(col("s") === "U").count() === 10)
    assert(t.read().count() === 100)
    // partition columns stay unassignable
    val tp = Snapshots.create(spark, freshRoot(), nums(0, 20), partitionBy = Seq("k"))
    intercept[IllegalArgumentException](
      tp.updateWhereMergeOnRead(col("id") === 1, Map("k" -> lit(9))))
  }

  test("compact folds MOR deletes into base files and empties the delete list") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 60).coalesce(1))
    t.append(nums(100, 160).coalesce(1))
    t.deleteWhereMergeOnRead(col("id") % 2 === 0)
    assert(t.read().count() === 60)
    val m = t.compact(targetBytes = 512L * 1024 * 1024)
    assert(m.action === "compact")
    assert(m.deletes.isEmpty,
      "all carrying files were rewritten — the delete list must consolidate away")
    assert(t.read().count() === 60)
    // raw file contents (read without the table's delete logic) must agree:
    // the deletes are physically folded, not just logically applied
    val raw = spark.read.parquet(
      m.files.map(f => s"$root/$f"): _*)
    assert(raw.count() === 60)
  }

  test("partial compaction keeps only delete entries for surviving files") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 60).coalesce(1))
    t.append(nums(1000, 1060).coalesce(1))
    t.deleteWhereMergeOnRead(col("id") < 10) // hits only the first file
    t.deleteWhereMergeOnRead(col("id") >= 1050) // hits only the second file
    // make only the SECOND commit's file eligible: compact with a threshold
    // between the two sizes is brittle, so instead compact everything and
    // assert the invariant on the consolidated manifest
    val before = t.read().count()
    assert(before === 100)
    t.compact(targetBytes = 512L * 1024 * 1024)
    assert(t.read().count() === 100)
    assert(t.readVersion(t.latest().parent).count() === 100)
  }

  test("vacuum keeps sidecars referenced by retained manifests, drops stale ones") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 100))
    t.deleteWhereMergeOnRead(col("id") < 20)
    t.deleteWhereMergeOnRead(col("id") >= 90)
    t.vacuum(retainLast = 1, minAgeHours = 0)
    assert(t.read().count() === 70, "vacuum must not break a MOR table")
    // fold everything, vacuum again: the deletes dir must empty out
    t.compact(targetBytes = 512L * 1024 * 1024)
    t.vacuum(retainLast = 1, minAgeHours = 0)
    val delDir = java.nio.file.Paths.get(root, "deletes")
    val remaining =
      if (!java.nio.file.Files.exists(delDir)) 0
      else {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(delDir).iterator().asScala
          .count(p => java.nio.file.Files.isRegularFile(p) &&
            !p.getFileName.toString.startsWith("_") &&
            !p.getFileName.toString.startsWith("."))
      }
    assert(remaining === 0, s"stale sidecars survived vacuum: $remaining")
    assert(t.read().count() === 70)
  }

  test("delta manifests: commits between checkpoints write only their change") {
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 40).coalesce(1),
      checkpointInterval = 4)
    (0 until 6).foreach(i =>
      t.append(nums(100 * (i + 1), 100 * (i + 1) + 10).coalesce(1)))
    // on-disk kinds: v0/v4 checkpoints, the rest deltas
    def rawKind(v: Int): String = {
      val j = org.json4s.jackson.JsonMethods.parse(
        java.nio.file.Files.readString(
          java.nio.file.Paths.get(root, "_graft_log", f"v$v%08d.json")))
      (j \ "kind").extract[String]
    }
    assert(rawKind(0) === "full" && rawKind(4) === "full")
    assert(Seq(1, 2, 3, 5, 6).forall(rawKind(_) === "delta"))
    // a delta append records exactly its own files, no inherited listing
    val j1 = org.json4s.jackson.JsonMethods.parse(
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(root, "_graft_log", "v00000001.json")))
    assert((j1 \ "files").extract[Seq[String]].isEmpty)
    assert((j1 \ "adds").extract[Seq[String]].size === 1)
    // resolution: latest and every historical version read correctly
    assert(t.latest().files.size === 7)
    assert(t.read().count() === 100)
    (0 to 6).foreach(v => assert(t.readVersion(v).count() === 40 + 10 * v))
  }

  test("delta manifests: COW, MOR, and compact commits resolve across deltas") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 60).coalesce(1),
      checkpointInterval = 100) // force everything after v0 to be deltas
    t.append(nums(100, 160).coalesce(1)) // v1 delta
    t.deleteWhereMergeOnRead(col("id") < 10) // v2 delta (deleteAdds)
    t.updateWhere(col("id") >= 150, Map("s" -> lit("U"))) // v3 delta (add+remove)
    t.compact(targetBytes = 512L * 1024 * 1024) // v4 delta (consolidates)
    assert(t.read().count() === 110)
    assert(t.read().filter(col("s") === "U").count() === 10)
    assert(t.read().filter(col("id") < 10).count() === 0)
    assert(t.latest().deletes.isEmpty, "compact consolidated the sidecars")
    assert(t.readVersion(2).count() === 110)
    assert(t.readVersion(1).count() === 120)
    // stats-pruned reads work off resolved delta state
    assert(t.readWhere(col("id") >= 100).count() === 60)
  }

  test("vacuum rewrites the oldest retained delta as a self-contained checkpoint") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 30).coalesce(1),
      checkpointInterval = 100)
    t.append(nums(100, 130).coalesce(1)) // v1 delta
    t.append(nums(200, 230).coalesce(1)) // v2 delta
    t.vacuum(retainLast = 2, minAgeHours = 0) // prunes v0 — v1 must become self-contained
    assert(t.read().count() === 90)
    assert(t.readVersion(1).count() === 60, "v1 must resolve without v0")
    // a fresh handle (empty resolution cache) must also read it
    assert(Snapshots.table(spark, root).readVersion(1).count() === 60)
    intercept[IllegalArgumentException](t.readVersion(0))
  }

  test("addColumns evolves the schema; old files read the new column as NULL") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 50))
    val before = t.latest()
    val m = t.addColumns(StructType(Seq(StructField("score", DoubleType))))
    assert(m.action === "add-columns")
    assert(m.files === before.files, "schema evolution is metadata-only")
    // pre-evolution rows surface the new column as NULL
    val got = t.read()
    assert(got.columns.toSeq === Seq("id", "s", "k", "score"))
    assert(got.filter(col("score").isNull).count() === 50)
    // appends now carry the full new schema
    t.append((100 until 110).map(i => (i.toLong, s"row$i", i % 4, i * 0.5))
      .toDF("id", "s", "k", "score"))
    assert(t.read().count() === 60)
    assert(t.read().filter(col("score").isNotNull).count() === 10)
    // time travel keeps the pre-evolution schema
    assert(t.readVersion(0).columns.toSeq === Seq("id", "s", "k"))
    // duplicate columns are refused; DML still works on the evolved table
    intercept[IllegalArgumentException](
      t.addColumns(StructType(Seq(StructField("s", StringType)))))
    t.deleteWhere(col("id") < 5)
    assert(t.read().count() === 55)
    // readChanges across the evolution unions by name with NULL fill
    val ch = t.readChanges(0L)
    assert(ch.columns.contains("score"))
  }

  test("renameColumn is metadata-only: old files serve the new name") {
    import spark.implicits._
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 50))
    val before = t.latest()
    val m = t.renameColumn("s", "label")
    assert(m.action === "rename-column")
    assert(m.files === before.files, "rename is metadata-only")
    assert(m.colMapping === Map("label" -> "s"))
    val got = t.read()
    assert(got.columns.toSeq === Seq("id", "label", "k"))
    assert(got.filter($"label" === "row7").count() === 1)
    // appends under the new logical name land in the same physical column
    t.append((100 until 110).map(i => (i.toLong, s"row$i", i % 4))
      .toDF("id", "label", "k"))
    assert(t.read().filter($"label" === "row105").count() === 1)
    assert(t.read().filter($"label".startsWith("row")).count() === 60)
    // COW DML addresses the new name; time travel keeps the old schema
    t.updateWhere($"label" === "row3", Map("label" -> lit("renamedrow")))
    assert(t.read().filter($"label" === "renamedrow").count() === 1)
    assert(t.readVersion(0).columns.toSeq === Seq("id", "s", "k"))
    // rename back: the mapping collapses to identity, reads still correct
    val back = t.renameColumn("label", "s")
    assert(back.colMapping.isEmpty)
    assert(t.read().filter($"s" === "row42").count() === 1)
    intercept[IllegalArgumentException](t.renameColumn("nope", "x"))
    intercept[IllegalArgumentException](t.renameColumn("s", "k"))
  }

  test("stats pruning still prunes through a renamed column") {
    import spark.implicits._
    val root = freshRoot()
    val t = Snapshots.create(spark, root,
      (0 until 1000).map(i => (i.toLong, s"r$i")).toDF("id", "s")
        .repartitionByRange(4, $"id"))
    t.renameColumn("id", "ident")
    val m = t.latest()
    // the predicate names the LOGICAL column; the stats are keyed by the
    // physical one — pruning must translate, not give up
    val planned = t.planFiles(m, $"ident" >= 900L)
    assert(planned.size < m.files.size,
      s"rename broke stats pruning: ${planned.size} of ${m.files.size} files")
    assert(t.readWhere($"ident" >= 900L).count() === 100)
  }

  test("dropColumn narrows the schema; re-adding the name reads NULL, not stale data") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 50))
    val m = t.dropColumn("s")
    assert(m.action === "drop-column")
    assert(m.droppedPhysical === Seq("s"))
    assert(t.read().columns.toSeq === Seq("id", "k"))
    // re-add the same logical name: old files must NOT resurrect old values
    val m2 = t.addColumns(StructType(Seq(StructField("s", StringType))))
    assert(m2.colMapping.nonEmpty, "re-added column needs a fresh physical name")
    val got = t.read()
    assert(got.columns.toSeq === Seq("id", "k", "s"))
    assert(got.filter($"s".isNotNull).count() === 0,
      "dropped values resurrected through a re-added column")
    // new writes land in the fresh physical column and read back
    t.append(Seq((1000L, 9, "fresh")).toDF("id", "k", "s"))
    assert(t.read().filter($"s" === "fresh").count() === 1)
    intercept[IllegalArgumentException](t.dropColumn("nope"))
  }

  test("truncate empties the table in one metadata commit; time travel survives") {
    import spark.implicits._
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 50))
    t.append(nums(50, 80))
    val m = t.truncate()
    assert(m.action === "truncate" && m.files.isEmpty)
    assert(t.read().count() === 0)
    assert(t.readVersion(1).count() === 80)
    // appends keep working after a truncate
    t.append(nums(0, 5))
    assert(t.read().count() === 5)
  }

  test("rename survives COW rewrites, MOR deletes, and compaction") {
    import spark.implicits._
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 60))
    t.renameColumn("s", "label")
    t.deleteWhereMergeOnRead($"label" === "row10")
    t.deleteWhere($"id" >= 55)
    t.compact(minInputFiles = 2)
    val got = t.read()
    assert(got.columns.toSeq === Seq("id", "label", "k"))
    assert(got.count() === 54)
    assert(got.filter($"label" === "row10").count() === 0)
    assert(got.filter($"label" === "row11").count() === 1)
    assert(t.latest().colMapping === Map("label" -> "s"),
      "mapping must carry through every commit kind")
  }

  test("zOrderBy prunes on EVERY z-column; clusterBy only on its sort key") {
    import spark.implicits._
    val root = freshRoot()
    // two independent uniform keys: an unclustered layout gives every file
    // the full range of both, so nothing prunes
    val df = (0 until 4096).map { i =>
      (i.toLong, (i % 64).toLong, ((i * 37) % 64).toLong)
    }.toDF("id", "a", "b").repartition(8)
    val t = Snapshots.create(spark, root, df)
    assert(t.planFiles(t.latest(), $"a" === 5L).size === t.latest().files.size,
      "precondition: unclustered layout must not prune")
    val m = t.zOrderBy(Seq("a", "b"), targetBytes = 3 * 1024)
    assert(m.action === "zorder")
    val n = m.files.size
    assert(n >= 8, s"want many small files to measure pruning, got $n")
    // data identical
    assert(t.read().count() === 4096)
    assert(t.read().select(sum($"id")).head.getLong(0) ===
      (0 until 4096).map(_.toLong).sum)
    // point predicates on EACH dimension prune to a minority of files
    val pa = t.planFiles(m, $"a" === 5L).size
    val pb = t.planFiles(m, $"b" === 9L).size
    assert(pa <= n / 2, s"a-predicate kept $pa of $n files")
    assert(pb <= n / 2, s"b-predicate kept $pb of $n files")
    assert(t.readWhere($"a" === 5L).count() === 64)
    assert(t.readWhere($"b" === 9L).count() === 64)
    // zorder is a data-identical reorganization: invisible to CDC readers
    assert(t.readChanges(m.parent).count() === 0)
  }

  test("bloom index skips files min/max cannot, and only ever skips") {
    import spark.implicits._
    val root = freshRoot()
    // high-cardinality UNSORTED key interleaved across files: every file's
    // (min, max) spans the probe, so stats pruning keeps all of them
    def batch(off: Int) = // all-EVEN keys: odd probes are in-range absent
      (0 until 512).map(i => (((i * 997 + off) % 50000L) * 2, s"v$i"))
        .toDF("key", "v").coalesce(1)
    val t = Snapshots.create(spark, root, batch(0))
    t.setBloomColumns(Seq("key"), numBits = 1 << 16)
    // pre-config files are unindexed: probes must keep them (never skip)
    t.append(batch(1)); t.append(batch(2)); t.append(batch(3))
    val m = t.latest()
    assert(m.files.size === 4)
    // the probe value lives only in the off=2 batch (997*13+2)
    val probe = ((997L * 13 + 2) % 50000L) * 2
    val planned = t.planFiles(m, $"key" === probe)
    assert(planned.size < m.files.size,
      s"bloom should skip indexed files without the key: kept ${planned.size}/4")
    assert(planned.size >= 2, "the unindexed v0 file must always survive")
    assert(t.readWhere($"key" === probe).count() === 1)
    // a value in the UNINDEXED batch: correctness unaffected
    val probe0 = ((997L * 40) % 50000L) * 2
    assert(t.readWhere($"key" === probe0).count() === 1)
    // IN-lists probe per literal; absent values skip every indexed file
    assert(t.planFiles(m, $"key".isin(probe, probe0)).size >= 2)
    // odd -> absent everywhere, yet inside every file's (min, max) range,
    // so ONLY the bloom can skip; the unindexed v0 file must survive
    val absent = t.planFiles(m, $"key" === 33333L)
    assert(absent.size === 1, s"only the unindexed file may survive: $absent")
    assert(t.readWhere($"key" === 33333L).count() === 0)
    // compaction re-stages everything -> previously unindexed data indexed
    t.compact(minInputFiles = 2)
    val m2 = t.latest()
    val absent2 = t.planFiles(m2, $"key" === 33333L)
    assert(absent2.isEmpty, s"all files indexed after compact: $absent2")
    // the SQL read path prunes through the FileIndex too
    val rel = Snapshots.table(spark, root).read().filter($"key" === probe)
    val scanned = rel.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.listFiles(Nil,
          s.dataFilters).map(_.files.length).sum
    }.sum
    assert(scanned <= 2, s"SQL path scanned $scanned files")
    assert(rel.count() === 1)
  }

  test("bloom index follows a renamed column (physical identity)") {
    import spark.implicits._
    val root = freshRoot()
    val t = Snapshots.create(spark, root,
      (0 until 256).map(i => (i * 31L % 7919, i)).toDF("key", "n").coalesce(1))
    t.setBloomColumns(Seq("key"), numBits = 1 << 16)
    t.renameColumn("key", "ident")
    t.append((0 until 256).map(i => (100000L + i, i)).toDF("ident", "n").coalesce(1))
    val m = t.latest()
    val planned = t.planFiles(m, $"ident" === (31L * 10 % 7919))
    // v0 is unindexed (created pre-config); the post-rename append IS
    // indexed under the original physical name and must skip
    assert(planned.size === 1, s"renamed-column probe kept $planned")
    assert(t.readWhere($"ident" === (31L * 10 % 7919)).count() === 1)
  }

  test("alterColumnType widens metadata-only; old narrow files read widened") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val root = freshRoot()
    val t = Snapshots.create(spark, root,
      (0 until 50).map(i => (i, i.toFloat / 2)).toDF("n", "x"))
    val before = t.latest()
    val m = t.alterColumnType("n", LongType)
    t.alterColumnType("x", DoubleType)
    assert(m.action === "alter-column-type")
    assert(m.files === before.files, "widening is metadata-only")
    val got = t.read()
    assert(got.schema("n").dataType === LongType)
    assert(got.schema("x").dataType === DoubleType)
    assert(got.select(sum($"n")).head.getLong(0) === (0 until 50).sum.toLong)
    assert(got.filter($"x" === 2.5d).count() === 1)
    // appends carry the wide type; stats pruning still works across the
    // mixed narrow/wide file population
    t.append(Seq((5000000000L, 9.25d)).toDF("n", "x"))
    assert(t.read().filter($"n" > Int.MaxValue.toLong).count() === 1)
    assert(t.readWhere($"n" === 7L).count() === 1)
    // non-widening changes are refused loudly
    intercept[IllegalArgumentException](t.alterColumnType("x", FloatType))
    intercept[IllegalArgumentException](t.alterColumnType("n", StringType))
  }

  test("widening a bloom-indexed column invalidates its filters (no wrong skips)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val root = freshRoot()
    val t = Snapshots.create(spark, root,
      (0 until 256).map(i => (i * 2, i)).toDF("key", "n").coalesce(1))
    t.setBloomColumns(Seq("key"), numBits = 1 << 16)
    t.append((256 until 512).map(i => (i * 2, i)).toDF("key", "n").coalesce(1))
    // int-typed probes skip via the index...
    assert(t.planFiles(t.latest(), $"key" === 33).size < t.latest().files.size)
    t.alterColumnType("key", LongType)
    // ...but after widening the old filters hashed INT values — they must
    // not be consulted for LONG probes (a wrong skip would lose rows)
    val probe = t.readWhere($"key" === 600L)
    assert(probe.count() === 1, "widened-column point lookup lost a row")
    assert(t.planFiles(t.latest(), $"key" === 600L).nonEmpty)
  }

  test("concurrent appends stay correct with delta manifests on") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 10), checkpointInterval = 3)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val jobs = (0 until 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit =
            Snapshots.table(spark, root, checkpointInterval = 3)
              .append(nums(100 * (i + 1), 100 * (i + 1) + 10))
        })
      }
      jobs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(t.latest().version === 8L)
    assert(t.read().count() === 90)
  }

  test("delta manifest size is bounded by the commit's change, not table size") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 10).coalesce(1),
      checkpointInterval = 1000) // everything after v0 is a delta
    (0 until 25).foreach(i =>
      t.append(nums(1000 * (i + 1), 1000 * (i + 1) + 10).coalesce(1)))
    def manifestBytes(v: Int): Long = java.nio.file.Files.size(
      java.nio.file.Paths.get(root, "_graft_log", f"v$v%08d.json"))
    // the 25th single-file append must cost ~what the 1st did — NOT grow
    // with the 26-file table (a full listing would be ~26x)
    val first = manifestBytes(1)
    val last = manifestBytes(25)
    assert(last < first * 2,
      s"delta manifests must not grow with the table: v1=$first bytes, v25=$last bytes")
    assert(t.read().count() === 260)
  }

  test("racing MOR delete and append both land (no lost commit)") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 100))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val a = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit =
          Snapshots.table(spark, root).deleteWhereMergeOnRead(col("id") < 20)
      })
      val b = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit =
          Snapshots.table(spark, root).append(nums(500, 520))
      })
      a.get(120, java.util.concurrent.TimeUnit.SECONDS)
      b.get(120, java.util.concurrent.TimeUnit.SECONDS)
    } finally pool.shutdown()
    val got = t.read()
    assert(got.count() === 100, "80 survivors + 20 appended")
    assert(got.filter(col("id") < 20).count() === 0, "MOR delete must not be lost")
    assert(got.filter(col("id") >= 500).count() === 20, "append must not be lost")
  }

  test("clusterBy gives files disjoint ranges so stats pruning hits one file") {
    import spark.implicits._
    val root = freshRoot()
    // interleaved appends: every file spans nearly the full id range, so
    // stats pruning can't skip anything
    val t = Snapshots.create(spark, root,
      (0 until 400 by 4).map(i => (i.toLong, s"r$i", i % 4)).toDF("id", "s", "k")
        .coalesce(1))
    (1 to 3).foreach { off =>
      t.append((off until 400 by 4).map(i => (i.toLong, s"r$i", i % 4))
        .toDF("id", "s", "k").coalesce(1))
    }
    val before = t.latest()
    val unpruned = t.planFiles(before, col("id") === 123L)
    assert(unpruned.size === before.files.size,
      "interleaved files must be unprunable before clustering")
    // cluster on id: small target so multiple range files emerge
    val m = t.clusterBy(Seq("id"), targetBytes = 2048)
    assert(m.action === "cluster")
    assert(m.files.size > 1, s"want multiple range files, got ${m.files.size}")
    val pruned = t.planFiles(m, col("id") === 123L)
    assert(pruned.size === 1,
      s"disjoint ranges must prune to exactly 1 file, got ${pruned.size}/${m.files.size}")
    // data identical
    assert(t.read().count() === 400)
    assert(t.readWhere(col("id") === 123L).count() === 1)
    assert(t.read().agg(sum(col("id"))).head.getLong(0) ===
      (0L until 400L).sum)
    // MOR deletes fold in during clustering
    t.deleteWhereMergeOnRead(col("id") < 100)
    t.clusterBy(Seq("id"), targetBytes = 2048)
    assert(t.latest().deletes.isEmpty)
    assert(t.read().count() === 300)
    // cluster commits are invisible to incremental readers
    assert(t.readChanges(m.version).filter(col("_commit_action") === "cluster")
      .count() === 0)
    // partition/unknown cluster keys are refused
    val tp = Snapshots.create(spark, freshRoot(), nums(0, 20), partitionBy = Seq("k"))
    intercept[IllegalArgumentException](tp.clusterBy(Seq("k")))
    intercept[IllegalArgumentException](tp.clusterBy(Seq("nope")))
  }

  test("SQL TVFs: snapshot_table and snapshot_changes from plain spark.sql") {
    graft.plans.SnapshotSql.register(spark)
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 50))
    t.deleteWhere(col("id") < 10) // v1
    t.append(nums(100, 120)) // v2
    assert(spark.sql(s"SELECT count(*) AS n FROM snapshot_table('$root')")
      .head().getLong(0) === 60)
    assert(spark.sql(s"SELECT count(*) AS n FROM snapshot_table('$root', 0)")
      .head().getLong(0) === 50)
    // TVFs compose with plain SQL (joins, filters, aggregates)
    assert(spark.sql(
      s"""SELECT count(*) FROM snapshot_table('$root') s
         |JOIN snapshot_table('$root', 0) v0 USING (id)
         |WHERE s.id >= 40""".stripMargin).head().getLong(0) === 10)
    assert(spark.sql(
      s"SELECT count(*) FROM snapshot_changes('$root', 1) WHERE _commit_version = 2")
      .head().getLong(0) === 20)
    // non-literal / wrong-arity arguments are refused with a clear error
    intercept[Exception](spark.sql("SELECT * FROM snapshot_table(1)").collect())
  }

  test("plan: readWhere's physical scan holds only the stats-pruned files") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 100).coalesce(2))
    t.append(nums(5000, 5100).coalesce(2))
    val m = t.latest()
    val pruned = t.planFiles(m, col("id") >= 5000L)
    val df = t.readWhere(col("id") >= 5000L)
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val scanFiles = scans.head.relation.location.inputFiles
    assert(scanFiles.length === pruned.size,
      s"scan must hold exactly the pruned files: ${scanFiles.length} vs ${pruned.size}")
    assert(scanFiles.length < m.files.size, "pruning must have skipped files")
  }

  test("plan: plain SQL over a named table prunes files via the manifest FileIndex") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 100).coalesce(2))
    t.append(nums(5000, 5100).coalesce(2))
    NamedTables.registerSnapshot("snap_planprune", root)
    // no readWhere anywhere: the ordinary SQL read path must prune by
    // itself from the filters Catalyst pushes into the scan
    val df = graft.Engine.sql(spark, "/root/testdata/sf0.001",
      "SELECT * FROM snap_planprune WHERE id >= 5000")
    assert(df.count() === 100)
    val scan = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val planned = scan.selectedPartitions.totalNumberOfFiles.toInt
    val expected = t.planFiles(t.latest(), col("id") >= 5000L).size
    assert(planned === expected,
      s"SQL scan must plan exactly the stats-pruned files: $planned vs $expected")
    assert(planned < t.latest().files.size, "pruning must have skipped files")
    // partitioned tables prune partition directories the same way
    val root2 = freshRoot()
    Snapshots.create(spark, root2, nums(0, 100), partitionBy = Seq("k"))
    NamedTables.registerSnapshot("snap_planprune2", root2)
    val df2 = graft.Engine.sql(spark, "/root/testdata/sf0.001",
      "SELECT * FROM snap_planprune2 WHERE k = 2")
    assert(df2.count() === 25)
    val scan2 = df2.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan2.selectedPartitions.totalNumberOfFiles > 0)
    assert(scan2.selectedPartitions.partitionCount === 1, "only the k=2 partition plans")
  }

  test("manifests written before byte-size recording still read (bytes fallback)") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 30).coalesce(1))
    // strip the bytes field from the stored manifest, as an old writer
    // would have produced it
    val v0 = java.nio.file.Paths.get(root, "_graft_log", "v00000000.json")
    val json = java.nio.file.Files.readString(v0)
    assert(json.contains("\"bytes\""))
    java.nio.file.Files.writeString(v0,
      json.replaceAll(",\"bytes\":\\d+", ""))
    val t2 = Snapshots.table(spark, root)
    assert(t2.read().count() === 30, "pre-bytes manifest must read via the status probe")
    assert(t2.readWhere(col("id") >= 10).count() === 20)
  }

  test("partition filters the stats cannot reason about still evaluate exactly") {
    // FileIndex contract: partitionFilters are EXACT (Spark never re-checks
    // them per row) — shapes the conservative stats pruning keeps, like
    // NOT(k=2) or k % 2 = 1, must still be evaluated against the partition
    // values, or excluded rows flow through
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 100), partitionBy = Seq("k"))
    assert(t.read().filter(!(col("k") === 2)).count() === 75)
    assert(t.read().filter(col("k") % 2 === 1).count() === 50)
    assert(t.read().filter(col("k").isNull).count() === 0)
    // and the COW delete that plans through the same scan removes its rows
    t.deleteWhere(!(col("k") === 2))
    assert(t.read().count() === 25)
    assert(t.read().filter(col("k") =!= 2).count() === 0)
  }

  test("plan: MOR delete merge is a broadcast anti-join, not a shuffle") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 1000))
    t.deleteWhereMergeOnRead(col("id") < 100)
    val df = t.read()
    assert(df.count() === 900)
    // AQE's final plan: the (tiny) delete sidecar must broadcast
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast left-anti delete merge, got:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "the delete-set merge must not sort-merge at this size")
  }

  test("describeHistory exposes the commit log as a relation (and via SQL)") {
    graft.plans.SnapshotSql.register(spark)
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 50))
    t.append(nums(100, 110))
    t.deleteWhereMergeOnRead(col("id") < 5)
    val h = t.describeHistory().orderBy(col("version")).collect()
    assert(h.map(_.getString(3)).toSeq === Seq("create", "append", "delete-mor"))
    assert(h.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
    assert(h(1).getLong(4) > h(0).getLong(4), "append grows the file count")
    assert(h(2).getLong(6) >= 1L, "MOR delete records its sidecar files")
    // SQL twin
    assert(spark.sql(
      s"SELECT count(*) FROM snapshot_history('$root') WHERE action = 'append'")
      .head().getLong(0) === 1L)
  }

  test("a broken delta chain fails loud, never resolves to wrong data") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 20), checkpointInterval = 100)
    t.append(nums(100, 120)) // v1 delta
    t.append(nums(200, 220)) // v2 delta
    // destroy v1: v2 can no longer resolve
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, "_graft_log", "v00000001.json"))
    val fresh = Snapshots.table(spark, root)
    intercept[Exception](fresh.read().count())
  }

  test("the log listing ignores foreign files") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 20))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_graft_log", "garbage.txt"), "not a manifest")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_graft_log", ".tmp-leftover"), "{}")
    assert(t.read().count() === 20)
    assert(t.history().size === 1)
  }

  test("vacuum drops unreferenced files and pruned versions") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 100))
    t.deleteWhere(col("id") < 50)
    t.vacuum(retainLast = 1, minAgeHours = 0)
    assert(t.read().count() === 50, "current snapshot unaffected by vacuum")
    intercept[IllegalArgumentException](t.readVersion(0))
    // every surviving data file is referenced by the retained manifest
    val dataDir = java.nio.file.Paths.get(root, "data")
    val onDisk = java.nio.file.Files.walk(dataDir).iterator()
    import scala.jdk.CollectionConverters._
    val parquets = onDisk.asScala.filter(p =>
      java.nio.file.Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith(".")).toSeq
    val referenced = t.latest().files.map(f =>
      java.nio.file.Paths.get(root, f).toString).toSet
    assert(parquets.forall(p => referenced.contains(p.toString)),
      s"unreferenced files survived vacuum: ${parquets.filterNot(p => referenced.contains(p.toString))}")
  }

  test("vacuum age threshold protects an in-flight writer's staged files") {
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 50))
    t.deleteWhere(col("id") < 10) // v1: v0's rewritten file becomes garbage
    // a concurrent writer has staged files but not yet committed
    val stagedDir = java.nio.file.Paths.get(root, "data", "inflight1")
    java.nio.file.Files.createDirectories(stagedDir)
    val staged = stagedDir.resolve("part-00000.parquet")
    java.nio.file.Files.writeString(staged, "not-yet-committed")
    t.vacuum(retainLast = 1) // default horizon: fresh files must survive
    assert(java.nio.file.Files.exists(staged),
      "a just-staged uncommitted file must survive a default vacuum")
    assert(t.read().count() === 40)
    t.vacuum(retainLast = 1, minAgeHours = 0) // explicit: no writers active
    assert(!java.nio.file.Files.exists(staged))
  }

  test("vacuum works on an explicitly file:-scheme qualified root") {
    val root = "file://" + freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 30))
    t.append(nums(30, 60))
    t.deleteWhere(col("id") < 5)
    // retain 2: the oldest retained manifest is a delta and must be
    // rewritten as a checkpoint through the Hadoop FileSystem API
    t.vacuum(retainLast = 2, minAgeHours = 0)
    assert(t.read().count() === 55)
    assert(Snapshots.table(spark, root).read().count() === 55, "fresh handle reads the rewritten log")
  }

  test("COW DML on a table whose data files are all empty is a clean no-op") {
    import spark.implicits._
    val root = freshRoot()
    val empty = Seq.empty[(Long, String, Int)].toDF("id", "s", "k").coalesce(1)
    val t = Snapshots.create(spark, root, empty)
    t.deleteWhere(col("id") > 5) // must not throw on the path-prefix probe
    t.updateWhere(col("id") === 1, Map("s" -> lit("x")))
    assert(t.read().count() === 0)
    // the table still works once real rows arrive
    t.append(nums(0, 10).coalesce(1))
    t.deleteWhere(col("id") < 3)
    assert(t.read().count() === 7)
  }
}
