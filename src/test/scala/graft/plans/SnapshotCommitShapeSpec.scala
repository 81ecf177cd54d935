package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.plans.Snapshots.Manifest

/** Manifest shape of every committing verb, mainline, branch and
  * maintenance alike, run in sequence on ONE table: the action, the parent
  * (the head the commit was planned from), the carried or changed column
  * mapping / drop tombstones / partition spec, the file and delete-sidecar
  * counts, and the exact commit meta. Each manifest is read back from the
  * log, so the checks cover what readers see, not just the writer's copy.
  *
  * Meta is the commit's own, never the head's: a DELETE after a streaming
  * batch or a RESTORE must not repeat `streamId`/`batchId` or
  * `restored_version`.
  */
class SnapshotCommitShapeSpec extends SparkSpec {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_shape_").toString + "/t"

  // one partition in, one data file out per partition dir: file counts
  // below are exact
  private def nums(lo: Int, hi: Int): DataFrame = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, s"row$i", i % 4)).toDF("id", "s", "k")
      .coalesce(1)
  }

  test("every committing verb publishes the manifest shape its contract names") {
    import spark.implicits._
    val root = freshRoot()
    val t = Snapshots.create(spark, root, nums(0, 20))
    var pc = Seq.empty[String]
    var cm = Map.empty[String, String]
    var dp = Seq.empty[String]

    // commits `run` on the mainline (or `branch`), reads the published
    // manifest back and checks it against the expected shape
    def shape(action: String, files: Int, deletes: Int,
        meta: Map[String, String] = Map.empty, branch: Option[String] = None,
        parent: Option[Long] = None)(run: => Manifest): Manifest = {
      val before = branch.fold(t.latest().version)(b => t.refs()(b).version)
      val m = run
      val r = t.resolvedManifest(m.version)
      val at = s"$action (v${m.version})"
      assert(r.version === m.version, at)
      assert(r.action === action, at)
      assert(r.parent === parent.getOrElse(before), s"$at parent")
      assert(r.partitionCols === pc, s"$at partitionCols")
      assert(r.colMapping === cm, s"$at colMapping")
      assert(r.droppedPhysical === dp, s"$at droppedPhysical")
      assert(r.files.size === files, s"$at files")
      assert(r.stats.keySet === r.files.toSet, s"$at stats")
      assert(r.deletes.size === deletes, s"$at deletes")
      assert(r.meta === meta, s"$at meta")
      branch match {
        case Some(b) => assert(t.refs()(b).version === m.version, s"$at ref")
        case None => assert(t.latest().version === m.version, s"$at head")
      }
      m
    }

    val v0 = t.latest()
    assert(v0.action === "create" && v0.files.size === 1 && v0.meta.isEmpty)
    val v1 = shape("append", 2, 0)(t.append(nums(20, 30)))
    shape("append", 3, 0, Map("streamId" -> "s1", "batchId" -> "0"))(
      t.appendBatch(nums(30, 40), "s1", 0L))
    // COW replaces the one file holding the match with one rewritten file
    shape("delete", 3, 0)(t.deleteWhere(col("id") === 25))
    shape("update", 3, 0)(
      t.updateWhere(col("id") === 35, Map("s" -> lit("u"))))
    shape("delete-mor", 3, 1)(t.deleteWhereMergeOnRead(col("id") === 1))
    shape("update-mor", 4, 2)(
      t.updateWhereMergeOnRead(col("id") === 2, Map("s" -> lit("um"))))
    val src = Seq((3L, "m", 3), (100L, "new", 0)).toDF("id", "s", "k")
      .coalesce(1)
    // the file holding id 3 rewrites together with the insert
    shape("merge", 4, 2)(t.mergeSpec(src, Seq("id" -> "id"),
      MergeEngine.specOf(Map("s" -> lit("m")), whenMatchedDelete = false,
        insertUnmatched = true), sourceKeysUnique = false, maxRetries = 10))
    val src2 = Seq((4L, "mm", 0), (101L, "new2", 1)).toDF("id", "s", "k")
      .coalesce(1)
    // images and inserts stage together, from one evaluation: one file
    shape("merge-mor", 5, 3)(t.mergeMergeOnRead(src2, "id", "id",
      whenMatchedSet = Map("s" -> lit("mm"))))

    // schema evolution: metadata-only, files and sidecars carried
    shape("add-columns", 5, 3)(t.addColumns(StructType(Seq(
      StructField("x", LongType), StructField("y", StringType)))))
    cm = Map("s2" -> "s")
    shape("rename-column", 5, 3)(t.renameColumn("s", "s2"))
    dp = Seq("y")
    shape("drop-column", 5, 3)(t.dropColumn("y"))
    shape("alter-column-type", 5, 3)(t.alterColumnType("k", LongType))
    pc = Seq("k")
    shape("set-partition-spec", 5, 3, Map("previous-spec" -> ""))(
      t.setPartitionSpec(Seq("k")))
    // k = id % 4: one file per partition dir
    shape("append", 9, 3)(t.append(
      (40 until 48).map(i => (i.toLong, s"row$i", (i % 4).toLong, 7L))
        .toDF("id", "s2", "k", "x").coalesce(1)))

    // maintenance: everything is small, so one output slot per partition
    // dir; the sidecars fold in and the delete list empties
    shape("compact", 4, 0)(t.compact(minInputFiles = 2))
    shape("cluster", 4, 0)(t.clusterBy(Seq("id")))
    shape("zorder", 4, 0)(t.zOrderBy(Seq("id", "x")))

    // restore brings v1's whole state back: spec, mapping, tombstones
    pc = Nil; cm = Map.empty; dp = Nil
    shape("restore", 2, 0, Map("restored_version" -> v1.version.toString))(
      t.restore(v1.version))
    // a commit after a restore carries none of the restore's meta
    shape("delete", 2, 0)(t.deleteWhere(col("id") === 0))
    shape("truncate", 0, 0)(t.truncate())
    shape("overwrite", 1, 0)(t.overwrite(nums(0, 10)))

    // branch line: branch commits carry only the ref marker, parent on
    // the branch head, and leave the mainline head where it was
    t.createBranch("b")
    val main = t.latest().version
    val bRef = Map(Snapshots.RefMetaKey -> "b")
    shape("append", 2, 0, bRef, Some("b"))(t.appendToBranch("b", nums(50, 60)))
    shape("delete", 2, 0, bRef, Some("b"))(
      t.deleteWhereOnBranch("b", col("id") === 50))
    shape("update", 2, 0, bRef, Some("b"))(
      t.updateWhereOnBranch("b", col("id") === 51, Map("s" -> lit("bu"))))
    val bsrc = Seq((52L, "bm", 0), (200L, "bnew", 0)).toDF("id", "s", "k")
      .coalesce(1)
    val bHead = shape("merge", 2, 0, bRef, Some("b"))(t.mergeSpecOnBranch("b",
      bsrc, Seq("id" -> "id"), MergeEngine.specOf(Map("s" -> lit("bm")),
        whenMatchedDelete = false, insertUnmatched = true)))
    assert(t.latest().version === main, "branch commits left the mainline")

    // fast-forward parents on (and diffs against) the branch head
    shape("fast-forward", 2, 0,
      Map("ff_branch" -> "b", "ff_version" -> bHead.version.toString),
      parent = Some(bHead.version))(t.fastForward("b"))
    t.createBranch("c")
    val picked = shape("append", 3, 0, Map(Snapshots.RefMetaKey -> "c"),
      Some("c"))(t.appendToBranch("c", nums(60, 70)))
    shape("cherry-pick", 3, 0, Map("cherry_picked" -> picked.version.toString))(
      t.cherryPick(picked.version))
    shape("set-current-snapshot", 2, 0,
      Map("set_version" -> bHead.version.toString))(
      t.setCurrentSnapshot(bHead.version))
    assert(t.read().count() === 20)
  }
}
