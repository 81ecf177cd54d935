package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import graft.SparkSpec

/** `SnapshotTable.dataFiles`, the one listing behind staging, bucket
  * tagging, delete sidecars and vacuum, walks directories with
  * `listStatus`. It must list exactly what the recursive `listFiles` walk
  * it replaced listed — the same files, in the same order, with the same
  * sizes — on a committed partitioned, bucketed layout that holds the
  * writer's `_SUCCESS` markers, the local filesystem's `.crc` checksums and
  * the table's own `_`-prefixed sidecars.
  */
class SnapshotListingSpec extends SparkSpec {

  test("dataFiles lists a partitioned, bucketed commit as the recursive listFiles walk did") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_listing_").toString + "/t"
    val rows = (0 until 300).map(i => (i.toLong, s"name$i", i % 3)).toDF("k", "s", "p")
    val t = Snapshots.create(spark, root, rows, partitionBy = Seq("p"),
      bucketBy = Some(("k", 4)))
    t.append(rows.withColumn("k", $"k" + 1000))

    // the filters have something to filter
    val onDisk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      .iterator().asScala.map(_.getFileName.toString).toSeq
    assert(onDisk.contains("_SUCCESS"))
    assert(onDisk.exists(n => n.startsWith(".") && n.endsWith(".crc")))
    assert(onDisk.contains("_bucket.json"))

    val fs = t.fs
    def recursiveListFiles(dir: Path): Seq[(Path, Long)] = {
      val it = fs.listFiles(dir, true)
      val out = Seq.newBuilder[(Path, Long)]
      while (it.hasNext) {
        val s = it.next()
        val name = s.getPath.getName
        if (s.isFile && !name.startsWith("_") && !name.startsWith("."))
          out += s.getPath -> s.getLen
      }
      out.result()
    }
    val data = new Path(root, "data")
    Seq(data, t.rootPath).foreach { dir =>
      val listed = t.dataFiles(dir).map(s => s.getPath -> s.getLen)
      assert(listed.nonEmpty)
      assert(listed === recursiveListFiles(dir), s"listing of $dir")
    }
    // the listing of the data dir is the manifest's file set: 2 commits ×
    // 3 partitions × 4 buckets
    val listed = t.dataFiles(data).map(s => t.relativize(s.getPath))
    assert(listed.size === 24)
    assert(listed.toSet === t.latest().files.toSet)
  }
}
