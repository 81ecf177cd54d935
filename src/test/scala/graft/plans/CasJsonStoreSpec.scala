package graft.plans

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** The one versioned-CAS primitive ([[CasJsonStore]]): create-exclusive
  * publish under a race, the strictly-increasing guard against a stalled
  * writer, and the on-disk document formats of the catalog and the authz
  * database.
  */
class CasJsonStoreSpec extends SparkSpec {

  private def tmpDir(): String = Files.createTempDirectory("graft_cas_").toString

  private def conf = spark.sparkContext.hadoopConfiguration

  test("two threads racing for one version: exactly one wins, no temp file is left") {
    val dir = new Path(tmpDir())
    val fs = dir.getFileSystem(conf)
    (0L until 20L).foreach { v =>
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val wins = new java.util.concurrent.atomic.AtomicInteger()
      val threads = Seq("a", "b").map { who =>
        new Thread(() => {
          barrier.await()
          if (CasJsonStore.publish(fs, dir, v, s"$who$v".getBytes(UTF_8)))
            wins.incrementAndGet()
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(wins.get === 1, s"version $v")
    }
    assert(CasJsonStore.versions(fs, dir) === (0L until 20L))
    assert(fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.contains(".tmp-")).isEmpty)
  }

  test("a writer stalled behind a published and pruned version cannot win") {
    val dir = new Path(tmpDir())
    val fs = dir.getFileSystem(conf)
    val store = new CasJsonStore[Int](dir, conf, 0, _.toString, _.toInt)
    (1 to 25).foreach(_ => store.mutate(_ + 1))
    assert(store.load() === ((24L, 25)))
    assert(!fs.exists(CasJsonStore.versionPath(dir, 2)), "v2 was pruned")
    assert(!store.publish(2, 99))
    assert(!store.publish(24, 99))
    assert(!fs.exists(CasJsonStore.versionPath(dir, 2)))
    assert(store.load() === ((24L, 25)))
  }

  /** `doc` as version 0 under `dir`; after the registry attaches, version
    * 1 written from the decoded value must hold the same bytes.
    */
  private def roundTrip[T](dir: String, doc: String,
      attach: () => Option[CasJsonStore[T]]): T = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "v00000000.json"), doc.getBytes(UTF_8))
    val store = attach().get
    val (v, loaded) = store.load()
    assert(v === 0L)
    assert(store.publish(1, loaded))
    assert(new String(Files.readAllBytes(Paths.get(dir, "v00000001.json")),
      UTF_8) === doc)
    loaded
  }

  test("a catalog document in the persisted format loads unchanged") {
    val doc = """[{"name":"raw","kind":"path","root":"/data/raw","writeMode":""},""" +
      """{"name":"sales","kind":"snapshot","root":"/data/sales","writeMode":"merge-on-read"}]"""
    val before = NamedTables.all()
    val dir = tmpDir()
    spark.conf.set(NamedTables.CatalogConfKey, dir)
    try {
      NamedTables.resetForTest()
      val loaded = roundTrip[Map[String, NamedTables.Ref]](dir, doc, () => {
        NamedTables.bootstrap(spark); NamedTables.durable.get
      })
      assert(loaded === Map(
        "raw" -> NamedTables.PathRef("/data/raw"),
        "sales" -> NamedTables.SnapshotRef("/data/sales", NamedTables.WriteMor)))
      assert(NamedTables.get("SALES") ===
        Some(NamedTables.SnapshotRef("/data/sales", NamedTables.WriteMor)))
    } finally {
      spark.conf.unset(NamedTables.CatalogConfKey)
      NamedTables.resetForTest()
      before.foreach { case (n, ref) => NamedTables.register(n, ref) }
    }
  }

  test("an authz document in the persisted format loads unchanged") {
    val doc = """{"roles":[{"role":"analysts","members":["ann","bob"]}],""" +
      """"grants":[{"table":"sales","principal":"role:analysts","action":"select"}],""" +
      """"filters":[{"table":"sales","principal":"role:analysts","predicate":"region = 'EU'"}],""" +
      """"masks":[{"table":"sales","column":"ssn","principal":"all","expr":"'xxx'"}]}"""
    val dir = tmpDir()
    spark.conf.set(NamedTables.CatalogConfKey, dir)
    try {
      Authz.clearAll()
      val loaded = roundTrip[Authz.State](s"$dir/_authz", doc, () => {
        Authz.bootstrap(spark); Authz.durable.get
      })
      assert(loaded === Authz.State(
        roles = Map("analysts" -> Set("ann", "bob")),
        grants = Map("sales" -> Set("role:analysts" -> "select")),
        rowFilters = Map("sales" -> Map("role:analysts" -> "region = 'EU'")),
        columnMasks = Map("sales" -> Map("ssn" -> Map("all" -> "'xxx'")))))
      assert(Authz.grantsOn("sales") === Seq("role:analysts" -> "select"))
    } finally {
      spark.conf.unset(NamedTables.CatalogConfKey)
      Authz.clearAll()
    }
  }
}
