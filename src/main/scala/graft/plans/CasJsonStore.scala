package graft.plans

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Versioned compare-and-swap JSON document store — the one durable-state
  * discipline of this library's metastore stand-ins (ref standalone-
  * metastore/src/main/thrift/hive_metastore.thrift — all of these are
  * metastore tables in the reference). Its users:
  *
  *   - the [[NamedTables]] catalog (the `spark.graft.catalog` dir itself),
  *     the [[Authz]] database (`_authz`), [[Workload]] resource plans
  *     (`_workload`) and the [[ScheduledQueries]] registry (`_scheduled`),
  *     each attached through one [[CasJsonStore.Attached]];
  *   - a snapshot table's branch/tag refs ([[SnapshotRefOps]], `_refs`);
  *   - the [[Snapshots]] manifest log, which keeps its own cache, delta
  *     encoding, slot allocation and unpruned history (time travel reads
  *     old versions) but names, lists and publishes its `v%08d.json`
  *     files through the companion's primitive.
  *
  * The full document is one `v%08d.json` per change, published
  * create-exclusive: concurrent writer JVMs CAS on the version number and
  * the loser replays its mutation against the fresh state, so no change is
  * lost. Documents are tiny (rows of names/grants/plans), so
  * whole-doc-per-version costs nothing and keeps recovery a single-file
  * read.
  *
  * Scope: ONE catalog per JVM, like the metastore connection it stands in
  * for — every registry bootstraps its store from the first session's
  * `spark.graft.catalog` and is JVM-global thereafter. Hosting sessions
  * with DIFFERENT catalog dirs in one JVM is out of scope (they would
  * share registries), exactly as two metastores in one HiveServer2 are.
  */
private[plans] final class CasJsonStore[T](
    dir: Path,
    conf: Configuration,
    empty: T,
    encode: T => String,
    decode: String => T) {

  private val fs = dir.getFileSystem(conf)

  private def versions(): Seq[Long] = CasJsonStore.versions(fs, dir)

  /** (latest version, its document); (-1, empty) for a fresh store. */
  def load(): (Long, T) = versions().lastOption match {
    case None => (-1L, empty)
    case Some(v) =>
      val in = fs.open(CasJsonStore.versionPath(dir, v))
      val txt = try {
        val bs = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bs, 8192, false)
        bs.toString("UTF-8")
      } finally in.close()
      (v, decode(txt))
  }

  /** CAS publish of version `v` — create-exclusive, false on conflict.
    * Versions must be strictly increasing over the CURRENT listing: a
    * writer stalled long enough for its target version to be published
    * AND pruned by others would otherwise re-create the deleted file,
    * "win", and have its mutation silently shadowed by the newer latest
    * (readers take lastOption). The newest version is never pruned, so
    * the listing always witnesses any number that was ever taken.
    */
  private[plans] def publish(v: Long, doc: T): Boolean =
    !versions().lastOption.exists(_ >= v) &&
      CasJsonStore.publish(fs, dir, v, encode(doc).getBytes("UTF-8"))

  /** Apply `op` to the durable document, CAS-retrying against fresh state. */
  def mutate(op: T => T): Unit = {
    var done = false
    var tries = 0
    while (!done) {
      val (v, cur) = load()
      val next = op(cur)
      done = (next == cur) || publish(v + 1, next)
      if (done && next != cur) prune(v + 1)
      tries += 1
      require(tries <= 50, s"CAS did not converge at $dir")
    }
  }

  /** Retire old versions after a successful publish — a hot mutation path
    * (scheduled-query lastRunAt per tick) would otherwise grow the
    * directory one file per change forever, and every load() lists it
    * all. Readers always pick the LATEST version, so keeping a window of
    * trailing versions covers any in-flight load, and [[publish]]'s
    * strictly-increasing check keeps pruned numbers from ever being
    * recycled; deletes are best-effort.
    */
  private val keepVersions = 20
  private def prune(latest: Long): Unit =
    versions().filter(_ <= latest - keepVersions).foreach { v =>
      try fs.delete(CasJsonStore.versionPath(dir, v), false)
      catch { case _: Exception => () }
    }
}

private[plans] object CasJsonStore {

  /** The file holding version `v` of the log under `dir`. */
  def versionPath(dir: Path, v: Long): Path = new Path(dir, f"v$v%08d.json")

  /** Version numbers present under `dir`, ascending; empty if it is absent. */
  def versions(fs: FileSystem, dir: Path): Seq[Long] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(_.stripPrefix("v").stripSuffix(".json").toLong).sorted

  /** Atomic create-exclusive publish of `bytes` as version `v` — false
    * when the version already exists. The bytes are staged in a temp file
    * beside the target; local filesystems then take a hard link (link(2)
    * fails with EEXIST), others a rename-without-overwrite through
    * FileContext, the HDFS-portable equivalent.
    */
  def publish(fs: FileSystem, dir: Path, v: Long, bytes: Array[Byte]): Boolean = {
    fs.mkdirs(dir)
    val dst = versionPath(dir, v)
    if (fs.exists(dst)) return false
    val tmp = new Path(dir, s".tmp-${java.util.UUID.randomUUID().toString}")
    val out = fs.create(tmp, false)
    try out.write(bytes) finally out.close()
    val ok =
      if (dst.toUri.getScheme == null || dst.toUri.getScheme == "file") {
        val lp = java.nio.file.Paths.get(dst.toUri.getPath)
        val tp = java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath)
        try { java.nio.file.Files.createLink(lp, tp); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else {
        try {
          org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, fs.getConf)
            .rename(fs.makeQualified(tmp), fs.makeQualified(dst))
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        }
      }
    fs.delete(tmp, false)
    ok
  }

  /** One registry's durable store: the `sub` directory of the first
    * session's `spark.graft.catalog` (`sub` empty = the dir itself),
    * attached once per dir and JVM-global thereafter. Attaching and
    * detaching lock `owner`, the registry object whose own mutations hold
    * the same lock, so no mutation interleaves with the registry's merge
    * of durable state into memory.
    */
  final class Attached[T](owner: AnyRef, sub: String, empty: T,
      encode: T => String, decode: String => T) {
    @volatile private var store: Option[CasJsonStore[T]] = None
    @volatile private var storeDir = ""

    def get: Option[CasJsonStore[T]] = store
    private[graft] def dir: String = storeDir

    /** Write `op` through to the store, if one is attached. */
    def mutate(op: T => T): Unit = store.foreach(_.mutate(op))

    /** Attach to the session's catalog dir unless already attached to it.
      * `merge` folds the durable state into the registry's memory before
      * any caller can see the store.
      */
    def attach(spark: SparkSession)(merge: CasJsonStore[T] => Unit): Unit = {
      val d = spark.conf.getOption(NamedTables.CatalogConfKey).getOrElse("")
      if (d.isEmpty || d == storeDir) return
      owner.synchronized {
        if (d == storeDir) return
        val s = new CasJsonStore[T](
          if (sub.isEmpty) new Path(d) else new Path(d, sub),
          spark.sparkContext.hadoopConfiguration, empty, encode, decode)
        merge(s)
        store = Some(s)
        storeDir = d
      }
    }

    /** Forget the store (it is detached, not wiped), as a JVM restart would. */
    def detach(): Unit = owner.synchronized { store = None; storeDir = "" }
  }
}
