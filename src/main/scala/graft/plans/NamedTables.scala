package graft.plans

import java.util.Locale

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.TimestampType

/** Catalog names for engine-managed tables, so plain SQL addresses them like
  * any metastore table — the role of the reference's metastore entry (ref
  * standalone-metastore/src/main/thrift/hive_metastore.thrift:644 struct
  * Table: every Hive table is a name first, a location second). Here a name
  * maps to either a snapshot-table root (versioned manifest log,
  * [[Snapshots]]) or a plain parquet directory (COW DML, [[Dml]]).
  *
  * Resolution is deliberately late-bound: each query's analysis re-reads the
  * CURRENT snapshot, so a name never serves stale data after DML (a temp
  * view would freeze the file list at registration). Two surfaces install
  * it:
  *
  *   - [[graft.GraftExtensions]] injects [[ResolveNamedTables]] as an
  *     analyzer rule — `spark.sql("SELECT ... FROM sales")` works on any
  *     extensions-bootstrapped session;
  *   - [[graft.Engine.sql]] applies [[substitute]] pre-analysis, covering
  *     sessions built without the extensions hook.
  *
  * Session temp views shadow registered names on the read path (the
  * analyzer's view resolution runs first; [[substitute]] checks explicitly).
  * Names are case-insensitive, matching Spark's default resolution.
  */
object NamedTables {

  sealed trait Ref { def root: String }
  /** A snapshot-table root ([[Snapshots]] manifest log). `writeMode` picks
    * the UPDATE/DELETE statement strategy: `cow` rewrites affected files,
    * `merge-on-read` writes position-delete sidecars that readers merge
    * until compaction (the reference's delete-delta design) — the
    * `write.mode` table property.
    */
  final case class SnapshotRef(root: String, writeMode: String = WriteCow)
    extends Ref
  /** A plain parquet table directory ([[Dml]] copy-on-write). */
  final case class PathRef(root: String) extends Ref

  val WriteCow = "copy-on-write"
  val WriteMor = "merge-on-read"

  // JVM-global like the session-catalog it stands in for; tests and the
  // Verify driver share one session per JVM anyway.
  private val registry = scala.collection.concurrent.TrieMap.empty[String, Ref]

  private def norm(name: String): String = name.toLowerCase(Locale.ROOT)

  def register(name: String, ref: Ref): Unit = {
    registry.put(norm(name), ref)
    durable.mutate(_ + (norm(name) -> ref))
  }

  def registerSnapshot(name: String, root: String,
      writeMode: String = WriteCow): Unit =
    register(name, SnapshotRef(root, writeMode))

  def registerPath(name: String, path: String): Unit =
    register(name, PathRef(path))

  def drop(name: String): Unit = {
    registry.remove(norm(name))
    durable.mutate(_ - norm(name))
  }

  /** ALTER TABLE old RENAME TO new — a pure catalog move (the data root
    * never changes), like the reference's metastore table rename.
    */
  def rename(oldName: String, newName: String): Unit = {
    val ref = registry.getOrElse(norm(oldName),
      throw new IllegalArgumentException(s"no such table: $oldName"))
    require(registry.get(norm(newName)).isEmpty,
      s"table $newName already exists")
    registry.put(norm(newName), ref)
    registry.remove(norm(oldName))
    durable.mutate(m => m - norm(oldName) + (norm(newName) -> ref))
  }

  def get(name: String): Option[Ref] = registry.get(norm(name))

  /** All registered (name, ref) pairs — the SHOW TABLES analog, exposed to
    * SQL as the `graft_tables()` TVF.
    */
  def all(): Seq[(String, Ref)] = registry.toSeq.sortBy(_._1)

  // ------------------------------------------------------ persisted catalog

  /** Conf key naming a directory the registry persists to. Unset (the
    * default) keeps the registry in-memory only.
    */
  val CatalogConfKey = "spark.graft.catalog"

  /** Catalog serialization row: `kind` is "snapshot" or "path". Top-level so
    * json4s reflection can construct it (inner classes need an outer ref).
    */
  private case class Entry(name: String, kind: String, root: String,
      writeMode: String)

  private implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats

  private def toEntries(m: Map[String, Ref]): List[Entry] =
    m.toList.sortBy(_._1).map {
      case (n, SnapshotRef(root, wm)) => Entry(n, "snapshot", root, wm)
      case (n, PathRef(root)) => Entry(n, "path", root, "")
    }
  private def ofEntries(es: List[Entry]): Map[String, Ref] =
    es.map {
      case Entry(n, "snapshot", root, wm) => n -> SnapshotRef(root, wm)
      case Entry(n, _, root, _) => n -> PathRef(root)
    }.toMap

  /** Durable registrations, so names survive a JVM restart — the role of
    * the reference's metastore DB (ref standalone-metastore/src/main/thrift/
    * hive_metastore.thrift:644: tables are durable name→location rows). The
    * full name→ref map is one [[CasJsonStore]] document per change,
    * directly under the configured directory.
    */
  private[graft] val durable = new CasJsonStore.Attached[Map[String, Ref]](
    this, "", Map.empty,
    m => org.json4s.jackson.Serialization.write(toEntries(m)),
    txt => ofEntries(org.json4s.jackson.Serialization.read[List[Entry]](txt)))

  /** Install the persisted catalog when `spark.graft.catalog` is set: load
    * durable registrations (in-memory entries win on name conflict — they
    * are newer) and write-through every register/drop from here on.
    * Idempotent per path; called from both SQL entries' install list
    * ([[graft.Engine.install]]), so both deployment surfaces get durable
    * names without an explicit call.
    */
  def bootstrap(spark: SparkSession): Unit =
    durable.attach(spark)(_.load()._2.foreach { case (n, ref) =>
      if (!registry.contains(n)) registry.put(n, ref)
    })

  /** Test hook: forget all in-memory state (registrations and the persisted
    * store), as a JVM restart would.
    */
  private[graft] def resetForTest(): Unit = synchronized {
    registry.clear(); durable.detach()
  }

  /** The read plan for a reference — built fresh so the latest snapshot
    * version is always served.
    */
  private def readPlan(spark: SparkSession, name: String, ref: Ref): LogicalPlan = {
    val df = ref match {
      case r: SnapshotRef => Snapshots.table(spark, r.root).read()
      case PathRef(path) => spark.read.parquet(path)
    }
    SubqueryAlias(name, df.queryExecution.logical)
  }

  /** Fresh DataFrame for a registered/path-addressed identifier, if it is
    * one — the [[Authz]] policy layer wraps reads with filters/masks and
    * needs the resolved frame (for the schema) rather than the raw plan.
    */
  private[plans] def readDfIfRegistered(spark: SparkSession,
      parts: Seq[String]): Option[org.apache.spark.sql.DataFrame] =
    refReadOf(parts)
      .map { case (n, sub, root) => refReadDf(spark, n, sub, root) }
      .orElse(refOf(parts).map {
        case r: SnapshotRef => Snapshots.table(spark, r.root).read()
        case PathRef(path) => spark.read.parquet(path)
      })

  /** Resolve a relation identifier to a registered/path-addressed ref:
    * single-part names come from the registry; `snapshot.`/path`` addresses
    * a snapshot root directly (the DML/DDL analog of Spark's
    * `parquet.`/path``).
    */
  private[plans] def refOf(parts: Seq[String]): Option[Ref] = parts match {
    case Seq(name) => get(name)
    case Seq(fmt, path) if norm(fmt) == "snapshot" => Some(SnapshotRef(path))
    case _ => None
  }

  /** Branch/tag/refs read parts over a registered snapshot table —
    * Hive-Iceberg's metadata-read spelling (ref iceberg-handler
    * TestHiveIcebergBranchOperation.java:296 `SELECT * FROM
    * default.customers.branch_<name>`): `t.branch_x` and `t.tag_x` read
    * the ref's pinned state, `t.refs` lists the refs. Returns
    * (tableName, subIdentifier, snapshotRoot).
    */
  private val MetaTables =
    Set("refs", "history", "snapshots", "files", "partitions")

  private[plans] def refReadOf(parts: Seq[String])
      : Option[(String, String, String)] = parts match {
    case Seq(name, sub)
        if norm(sub).startsWith("branch_") || norm(sub).startsWith("tag_") ||
          MetaTables(norm(sub)) =>
      get(name) match {
        case Some(r: SnapshotRef) => Some((name, sub, r.root))
        case _ => None
      }
    case _ => None
  }

  /** Fresh DataFrame for a branch/tag/refs read (the [[Authz]] layer
    * policies it under the OWNING table's key — a branch is the same
    * governed data).
    */
  private[plans] def refReadDf(spark: SparkSession, name: String,
      sub: String, root: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val t = Snapshots.table(spark, root)
    if (norm(sub) == "refs") {
      t.refs().toList.sortBy(_._1)
        .map { case (n, r) => (n, r.kind, r.version) }
        .toDF("name", "type", "version")
    } else if (norm(sub) == "history") {
      // the reference's history metadata table (ref iceberg-handler
      // TestHiveIcebergSelects.java testHistory: SELECT snapshot_id FROM
      // default.source.history) — our versions ARE the snapshot ids
      val h = t.history()
      // ancestor walk over the FULL lineage (branch slots included): a
      // fast-forward's parent chain crosses branch commits, and a
      // mainline-only map would mark every pre-fork commit non-ancestor
      val parentOf = t.lineage()
      val ancestors = Iterator.iterate(h.last.version)(parentOf.getOrElse(_, -1L))
        .takeWhile(_ >= 0).toSet
      h.map(m => (new java.sql.Timestamp(m.timestampMs), m.version,
          if (m.parent < 0) null else java.lang.Long.valueOf(m.parent),
          ancestors.contains(m.version)))
        .toDF("made_current_at", "snapshot_id", "parent_id",
          "is_current_ancestor")
    } else if (norm(sub) == "snapshots") {
      t.history().map(m => (new java.sql.Timestamp(m.timestampMs), m.version,
          if (m.parent < 0) null else java.lang.Long.valueOf(m.parent),
          m.action,
          m.meta ++ Map(
            "total-files" -> m.files.size.toString,
            "total-records" -> m.stats.values.map(_.rows).sum.toString)))
        .toDF("committed_at", "snapshot_id", "parent_id", "operation",
          "summary")
    } else if (norm(sub) == "files") {
      val m = t.latest()
      m.files.sorted.map { f =>
        val st = m.stats.get(f)
        (f, st.map(_.rows).getOrElse(-1L), st.map(_.bytes).getOrElse(-1L))
      }.toDF("file_path", "record_count", "file_size_in_bytes")
    } else if (norm(sub) == "partitions") {
      val m = t.latest()
      // only DECLARED partition columns count: bucketed tables stage files
      // under graftbucket=N path segments (a layout detail, not a
      // partition) — reporting those would show an unpartitioned 16-bucket
      // table as 16 bogus partitions
      val declared = m.partitionCols.toSet
      m.files.map { f =>
        val part = f.split('/')
          .filter(s => s.indexOf('=') > 0 &&
            declared.contains(s.substring(0, s.indexOf('='))))
          .mkString("/")
        val st = m.stats.get(f)
        (part, st.map(_.rows).getOrElse(0L))
      }.groupBy(_._1).toList.sortBy(_._1)
        .map { case (pt, fs) =>
          (pt, fs.map(_._2).sum, fs.size.toLong) }
        .toDF("partition", "record_count", "file_count")
    } else {
      val kind = if (norm(sub).startsWith("branch_")) "branch" else "tag"
      val refName = sub.substring(kind.length + 1)
      val r = t.refs().getOrElse(refName,
        throw new IllegalArgumentException(s"no $kind $refName on table $name"))
      require(r.kind == kind,
        s"$refName on table $name is a ${r.kind}, not a $kind")
      t.readRef(refName)
    }
  }

  private def refReadPlan(spark: SparkSession, name: String, sub: String,
      root: String): LogicalPlan =
    SubqueryAlias(sub, refReadDf(spark, name, sub, root).queryExecution.logical)

  /** Reverse lookup: the registered name owning `root`, if any — the
    * [[Authz]] layer uses it so path-addressed access to a governed
    * table's data enforces that table's grants and policies.
    */
  private[plans] def nameOfRoot(root: String): Option[String] = {
    val norm = new org.apache.hadoop.fs.Path(root).toUri.getPath
    registry.collectFirst {
      case (name, ref)
          if new org.apache.hadoop.fs.Path(ref.root).toUri.getPath == norm =>
        name
    }
  }

  private def tempViewExists(spark: SparkSession, name: String): Boolean =
    spark.sessionState.catalog.getTempView(name).isDefined ||
      spark.sessionState.catalog.getGlobalTempView(name).isDefined

  /** `VERSION AS OF` / `TIMESTAMP AS OF` read plan for a snapshot ref. */
  private def timeTravelPlan(spark: SparkSession, name: String, ref: Ref,
      timestamp: Option[Expression], version: Option[String]): LogicalPlan = {
    val root = ref match {
      case r: SnapshotRef => r.root
      case PathRef(_) => throw new UnsupportedOperationException(
        s"$name is a plain parquet table — time travel needs a snapshot table")
    }
    val t = Snapshots.table(spark, root)
    val df = (version, timestamp) match {
      case (Some(v), _) => t.readVersion(v.toLong)
      case (_, Some(ts)) => t.readAsOf(evalTimestampMs(ts))
      case _ => t.read()
    }
    SubqueryAlias(name, df.queryExecution.logical)
  }

  /** Evaluate a TIMESTAMP AS OF expression to epoch millis (UTC session). */
  private def evalTimestampMs(e: Expression): Long = {
    val micros =
      try Cast(e, TimestampType, Some("UTC")).eval(null)
      catch { case scala.util.control.NonFatal(_) => null }
    micros match {
      case l: java.lang.Long => l.longValue() / 1000L
      case _ => throw new IllegalArgumentException(
        s"cannot evaluate TIMESTAMP AS OF expression: ${e.sql}")
    }
  }

  /** Pre-analysis substitution of registered names (and `snapshot.`/path``
    * relations) with fresh read plans — the front-door path for sessions
    * built without the extensions hook. Temp views and in-scope CTE
    * aliases win over registered names, matching the analyzer-rule
    * precedence ([[CteScope]] carries the positional CTE scope and — unlike
    * `transformDownWithSubqueries` — reaches references INSIDE CTE
    * definitions, which are not plan children). Top-down so a
    * RelationTimeTravel wrapper is seen before its child relation.
    */
  def substitute(spark: SparkSession, plan: LogicalPlan): LogicalPlan =
    CteScope.transform(plan) { (node, scope) =>
      node match {
        case RelationTimeTravel(u: UnresolvedRelation, ts, v)
            if resolvable(spark, u, scope) =>
          Some(timeTravelPlan(spark, u.multipartIdentifier.last,
            refOf(u.multipartIdentifier).get, ts, v))
        case u: UnresolvedRelation
            if refReadOf(u.multipartIdentifier).isDefined &&
              !CteScope.shadowed(u.multipartIdentifier, scope) =>
          val (n, sub, root) = refReadOf(u.multipartIdentifier).get
          Some(refReadPlan(spark, n, sub, root))
        case u: UnresolvedRelation if resolvable(spark, u, scope) =>
          Some(readPlan(spark, u.multipartIdentifier.last,
            refOf(u.multipartIdentifier).get))
        case _ => None
      }
    }

  private def resolvable(spark: SparkSession, u: UnresolvedRelation,
      cteScope: Set[String]): Boolean =
    refOf(u.multipartIdentifier).isDefined &&
      !CteScope.shadowed(u.multipartIdentifier, cteScope) &&
      !(u.multipartIdentifier.size == 1 &&
        tempViewExists(spark, u.multipartIdentifier.head))

  /** Analyzer rule form, injected by [[graft.GraftExtensions]]. Built-in view
    * resolution runs earlier in the same fixed-point batch, so temp views
    * shadow registered names without an explicit check.
    */
  class ResolveNamedTables(session: SparkSession) extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsDown {
      case RelationTimeTravel(u: UnresolvedRelation, ts, v)
          if refOf(u.multipartIdentifier).isDefined =>
        timeTravelPlan(session, u.multipartIdentifier.last,
          refOf(u.multipartIdentifier).get, ts, v)
      case u: UnresolvedRelation if refReadOf(u.multipartIdentifier).isDefined =>
        val (n, sub, root) = refReadOf(u.multipartIdentifier).get
        refReadPlan(session, n, sub, root)
      case u: UnresolvedRelation if refOf(u.multipartIdentifier).isDefined =>
        readPlan(session, u.multipartIdentifier.last,
          refOf(u.multipartIdentifier).get)
    }
  }
}
