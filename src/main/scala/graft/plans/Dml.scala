package graft.plans

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Copy-on-write DML over parquet table directories: UPDATE / DELETE / MERGE.
  *
  * Hive implements these on ACID tables via delta files + compaction
  * (ref ql/src/java/org/apache/hadoop/hive/ql/io/AcidUtils.java:148,
  * parse/UpdateSemanticAnalyzer.java, parse/MergeSemanticAnalyzer.java:46 —
  * MERGE rewrites to a multi-insert). Without a table format, the Spark-native
  * equivalent is copy-on-write: plan the post-image declaratively (Catalyst
  * optimizes the anti-join/union), write it out, atomically swap directories.
  * Semantics: last-writer-wins, single-writer; no concurrent-writer
  * guarantees (Hive needed a metastore txn manager for that — out of scope,
  * SURVEY §7).
  *
  * Scale design — partition-pruned COW: on a Hive-style `key=value` layout
  * (written by `partitionBy`), a DML statement rewrites ONLY the partitions
  * that contain matching rows. The affected-partition set is computed first
  * (when the predicate constrains partition columns, Catalyst prunes that
  * scan to the matching directories — metadata-cost); the post-image of just
  * those partitions is written in one `partitionBy` job to a staging dir,
  * and only the touched leaf directories are swapped (per-leaf staged
  * rename). A `DELETE WHERE day = X` on a 100 TB table costs one partition,
  * not a full rewrite — the COW analog of Hive rewriting only ACID deltas.
  * Unpartitioned layouts keep the whole-table swap.
  *
  * As in Hive, partition columns cannot be assigned by UPDATE or
  * MERGE ... WHEN MATCHED (rows never move between partitions in place).
  */
object Dml {

  private val DefaultPartName = "__HIVE_DEFAULT_PARTITION__"

  /** Partition manifest cache — the Spark-native analog of Hive keeping
    * partitions in the metastore (ref standalone-metastore/.../
    * hive_metastore.thrift:651). Without it every DML statement re-lists the
    * whole partition tree on the driver: fine at 10^3 leaves, a per-statement
    * stall at 10^5-10^6. The cache is maintained transactionally with each
    * commit (leaves added/removed by the statement are applied to the cached
    * manifest), so repeated statements never re-list. Single-writer, like the
    * rest of this module; external writers must call [[invalidateLayout]].
    */
  private val layoutCache =
    scala.collection.concurrent.TrieMap.empty[String, Option[Layout]]

  /** Count of full partition-tree listings (observable by tests). */
  private[plans] val treeListings = new java.util.concurrent.atomic.AtomicLong(0)

  /** Parquet schema per table path (r18): `spark.read.parquet` runs a footer
    * schema-inference pass on EVERY call — a fixed per-statement driver cost.
    * UPDATE/DELETE/MERGE post-images are projected to the target's columns
    * (schema-preserving by construction), so the inferred schema stays valid
    * across this module's COW commits; the insert paths and external writes
    * invalidate it alongside the layout.
    */
  private val schemaCache =
    scala.collection.concurrent.TrieMap
      .empty[String, org.apache.spark.sql.types.StructType]

  /** Drop the cached partition manifest for a table path (call after writing
    * to the table outside this module).
    */
  def invalidateLayout(table: String): Unit = {
    layoutCache.remove(table)
    schemaCache.remove(table)
  }

  /** Internal table read with partition-column type inference OFF: partition
    * values stay strings that match the directory names byte-for-byte, so
    * affected-partition tuples round-trip exactly (inference would turn dir
    * `k=00` into int 0, rendered back as "0" — breaking both the leaf lookup
    * and the staged rewrite). Comparisons in user predicates still coerce.
    */
  private def readTable(spark: SparkSession, table: String): DataFrame = {
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try schemaCache.get(table) match {
      case Some(s) => spark.read.schema(s).parquet(table)
      case None =>
        val df = spark.read.parquet(table)
        schemaCache.put(table, df.schema)
        df
    }
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** A detected Hive-style partition layout: ordered partition columns and
    * the existing leaf directories keyed by their (unescaped) value tuple.
    * NULL partitions (the default-partition dir) key as `null` values.
    */
  private[plans] case class Layout(cols: Seq[String], leaves: Map[Seq[String], String])

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def hidden(name: String): Boolean =
    name.startsWith(".") || name.startsWith("_")

  /** Relative paths of all `k=v[/k2=v2...]` leaf directories under root.
    * A `k=v` dir containing neither data files nor child partition dirs is
    * ignored (a stray empty intermediate, e.g. left by an interrupted
    * external delete) rather than parsed as a short leaf — which would trip
    * the layout-consistency require and brick DML on the table.
    */
  private def leafDirs(fs: FileSystem, root: Path): Seq[String] = {
    def walk(p: Path, rel: String): Seq[String] = {
      val all = fs.listStatus(p).toSeq
      val kids = all.filter(s => s.isDirectory && s.getPath.getName.contains("=") &&
        !hidden(s.getPath.getName))
      if (kids.isEmpty) {
        val hasData = all.exists(s => s.isFile && !hidden(s.getPath.getName))
        if (rel.isEmpty || !hasData) Nil else Seq(rel)
      }
      else kids.flatMap { k =>
        walk(k.getPath,
          if (rel.isEmpty) k.getPath.getName else rel + "/" + k.getPath.getName)
      }
    }
    if (fs.exists(root)) walk(root, "") else Nil
  }

  /** Hive path unescaping: %xx escapes produced by the partitioned writer. */
  private def unescapePathName(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          Character.digit(s.charAt(i + 1), 16) >= 0 &&
          Character.digit(s.charAt(i + 2), 16) >= 0) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def parseLeaf(rel: String): (Seq[String], Seq[String]) = {
    val segs = rel.split("/").toSeq.map { seg =>
      val i = seg.indexOf('=')
      (unescapePathName(seg.substring(0, i)), unescapePathName(seg.substring(i + 1)))
    }
    (segs.map(_._1),
      segs.map { case (_, v) => if (v == DefaultPartName) null else v })
  }

  private[plans] def detectLayout(spark: SparkSession, table: String): Option[Layout] =
    layoutCache.getOrElseUpdate(table, {
      treeListings.incrementAndGet()
      val rels = leafDirs(fsOf(spark, table), new Path(table))
      if (rels.isEmpty) None
      else {
        val parsed = rels.map(r => r -> parseLeaf(r))
        val cols = parsed.head._2._1
        require(parsed.forall(_._2._1 == cols),
          s"inconsistent partition directory layout under $table")
        Some(Layout(cols, parsed.map { case (r, (_, vs)) => vs -> r }.toMap))
      }
    })

  /** Apply a commit's leaf additions/removals to the cached manifest. */
  private def commitLayout(table: String, layout: Layout,
      removed: Seq[String], added: Seq[String]): Unit = {
    val rm = removed.toSet
    val kept = layout.leaves.filterNot { case (_, rel) => rm.contains(rel) }
    val next = kept ++ added.map(rel => parseLeaf(rel)._2 -> rel)
    if (next.isEmpty) layoutCache.remove(table)
    else layoutCache.put(table, Some(Layout(layout.cols, next)))
  }

  /** Distinct partition-value tuples (as strings, null for SQL NULL) of
    * `rows`. Driver-side collect is bounded by the number of affected
    * partitions — metadata scale, like listing partitions.
    */
  private def affectedTuples(rows: DataFrame, cols: Seq[String]): Seq[Seq[String]] =
    rows.select(cols.map(c => col(c).cast("string")): _*).distinct().collect()
      .map(r => cols.indices.map(i => if (r.isNullAt(i)) null else r.getString(i)))
      .map(_.toSeq).toSeq

  private def relsOf(layout: Layout, tuples: Seq[Seq[String]], table: String): Seq[String] =
    tuples.map(vs => layout.leaves.getOrElse(vs, throw new IllegalStateException(
      s"partition ${layout.cols.zip(vs).mkString(",")} not found under $table")))

  /** OR-of-ANDs membership filter over the partition columns — Catalyst
    * turns this into static partition pruning on the read.
    */
  private def partFilterOf(tuples: Seq[Seq[String]], cols: Seq[String]): Column =
    tuples.map(vs => cols.zip(vs).map { case (c, v) =>
      if (v == null) col(c).isNull else col(c).cast("string") === lit(v)
    }.reduce(_ && _)).reduceOption(_ || _).getOrElse(lit(false))

  /** Write `post` (which must carry the partition columns) partitioned into a
    * staging dir, then commit per leaf: affected leaves are swapped (or
    * removed when the post-image has no rows for them), brand-new leaves are
    * moved in, and — only when `allowAppend` (MERGE inserts) — staged files
    * for existing untouched leaves are appended file-by-file. Every other
    * leaf directory of the table is never opened, never rewritten.
    */
  /** Delete now-empty `k=v` ancestors of a removed leaf (multi-level layouts:
    * removing the last `hour=Y` under `day=X` must not leave a childless
    * `day=X` behind to be parsed as a short leaf).
    */
  private def cleanEmptyParents(fs: FileSystem, root: Path, from: Path): Unit = {
    var p = from
    while (p != null && p != root && p.getName.contains("=") &&
        fs.exists(p) && fs.listStatus(p).isEmpty) {
      fs.delete(p, false)
      p = p.getParent
    }
  }

  private def prunedRewrite(spark: SparkSession, table: String, layout: Layout,
      affectedRels: Seq[String], post: DataFrame, allowAppend: Boolean): Unit = {
    val fs = fsOf(spark, table)
    val root = new Path(table)
    val tmp = new Path(table + "._cow_tmp")
    fs.delete(tmp, true)
    post.write.partitionBy(layout.cols: _*).parquet(tmp.toString)
    val tmpRels = leafDirs(fs, tmp)
    val removed = Seq.newBuilder[String]
    val added = Seq.newBuilder[String]
    // Commit is per-leaf (sequential renames), not whole-table atomic: a
    // mid-commit failure leaves earlier leaves updated and later ones not.
    // Each leaf swap is individually atomic and idempotent to retry; on
    // failure any leaf stranded in its ._cow_bak_* staging dir is restored
    // before rethrowing so no rows are left invisible to readers.
    val staged = scala.collection.mutable.ListBuffer.empty[(Path, Path)] // (bak, dst)
    def restoreStaged(): Unit = staged.foreach { case (bak, dst) =>
      if (fs.exists(bak) && !fs.exists(dst)) fs.rename(bak, dst)
    }
    try {
      affectedRels.foreach { rel =>
        val dst = new Path(table + "/" + rel)
        val src = new Path(tmp + "/" + rel)
        val bak = new Path(dst.getParent, "._cow_bak_" + dst.getName)
        fs.delete(bak, true)
        if (!fs.rename(dst, bak))
          throw new IllegalStateException(s"cannot stage partition $rel of $table")
        staged += ((bak, dst))
        val isRemoval = !fs.exists(src)
        if (!isRemoval && !fs.rename(src, dst))
          throw new IllegalStateException(s"cannot commit partition $rel of $table")
        staged.remove(staged.length - 1)
        fs.delete(bak, true)
        if (isRemoval) {
          removed += rel
          cleanEmptyParents(fs, root, dst.getParent)
        }
      }
    } catch {
      case e: Throwable => restoreStaged(); throw e
    }
    val affectedSet = affectedRels.toSet
    tmpRels.filterNot(affectedSet).foreach { rel =>
      val dst = new Path(table + "/" + rel)
      val src = new Path(tmp + "/" + rel)
      if (!fs.exists(dst)) {
        fs.mkdirs(dst.getParent)
        if (!fs.rename(src, dst))
          throw new IllegalStateException(s"cannot add partition $rel to $table")
        added += rel
      } else if (allowAppend) {
        fs.listStatus(src).filter(s => s.isFile && !hidden(s.getPath.getName))
          .foreach { f =>
            if (!fs.rename(f.getPath, new Path(dst, f.getPath.getName)))
              throw new IllegalStateException(s"cannot append to partition $rel of $table")
          }
      } else throw new IllegalStateException(
        s"unexpected rewrite of unaffected partition $rel of $table")
    }
    fs.delete(tmp, true)
    commitLayout(table, layout, removed.result(), added.result())
    spark.catalog.refreshByPath(table)
    MaterializedViews.invalidateSource(spark, table)
  }

  private def swapIn(spark: SparkSession, table: String, post: DataFrame): Unit = {
    val fs = fsOf(spark, table)
    val tmp = new Path(table + "._cow_tmp")
    val bak = new Path(table + "._cow_bak")
    fs.delete(tmp, true)
    post.write.parquet(tmp.toString)
    fs.delete(bak, true)
    if (!fs.rename(new Path(table), bak))
      throw new IllegalStateException(s"cannot stage current table $table")
    if (!fs.rename(tmp, new Path(table))) {
      fs.rename(bak, new Path(table)) // roll back
      throw new IllegalStateException(s"cannot commit new table $table")
    }
    fs.delete(bak, true)
    layoutCache.put(table, None) // whole-table swap: stays unpartitioned
    schemaCache.remove(table) // swapIn accepts arbitrary post-image schemas
    // drop any cached file listing for the swapped path
    spark.catalog.refreshByPath(table)
    // drop materialized views built over this path — they are now stale
    MaterializedViews.invalidateSource(spark, table)
  }

  private def requireNoPartitionAssignment(layout: Layout, set: Iterable[String],
      verb: String): Unit = {
    val partLower = layout.cols.map(_.toLowerCase).toSet
    val bad = set.filter(c => partLower.contains(c.toLowerCase))
    if (bad.nonEmpty) throw new UnsupportedOperationException(
      s"$verb may not assign partition column(s) ${bad.mkString(", ")} (Hive semantics)")
  }

  /** DELETE FROM table WHERE cond. */
  def deleteWhere(spark: SparkSession, table: String, cond: Column): Unit = {
    val t = readTable(spark, table)
    // keep rows where cond is false OR null (SQL DELETE semantics)
    val hit = coalesce(cond, lit(false))
    detectLayout(spark, table) match {
      case Some(l) =>
        val tuples = affectedTuples(t.filter(hit), l.cols)
        if (tuples.isEmpty) return // nothing matches: zero partitions touched
        val post = t.filter(partFilterOf(tuples, l.cols)).filter(!hit)
        prunedRewrite(spark, table, l, relsOf(l, tuples, table), post,
          allowAppend = false)
      case None =>
        swapIn(spark, table, t.filter(!hit))
    }
  }

  /** UPDATE table SET col = expr, ... WHERE cond. Partition columns cannot be
    * assigned (Hive semantics — rows never migrate partitions in place).
    */
  def updateWhere(spark: SparkSession, table: String, cond: Column,
      set: Map[String, Column]): Unit = {
    val t = readTable(spark, table)
    val unknown = set.keySet.diff(t.columns.toSet)
    require(unknown.isEmpty,
      s"UPDATE assigns nonexistent column(s): ${unknown.mkString(", ")}")
    val hit = coalesce(cond, lit(false))
    // one projection, not a fold: SQL assignments all read the PRE-update
    // row (SET a = b, b = a swaps)
    def postOf(base: DataFrame): DataFrame = base.select(base.columns.map(c =>
      set.get(c).map(e => when(hit, e).otherwise(col(c))).getOrElse(col(c))
        .as(c)): _*)
    detectLayout(spark, table) match {
      case Some(l) =>
        requireNoPartitionAssignment(l, set.keys, "UPDATE")
        val tuples = affectedTuples(t.filter(hit), l.cols)
        if (tuples.isEmpty) return
        val post = postOf(t.filter(partFilterOf(tuples, l.cols)))
        prunedRewrite(spark, table, l, relsOf(l, tuples, table), post,
          allowAppend = false)
      case None =>
        swapIn(spark, table, postOf(t))
    }
  }

  /** MERGE INTO target USING source ON key:
    * matched -> apply `whenMatchedSet` (or delete when `whenMatchedDelete`),
    * not matched -> insert source row.
    * Planned as one full-outer join + projection — the declarative equivalent
    * of Hive's rewrite-to-multi-insert. On a partitioned layout the join's
    * target side is pruned to the partitions containing matched keys; those
    * are the only directories rewritten, while inserted rows land in their
    * own (possibly new) partitions as appended files.
    *
    * Unqualified column references in `whenMatchedSet` expressions resolve to
    * the SOURCE row (the upsert intent: `Map("price" -> col("price"))` takes
    * the source's price); unassigned columns keep the target's value.
    *
    * Standard MERGE (including Hive's) raises a cardinality violation when
    * multiple source rows MATCH the same target row — otherwise each matched
    * target row would silently be duplicated in the post-image. The check is
    * folded into the merge job itself (a per-source-key count + an in-join
    * raise_error on any matched row whose key occurs twice in the source) —
    * no separate guard scan of the target. Duplicate keys absent from the
    * target are legal: both rows insert; NULL keys never match anything.
    * Callers that guarantee unique source keys (e.g. a deduped streaming
    * micro-batch) pass `sourceKeysUnique = true` to skip even the per-key
    * count.
    */
  def merge(spark: SparkSession, table: String, source: DataFrame,
      targetKey: String, sourceKey: String,
      whenMatchedSet: Map[String, Column] = Map.empty,
      whenMatchedDelete: Boolean = false,
      sourceKeysUnique: Boolean = false,
      insertUnmatched: Boolean = true): Unit =
    mergeSpec(spark, table, source, Seq(targetKey -> sourceKey),
      MergeEngine.specOf(whenMatchedSet, whenMatchedDelete, insertUnmatched),
      sourceKeysUnique)

  /** Full multi-arm MERGE (conditional matched arms, conditional insert,
    * WHEN NOT MATCHED BY SOURCE) — see [[MergeEngine]] for statement
    * semantics and joined-scope naming. `keys` are the ON-clause equi-pairs
    * (targetCol, sourceCol) — composite business keys pass several. Arms
    * that touch unmatched target rows rewrite every partition (any leaf may
    * hold one); all other statements rewrite only partitions containing
    * matched rows.
    */
  def mergeSpec(spark: SparkSession, table: String, source: DataFrame,
      keys: Seq[(String, String)], spec: MergeEngine.Spec,
      sourceKeysUnique: Boolean): Unit = {
    val target0 = readTable(spark, table)
    val cols = target0.columns
    val insertUnmatched = spec.inserts.nonEmpty

    def postOf(target: DataFrame): DataFrame =
      MergeEngine.postImage(target, source, keys, cols.toSeq, spec,
        sourceKeysUnique)

    MergeEngine.unwrapCardinality {
      detectLayout(spark, table) match {
        case Some(l) =>
          requireNoPartitionAssignment(l, spec.assignedColumns, "MERGE")
          val tuples =
            if (spec.touchesUnmatchedTargets)
              l.leaves.keys.toSeq // any leaf may hold an unmatched target row
            else affectedTuples(target0.join(
              source.select(keys.map { case (tk, sk) => col(sk).as(tk) }: _*)
                .distinct(),
              keys.map(_._1), "left_semi"), l.cols)
          if (tuples.isEmpty && !insertUnmatched) return // no matches, no inserts
          // target side pruned to matched partitions; unmatched source rows
          // fall out of the full-outer join as inserts into their own partitions
          val post = postOf(target0.filter(partFilterOf(tuples, l.cols)))
          prunedRewrite(spark, table, l, relsOf(l, tuples, table), post,
            allowAppend = insertUnmatched)
        case None =>
          swapIn(spark, table, postOf(target0))
      }
    }
  }

  /** INSERT OVERWRITE: replaces the table contents via the staged
    * whole-table swap (self-referencing sources are safe — the post-image
    * is fully written to the staging dir before the current table moves).
    * A partitioned layout is preserved: the post-image rewrites the same
    * partition columns.
    */
  def insertOverwrite(spark: SparkSession, table: String, rows: DataFrame): Unit =
    detectLayout(spark, table) match {
      case Some(l) =>
        val fs = fsOf(spark, table)
        val tmp = new Path(table + "._cow_tmp")
        val bak = new Path(table + "._cow_bak")
        fs.delete(tmp, true)
        rows.write.partitionBy(l.cols: _*).parquet(tmp.toString)
        fs.delete(bak, true)
        if (!fs.rename(new Path(table), bak))
          throw new IllegalStateException(s"cannot stage current table $table")
        if (!fs.rename(tmp, new Path(table))) {
          fs.rename(bak, new Path(table)) // roll back
          throw new IllegalStateException(s"cannot commit new table $table")
        }
        fs.delete(bak, true)
        invalidateLayout(table) // new leaf set (schema drops with it)
        spark.catalog.refreshByPath(table)
        MaterializedViews.invalidateSource(spark, table)
      case None => swapIn(spark, table, rows)
    }

  /** INSERT INTO (append); respects a partitioned layout (dynamic-partition
    * append — new rows land in their `key=value` directories).
    */
  def insertInto(spark: SparkSession, table: String, rows: DataFrame): Unit = {
    detectLayout(spark, table) match {
      case Some(l) =>
        rows.write.mode("append").partitionBy(l.cols: _*).parquet(table)
        invalidateLayout(table) // appended rows may have created new leaves
      case None => rows.write.mode("append").parquet(table)
    }
    spark.catalog.refreshByPath(table)
    MaterializedViews.invalidateSource(spark, table)
  }

  /** Multi-insert: FROM src INSERT INTO a SELECT ... INSERT INTO b SELECT ...
    * (ref SemanticAnalyzer multi-insert). The source is analyzed once and
    * cached so N sinks share one scan — the Spark analog of Hive's shared
    * FROM clause / SharedWorkOptimizer.
    */
  def multiInsert(spark: SparkSession, source: DataFrame,
      sinks: Seq[(DataFrame => DataFrame, String)]): Unit = {
    val cached = source.cache()
    try sinks.foreach { case (f, path) =>
      f(cached).write.mode("append").parquet(path)
      spark.catalog.refreshByPath(path)
      MaterializedViews.invalidateSource(spark, path)
    } finally cached.unpersist()
  }
}
