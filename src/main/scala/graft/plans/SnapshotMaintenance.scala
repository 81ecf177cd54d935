package graft.plans

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.Snapshots.Manifest

/** Layout maintenance for [[Snapshots.SnapshotTable]] — compaction,
  * clustering, z-ordering, and vacuum. Split out of Snapshots.scala purely
  * for file size; every member runs as part of the table class (self-typed
  * mixin), same semantics, same commit log.
  */
private[plans] trait SnapshotMaintenanceOps { self: Snapshots.SnapshotTable =>

  /** Compaction: bin-packs files smaller than `targetBytes` into
    * ~targetBytes outputs, committed as a normal versioned action — data
    * identical, file count lower, readers never block (the analog of the
    * reference's background minor compaction: ref
    * ql/src/java/org/apache/hadoop/hive/ql/txn/compactor/Compactor.java:40,
    * CompactorMR — there delta files fold into base files under metastore
    * txns; here small immutable files fold under the same optimistic CAS
    * as any writer, and a racing DML simply wins or replays). Run it
    * periodically after streaming appends: micro-batch commits produce
    * exactly the small-file debris this removes.
    */
  def compact(targetBytes: Long = 128L * 1024 * 1024,
      minInputFiles: Int = 2, maxRetries: Int = 10): Manifest =
    commit("compact", maxRetries) { head =>
      val sized = head.files.map(f => f -> fileBytes(head, f))
      val small = sized.filter(_._2 < targetBytes)
      if (small.size < minInputFiles) None
      else {
        val smallSet = small.map(_._1).toSet
        val nOut = outputFiles(small.map(_._2).sum, targetBytes)
        // readFiles applies pending MOR deletes, so compaction FOLDS them
        // into the rewritten files — the compactor's second job
        val input = readFiles(head.copy(files = head.files.filter(smallSet)))
        val packed =
          if (bucketConfig().isDefined)
            // bucketed tables: stage() itself regroups rows onto their
            // buckets (one task per bucket) — a repartition here would
            // just add a second shuffle for stage to undo
            input
          else if (head.partitionCols.nonEmpty)
            // co-locate each partition's rows so partitionBy emits one
            // file per (partition, output-slot) instead of a file per
            // (input task x partition)
            input.repartition(nOut, head.partitionCols.map(col): _*)
          else input.repartition(nOut)
        val (staged, stagedStats) = stage(packed, head.partitionCols,
          head.colMapping)
        // consolidate the delete list: entries for compacted-away files are
        // stale; if none survive, readers return to the join-free fast path
        val keptFiles = head.files.filterNot(smallSet)
        val newDeletes =
          if (head.deletes.isEmpty) head.deletes
          else {
            val dels = readDeletes(head.deletes)
            // sidecar entries hold provenance names, not manifest names
            val keptDf = spark.createDataFrame(
              keptFiles.map(f => org.apache.spark.sql.Row(provenanceName(f))).asJava,
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("__kept",
                  org.apache.spark.sql.types.StringType))))
            val live = dels.join(keptDf, dels("file") === keptDf("__kept"),
              "left_semi")
            if (live.isEmpty) Nil else writeDeletes(live.coalesce(1))
          }
        Some(head.copy(files = keptFiles ++ staged,
          stats = (head.stats -- smallSet) ++ stagedStats, deletes = newDeletes))
      }
    }

  /** A data file's byte size: recorded in the manifest when known (zero
    * filesystem calls — at 100 TB a per-file getFileStatus sweep is the
    * bottleneck), else from the filesystem (manifests written before sizes
    * were recorded).
    */
  private def fileBytes(m: Manifest, f: String): Long = {
    val rec = m.stats.get(f).map(_.bytes).getOrElse(0L)
    if (rec > 0L) rec else fs.getFileStatus(new Path(rootPath, f)).getLen
  }

  /** Output file count for rewriting `bytes` into ~`targetBytes` files. */
  private def outputFiles(bytes: Long, targetBytes: Long): Int =
    math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)

  /** Whole-table layout rewrite shared by [[clusterBy]] and [[zOrderBy]]:
    * `order(input, nOut)` lays the current rows (MOR deletes folded in)
    * out over `nOut` output files; the commit replaces every file and
    * empties the delete list. `what` names the keys in refusals.
    */
  private def relayout(action: String, what: String, cols: Seq[String],
      targetBytes: Long, maxRetries: Int)(
      order: (DataFrame, Int) => DataFrame): Manifest = {
    val head0 = latest()
    val bad = cols.toSet.intersect(head0.partitionCols.toSet)
    require(bad.isEmpty,
      s"$what keys cannot be partition columns: ${bad.mkString(", ")}")
    val missing = cols.filterNot(schemaOf(head0.schemaJson).fieldNames.contains)
    require(missing.isEmpty, s"unknown $what columns: ${missing.mkString(", ")}")
    commit(action, maxRetries) { head =>
      if (head.files.isEmpty) None
      else {
        val nOut = outputFiles(head.files.map(fileBytes(head, _)).sum,
          targetBytes)
        // preserveLayout: on a bucketed table the range layout survives and
        // each range-task's file splits per bucket dir — files then hold a
        // (key range x bucket) cell, prunable on both axes
        val (staged, stagedStats) = stage(order(readFiles(head), nOut),
          head.partitionCols, head.colMapping, preserveLayout = true)
        Some(head.copy(files = staged, stats = stagedStats, deletes = Nil))
      }
    }
  }

  /** Data clustering: rewrites the table range-partitioned and sorted on
    * `cols`, so files hold DISJOINT key ranges and [[readWhere]]'s
    * min/max pruning reaches partition-elimination selectivity on the
    * clustering key without any physical partitioning (the OPTIMIZE ...
    * CLUSTER BY role; the reference's CLUSTERED BY ... SORTED BY table
    * layout, ref ql/ddl CreateTableDesc bucketing/sort spec). Commits as
    * a data-identical "cluster" action — incremental consumers skip it
    * like compaction — and folds pending MOR deletes in.
    */
  def clusterBy(cols: Seq[String], targetBytes: Long = 128L * 1024 * 1024,
      maxRetries: Int = 10): Manifest =
    relayout("cluster", "cluster", cols, targetBytes, maxRetries) {
      (input, nOut) => input
        .repartitionByRange(nOut, cols.map(col): _*)
        .sortWithinPartitions(cols.map(col): _*)
    }

  /** Multi-dimensional clustering — the OPTIMIZE ... ZORDER BY analog
    * (public design: Delta Z-ordering; the Morton-curve literature).
    * [[clusterBy]] gives ONE column partition-elimination pruning but
    * leaves every other column's min/max spanning the full range;
    * Z-ordering interleaves the bits of each key's QUANTILE RANK so
    * files hold small hyper-rectangles of the key space and stats
    * pruning stays selective on EVERY z-column — the layout for the
    * "filter big fact tables by several independent columns" shape.
    *
    * Ranks come from one `approxQuantile` pass per call (driver holds
    * only 2^bits boundaries per column); bucket assignment is a single
    * codegen'd `aggregate` over the broadcast boundary array, so the
    * rewrite itself is two jobs (quantiles + write) with no per-row
    * driver work. NULLs rank lowest. Commits as a data-identical
    * "zorder" action — incremental and streaming readers skip it like
    * compaction.
    */
  def zOrderBy(cols: Seq[String], targetBytes: Long = 128L * 1024 * 1024,
      bits: Int = 8, maxRetries: Int = 10): Manifest = {
    require(cols.size >= 2,
      "zOrderBy needs >= 2 columns (use clusterBy for one)")
    require(cols.size * bits <= 62, s"${cols.size} cols x $bits bits overflows")
    val nBuckets = 1 << bits
    relayout("zorder", "z-order", cols, targetBytes, maxRetries) {
      (input, nOut) =>
        // per-column quantile boundaries (2^bits - 1 cuts); constant
        // columns degenerate to bucket 0, which is still a valid curve
        val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
        val numeric = cols.map(c => col(c).cast("double").as(c))
        val bounds = input.select(numeric: _*).stat
          .approxQuantile(cols.toArray, probs, 0.01)
        def bucketOf(c: String, bs: Array[Double]): Column = {
          val arr = array(bs.distinct.sorted.map(lit(_)).toIndexedSeq: _*)
          // count boundaries strictly below the value: one pass over the
          // broadcast literal array, fully codegen'd; NULL -> bucket 0
          aggregate(arr, lit(0),
            (acc, b) => acc + when(col(c).cast("double") > b, 1).otherwise(0))
        }
        val zcol = cols.zipWithIndex.map { case (c, ci) =>
          val bucket = bucketOf(c, bounds(ci))
          (0 until bits).map { bit =>
            // bit `bit` of this column lands at interleaved position
            // bit * ncols + ci of the z-value
            shiftleft(shiftright(bucket, bit).bitwiseAND(lit(1)),
              bit * cols.size + ci).cast("long")
          }.reduce(_.bitwiseOR(_))
        }.reduce(_.bitwiseOR(_))
        input.withColumn("__z", zcol)
          .repartitionByRange(nOut, col("__z"))
          .sortWithinPartitions("__z")
          .drop("__z")
    }
  }

  // --------------------------------------------------------------- vacuum

  /** Deletes data files referenced by no retained manifest and drops the
    * pruned manifests; time travel older than `retainLast` versions stops
    * working. Both data files AND manifests are age-gated by
    * `minAgeHours`: an in-flight appendToBranch publishes its branch
    * manifest BEFORE the ref CAS bump, so a freshly written manifest is
    * invisible to the ref scan here — deleting it would leave the branch
    * pointing at nothing once the bump lands. The age gate (the standard
    * Delta/Iceberg retention-check design) makes that window safe;
    * maintenance that knows no writer is active may pass 0.
    *
    * `orphanOnly` (DELETE ORPHAN-FILES) reclaims unreferenced data files
    * WITHOUT touching history: every manifest is retained (including
    * branch-slot manifests not pinned by a ref head — intermediate branch
    * history and cherry-pick sources) and ref aging is skipped.
    */
  def vacuum(retainLast: Int = 1, minAgeHours: Double = 24.0,
      orphanOnly: Boolean = false): Long = {
    val vs = versions()
    // refs pin their manifests: a branch/tag head must survive vacuum
    // (and keep its files referenced) or the ref dangles and branch
    // data is destroyed under the reader
    // aged-out refs (CREATE BRANCH/TAG ... RETAIN n DAYS — the
    // reference's maxRefAgeMs) expire HERE, the snapshot-expiry point,
    // so a forgotten WAP branch stops pinning manifests forever. Age is
    // measured from the ref's HEAD COMMIT timestamp (the Iceberg
    // maxRefAgeMs semantics): an actively-written branch keeps renewing
    // itself, only an ABANDONED one ages out — createdAtMs would destroy
    // a live branch under its writer. The decision runs INSIDE the CAS
    // mutate against each ref's own fields, so a ref re-created under
    // the same name while vacuum runs is never deleted by stale name.
    val nowMs = System.currentTimeMillis()
    val tsMemo = scala.collection.mutable.HashMap.empty[Long, Long]
    def headTs(v: Long): Long = tsMemo.getOrElseUpdate(v,
      try resolvedManifest(v).timestampMs
      catch { case _: Exception => Long.MaxValue }) // unreadable = keep
    if (!orphanOnly && refs().values.exists(_.maxRefAgeMs.isDefined))
      refsStore.mutate(m => m.filterNot { case (_, r) =>
        r.maxRefAgeMs.exists(a => nowMs - headTs(r.version) > a) })
    val refVersions = refs().values.map(_.version).toSet
      .filter(v => fs.exists(manifestPath(v)))
    // retainLast counts MAINLINE snapshots — branch commits must not
    // consume retention slots (EXPIRE_SNAPSHOTS RETAIN LAST n promises n
    // table versions, and a raw-slot tail of branch commits would prune
    // mainline history the caller asked to keep, incl. the head itself)
    val keep =
      if (orphanOnly) vs.toSet ++ refVersions
      else mainlineVersions().takeRight(math.max(retainLast, 1)).toSet ++
        refVersions
    // every retained manifest must be self-contained AFTER its ancestors
    // are pruned: any kept delta whose parent is NOT kept rewrites in
    // place as its resolved full form (atomic replace; logical content
    // identical). Staged through the table's own FileSystem + FileContext
    // rename so HDFS/S3A-rooted tables vacuum the same way local ones do.
    keep.toSeq.sorted.foreach { kv =>
      val km = readManifest(manifestPath(kv))
      if (km.kind == "delta" && !keep.contains(km.parent)) {
        val full = resolve(km)
        // tmp in the log dir itself so the replace is same-filesystem atomic
        val tmp = new Path(logPath, s".ckpt-${UUID.randomUUID().toString}")
        val out = fs.create(tmp, false)
        try out.write(writeManifestJson(full).getBytes("UTF-8")) finally out.close()
        org.apache.hadoop.fs.FileContext
          .getFileContext(manifestPath(kv).toUri,
            spark.sparkContext.hadoopConfiguration)
          .rename(fs.makeQualified(tmp), fs.makeQualified(manifestPath(kv)),
            org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      }
    }
    val kept = keep.map(v => resolve(readManifest(manifestPath(v))))
    val referenced = kept.flatMap(_.files) ++ kept.flatMap(_.deletes)
    // Age threshold: an in-flight writer's staged-but-uncommitted files
    // are unreferenced by EVERY manifest — deleting them would fail the
    // writer's commit. Only reclaim files older than the horizon (the
    // Delta/Iceberg retention-check design); maintenance that knows no
    // writer is active may pass 0.
    val cutoff = System.currentTimeMillis() - (minAgeHours * 3600 * 1000).toLong
    var reclaimed = 0L
    Seq("data", "deletes").foreach { sub =>
      val dir = new Path(rootPath, sub)
      if (fs.exists(dir)) {
        listParquet(dir).foreach { p =>
          if (!referenced.contains(relativize(p)) &&
              fs.getFileStatus(p).getModificationTime <= cutoff) {
            fs.delete(p, false)
            reclaimed += 1
          }
        }
        // drop now-empty, aged-out commit dirs
        fs.listStatus(dir).foreach { d =>
          if (d.isDirectory && listParquet(d.getPath).isEmpty &&
              d.getModificationTime <= cutoff)
            fs.delete(d.getPath, true)
        }
      }
    }
    // manifests are age-gated like data files: a branch manifest
    // published by an in-flight appendToBranch (ref bump not yet CAS'd)
    // is not in refVersions yet — deleting it would dangle the branch
    // the moment the bump lands. Younger-than-cutoff manifests survive
    // to the next vacuum.
    vs.filterNot(keep).foreach { v =>
      val p = manifestPath(v)
      if (fs.exists(p) && fs.getFileStatus(p).getModificationTime <= cutoff)
        fs.delete(p, false)
    }
    reclaimed
  }
}
