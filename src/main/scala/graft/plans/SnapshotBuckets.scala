package graft.plans

import org.apache.hadoop.fs.Path

import graft.plans.Snapshots.{jsonFormats, BucketConfig, GbCol}

/** Bucketed-layout plumbing for [[Snapshots.SnapshotTable]] — the
  * `_bucket.json` sidecar and Spark bucket-tag file naming. Split out of
  * Snapshots.scala purely for file size; every member runs as part of the
  * table class (self-typed mixin). The staging-side bucket placement
  * itself lives in `stage()` (Snapshots.scala) because it is inseparable
  * from the write path.
  */
private[plans] trait SnapshotBucketOps { self: Snapshots.SnapshotTable =>

  /** Renames every staged data file to carry Spark's bucketed-file tag
    * (`_00003` before the extension chain) derived from its
    * `graftbucket=<i>` path segment. The marker dir itself stays in the
    * path (harmless: not a declared partition column) and the manifest
    * records the full relative path.
    * `FileSourceScanExec` groups a bucketed relation's files by parsing
    * this tag ([[org.apache.spark.sql.execution.datasources
    * .BucketingUtils.getBucketId]]), so each rename is verified against
    * that exact parser — a naming drift fails the commit loudly instead
    * of silently degrading joins.
    */
  private[plans] def tagBucketFiles(dir: Path): Unit = {
    import org.apache.spark.sql.execution.datasources.BucketingUtils
    dataFiles(dir).map(_.getPath).foreach { p =>
      val name = p.getName
      val seg = p.getParent.getName
      require(seg.startsWith(GbCol + "="),
        s"staged bucketed file not under a $GbCol dir: $p")
      val b = seg.substring(GbCol.length + 1).toInt
      val dot = name.indexOf('.')
      val tagged =
        if (dot < 0) name + BucketingUtils.bucketIdToString(b)
        else name.substring(0, dot) + BucketingUtils.bucketIdToString(b) +
          name.substring(dot)
      require(BucketingUtils.getBucketId(tagged).contains(b),
        s"bucket tag failed to parse back: $tagged")
      require(fs.rename(p, new Path(p.getParent, tagged)),
        s"could not rename staged file $p")
    }
  }

  /** CREATE-exclusive: the config is written BEFORE the v0 manifest CAS
    * (stage needs it), so a concurrent-create loser must never clobber
    * the winner's layout — an overwrite here would leave the surviving
    * table's files placed for one spec under another spec's config
    * (scans would then claim a partitioning the files don't satisfy).
    * An identical existing config is accepted (crash-retry of the same
    * CREATE); a different one fails loudly.
    */
  private[plans] def writeBucketConfig(cfg: BucketConfig): Unit = {
    val p = new Path(rootPath, "_bucket.json")
    fs.mkdirs(p.getParent)
    val bytes = org.json4s.jackson.Serialization.write(cfg)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    try {
      val out = fs.create(p, false)
      try out.write(bytes) finally out.close()
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
          _: java.io.IOException
          if fs.exists(p) =>
        val existing = SidecarJson.read[BucketConfig](fs, p)
        if (!existing.contains(cfg))
          throw new Snapshots.ConcurrentModificationException(
            s"concurrent create at $root declared a different bucket " +
              s"layout: existing=$existing, attempted=$cfg")
    }
    cachedBucket = None // invalidate: the handle may have cached pre-write
  }

  /** The table's bucketed layout, if created with one. Immutable after
    * CREATE, so cached per handle (one filesystem probe, ever).
    */
  @volatile private[plans] var cachedBucket: Option[Option[BucketConfig]] = None
  def bucketConfig(): Option[BucketConfig] = {
    if (cachedBucket == null || cachedBucket.isEmpty)
      cachedBucket = Some(
        SidecarJson.read[BucketConfig](fs, new Path(rootPath, "_bucket.json")))
    cachedBucket.get
  }

  // --------------------------------------------------- skew metadata (DDL)
  //
  // SKEWED BY (cols) ON (values) [STORED AS DIRECTORIES] — the reference's
  // list-bucketing DDL (ref ql/ddl/table/storage/skewed/
  // AlterTableSkewedByAnalyzer.java, AlterTableNotSkewedAnalyzer.java).
  // The spec is ACCEPTED and retained as table metadata (DESCRIBE shows
  // it), but no per-value directory layout is materialized: this engine
  // handles data skew at runtime —
  // AQE skew-join splitting plus salted repartition (operators/Skew) —
  // which covers the hot keys list-bucketing hard-codes at DDL time and
  // the ones it doesn't know about yet. The metadata keeps the declared
  // hot-key list available to operators that want a static hint.

  /** Current skew declaration, if any. */
  def skewSpec(): Option[Snapshots.SkewSpec] =
    SidecarJson.read[Snapshots.SkewSpec](fs, new Path(rootPath, "_skew.json"))

  /** ALTER TABLE ... SKEWED BY — declare (replace) the skew spec. */
  def setSkewed(spec: Snapshots.SkewSpec): Unit = {
    val schema = schemaOf(latest().schemaJson)
    val missing = spec.cols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"SKEWED BY references nonexistent column(s): ${missing.mkString(", ")}")
    spec.values.foreach(g => require(g.size == spec.cols.size,
      s"skewed value (${g.mkString(", ")}) arity ${g.size} != " +
        s"column count ${spec.cols.size}"))
    SidecarJson.write(fs, new Path(rootPath, "_skew.json"), spec)
  }

  /** ALTER TABLE ... NOT SKEWED — drop the declaration entirely. */
  def clearSkewed(): Unit =
    fs.delete(new Path(rootPath, "_skew.json"), false)

  /** ALTER TABLE ... NOT STORED AS DIRECTORIES — keep the skew columns/
    * values, drop the directory flag (mirrors the reference's separate
    * AlterTableNotStoredAsDirsAnalyzer).
    */
  def clearSkewDirectories(): Unit =
    skewSpec().foreach(s =>
      SidecarJson.write(fs, new Path(rootPath, "_skew.json"),
        s.copy(storedAsDirectories = false)))
}
