package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs the headline queries at local[32]
  * on SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","n_runs":2,"queries":{...},...}.
  *
  * Work is forced with the noop datasource sink (full computation, no
  * collect/serialization overhead on the measurement). One untimed warmup
  * exercises the scan + codegen paths so timings reflect steady state, then
  * SPARK_GRAFT_BENCH_RUNS (default 2) timed passes run and each query
  * reports its per-pass MIN — single-run numbers on a shared host swing
  * 3-4x on individual queries and manufacture phantom regressions.
  */
object Bench {

  /** Headline subset: one per operator family that matters at scale. */
  val headline: Seq[String] = Seq(
    "q01_tpch_q1",          // scan + filter + hash agg
    "q02_filter_q6",        // selective pushed-down scan
    "q03_join_q3_topn",     // 3-way join + top-N
    "q04_join_q5_broadcast",// 5-way join, broadcast dims
    "q11_join_nonequi",     // equi + residual predicate join
    "q19_grouping_sets",    // grouping-sets expansion
    "q22_count_distinct",   // multi distinct agg
    "q23_window_rank",      // ranking window
    "q24_window_running",   // running-frame window
    "q28_subquery_scalar",  // scalar subquery
    "q38_explode_wordcount",// UDTF explode + agg
    "e01_tumbling_window",  // event-time tumbling
    "e03_session_window",   // session windows
    "e04_dedup_first_event",// window dedup
    "e07_matchpath",        // matchpath PTF (bounded-buffer streaming scan)
    "p03_quality_score",    // text quality (map-side expressions)
    "p06_minhash_signature",// minhash signatures (map-side)
    "p13_minhash_pairs",    // LSH band join
    "p10_cosine_topk",      // brute-force similarity top-k
    "p11_ann_lsh",          // LSH ANN (multi-probe: see notes)
    "p22_clean_pipeline",   // composed clean: score+dedup(CC)+scrub
    "p28_decontaminate",    // k-gram overlap vs broadcast benchmark set
    "p29_bm25_topk",        // relational Okapi BM25 top-k
    "p34_document_chunks",  // context-window chunking (sequence+explode fan-out)
    "t07_volume_shipping",  // 6-way join
    "t13_customer_distribution", // outer join + double aggregation
    "t21_waiting_supplier", // double-correlated EXISTS/NOT EXISTS
    "t15_top_supplier",     // CTE used twice + scalar-max filter (new r10)
    "p37_semantic_dedup",   // k-means + in-cluster pair prune (new r10)
    "p38_tfidf_topterms",   // tf/df relational + per-doc top-k (new r10)
    "f31_spatial_join",     // bin-bucketed point-in-polygon join (new r11)
    "e08_stream_stream_join") // user-keyed event-time range self-join (new r11)

  /** Context the numbers need to be read correctly (emitted in the JSON). */
  val notes: Map[String, String] = Map(
    "scale_probe_agg_x64" -> ("benched from r18 on (r17 verdict item 9): " +
      "lineitem scan replicated x64 through the TPC-H Q1 aggregate shape -- " +
      "the one entry whose data term dominates its fixed cost at sf0.1, so " +
      "the 8c/32c scaling ratio reflects engine parallelism (every other " +
      "entry is fixed-overhead-bound at this SF). Recomputed from parquet " +
      "every pass like all entries; never in matched22"),
    "r17_queries_norm" -> ("queries_norm is an ARRAY in the same order " +
      "as the queries object's keys: each query's seconds restated at " +
      "pinned idle-host speed, sec * calib_nominal / calib_interp, " +
      "where calib_interp linearly interpolates calib_first..calib_last " +
      "by run position -- per-query cross-round comparisons should use " +
      "these; raw queries stay for continuity"),
    "r16_calibration" -> ("calib_first/last_sec time a fixed-work " +
      "CPU+shuffle probe (1B-row xxhash64 spin into a 4096-key agg, no " +
      "testdata inputs) immediately before and after the measurement " +
      "window; matched22_norm_sec = matched22_sec * calib_nominal_sec / " +
      "mean(first, last) restates the headline at the pinned idle-host " +
      "speed -- compare rounds (r16 on) by matched22_norm_vs_r1, which " +
      "self-corrects the host-duty-cycle drift that needed by-hand " +
      "re-measurement in r13/r14/r15"),
    "p11_ann_lsh" -> ("multi-probe LSH since r3 (probeFlips=1, 13 probe " +
      "buckets/query for ~6x recall) -- r2 and earlier benched single-probe"),
    "p37_semantic_dedup" -> ("r10 on includes the cluster-size degeneracy " +
      "guard (one extra assignment aggregation, ~+0.4s here) -- " +
      "maxClusterSize=0 skips it for trusted corpora; r9 benched unguarded"),
    "dml_pruned_roundtrip" -> ("partition-pruned COW on a partitioned copy " +
      "of orders: 1-partition UPDATE + partition-predicate DELETE + keyed " +
      "MERGE (5 updates + 2 inserts); table copy untimed"),
    "snapshot_versioned_roundtrip" -> ("snapshot-table (manifest log) DML " +
      "over orders: 3 appends + keyed MERGE + stats-pruned readWhere + " +
      "compact; v0 create untimed; every commit collects per-file min/max " +
      "stats"),
    "bucketed_spj_join" -> ("benched from r11 on: orders x lineitem " +
      "join-aggregate over CO-BUCKETED snapshot tables (16 buckets on the " +
      "order key, table build untimed) -- the join plans with ZERO " +
      "exchanges (plan-asserted in SnapshotBucketSpec + s32); breakdown's " +
      "bucketed_join_shuffle_baseline is the identical plan over raw " +
      "parquet WITH the exchange. At sf0.1 both sides fit in page cache " +
      "so the spread is near zero HERE; the exchanged bytes scale " +
      "linearly with the fact tables, the bucketed plan's network cost " +
      "stays zero -- the metric exists to pin the plan shape, not to " +
      "manufacture a local speedup"),
    "hive_acid_read_base" -> ("benched from r16 on: delete-free BASE-ONLY " +
      "acid read (the post-compaction state) of the full orders table " +
      "and aggregate, through AcidColumnarOrc's zero-copy ColumnarBatch " +
      "wrap of the orc-core batches. Spark's native ORC readers CANNOT " +
      "read acid files at all (orc-core acid detection remaps batches " +
      "under all three reader modes -- AcidColumnarSpec scaladoc), so " +
      "the DSv2 scan is the only columnar route; every acid read takes " +
      "it. The per-row Row bridge it replaced measured 1.2x slower here " +
      "and 3.6x slower at 10M rows (r16)"),
    "hive_acid_read" -> ("benched from r12 on: ACID migration read -- " +
      "reconstruct base_5 + delta_6_6 + delete_delta_7_7 over the full " +
      "orders table (4 buckets, fixture build untimed/cached) and " +
      "aggregate; the timed span is the same AcidColumnarOrc scan with " +
      "the delete side decoding only the ROW__ID columns, plus the " +
      "anti-join; steady state should CONVERT to a snapshot table, not " +
      "re-read"))

  /** The 22 queries benched since round 1 and their r1 (sf0.1, local[32],
    * single-run) totals — emitted as `matched22_sec`/`matched22_vs_r1` so
    * round-over-round drift on the stable subset is self-documenting
    * instead of requiring a by-hand join against BENCH_r01.json.
    */
  val r1Matched: Set[String] = Set(
    "q01_tpch_q1", "q02_filter_q6", "q03_join_q3_topn",
    "q04_join_q5_broadcast", "q11_join_nonequi", "q19_grouping_sets",
    "q22_count_distinct", "q23_window_rank", "q24_window_running",
    "q28_subquery_scalar", "q38_explode_wordcount", "e01_tumbling_window",
    "e03_session_window", "e04_dedup_first_event", "p03_quality_score",
    "p06_minhash_signature", "p10_cosine_topk", "p11_ann_lsh",
    "p13_minhash_pairs", "t07_volume_shipping", "t13_customer_distribution",
    "t21_waiting_supplier")
  val r1MatchedTotalSec: Double = 17.7487

  /** Data-bound scaling leg (r18, r17 verdict item 9): at sf0.1 every
    * headline query is fixed-overhead/driver-bound — the r17 scaling block
    * measured median 8c/32c ratio 1.03 while the calibration probe scaled
    * 2.97×, so shuffle/codegen wins were invisible and the bench could not
    * demonstrate parallel speedups at all. This entry replicates the
    * lineitem scan ×64 (crossJoin with a tiny range — the multiply happens
    * at scan time, no materialization) through the exact TPC-H Q1 aggregate
    * shape, making the data term large enough that the 8-core pass runs
    * measurably slower than the 32-core pass. Computed from the parquet
    * inputs on every invocation like everything else; NOT in matched22 (new
    * entries never are), so cross-round totals stay comparable.
    */
  private def scaleProbeAggX64(spark: SparkSession, sfDir: String): Double = {
    import org.apache.spark.sql.functions._
    import graft.queries.Exact._
    // The ×N multiply rides its input's partitioning (crossJoin preserves
    // it), and sf0.1 lineitem is ONE parquet row group — a scan cannot
    // parallelize below row-group granularity no matter the split size
    // (measured: c8 == c32 both with 4 MB and 256 KB splits; one task did
    // all the work). So the probe hash-repartitions the scanned rows across
    // 2×cores FIRST (deterministic key per guide §2.5 — a keyless
    // round-robin would pay a per-task sort; scale-adaptive, never a
    // hard-coded task count), then runs the ×64 multiply + aggregate on the
    // redistributed rows, making core count the binding resource (the
    // serial scan+shuffle floor is ~1/4 of the 32-core wall).
    {
      val l = Engine.table(spark, sfDir, "lineitem")
      val n = spark.sparkContext.defaultParallelism * 2
      val t0 = System.nanoTime()
      l.repartition(n, pmod(xxhash64(col("l_orderkey"), col("l_partkey"),
          col("l_suppkey")), lit(n * 50L)))
        .crossJoin(spark.range(64).select(col("id").as("__rep")))
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"), col("__rep"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsumExpr(dmul2(col("l_extendedprice"), lit(1) - col("l_discount")))
            .as("sum_disc_price"),
          dsumExpr(dmul3(col("l_extendedprice"), lit(1) - col("l_discount"),
            lit(1) + col("l_tax"))).as("sum_charge"),
          count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
  }

  /** Fixed-work host-speed calibration probe (r15 verdict ask): a
    * deterministic CPU+shuffle spin over generated data — 1B rows of
    * xxhash64 mixing into a 4096-key hash aggregate, ~1.6 s nominal on an
    * idle host — timed immediately BEFORE and AFTER the measurement
    * passes. Its only input is `spark.range`, so its wall time moves with
    * host duty-cycle and nothing else; `matched22_norm` divides that
    * drift out of the headline. Uses xxhash64/positive-divisor pmod only
    * (names whose registry rebinding either doesn't exist or is
    * semantics-identical), so registered Hive overrides can't change the
    * work measured.
    */
  private def calibrateOnce(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(0L, 1000L * 1000L * 1000L, 1L, 32)
      .select(xxhash64(col("id")).as("h0"))
      .select(xxhash64(col("h0")).as("h1"),
        pmod(col("h0"), lit(4096L)).as("k"))
      .select(xxhash64(col("h1")).as("h2"), col("k"))
      .groupBy(col("k"))
      .agg(sum(col("h2")).as("s"), count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** One probe POINT = median of 3 spins (a single spin carries GC/
    * scheduler noise of its own; the median rejects one outlier while
    * still reflecting sustained host load, which min would hide).
    */
  private def calibrate(spark: SparkSession): Double = {
    val xs = (1 to 3).map(_ => calibrateOnce(spark)).sorted
    xs(1)
  }

  /** The probe's pinned idle-host time (min of repeated runs on this
    * round's measured-idle host, r16). `matched22_norm = matched22_sec *
    * (CalibNominalSec / mean(calib_first, calib_last))` — i.e. the
    * matched-22 total restated as if the host had been running at its
    * pinned idle speed. Compare ROUNDS on the normalized number; the raw
    * number stays for continuity.
    */
  val CalibNominalSec: Double = 1.46 // r16 idle-host pin, FULL-suite
  // context (the probe runs ~10% faster inside the full bench JVM than in
  // a single-query one — hotter JIT): idle points 1.461/1.466/1.447
  // across two full runs 2026-08-16; the same runs' one loaded point
  // (1.908, host duty-cycle at window end) is what normalization corrects

  /** Bucketed snapshot tables for the SPJ measurement, built once per JVM
    * (untimed — it's ingest): orders and lineitem bucketed 16 ways on the
    * order key.
    */
  @volatile private var spjRoots: Option[(String, String)] = None
  private def spjTables(spark: SparkSession, sfDir: String): (String, String) =
    spjRoots.getOrElse {
      import org.apache.spark.sql.functions._
      val d = java.nio.file.Files.createTempDirectory("graft_bench_spj_")
        .toString
      graft.plans.Snapshots.create(spark, d + "/o",
        Engine.table(spark, sfDir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        bucketBy = Some(("o_orderkey", 16)))
      graft.plans.Snapshots.create(spark, d + "/l",
        Engine.table(spark, sfDir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice")),
        bucketBy = Some(("l_orderkey", 16)))
      spjRoots = Some((d + "/o", d + "/l"))
      spjRoots.get
    }

  /** Co-bucketed orders x lineitem join-aggregate over the bucketed
    * snapshot tables — the fact-fact join with the shuffle planned AWAY
    * (storage-partitioned join). Compare to
    * `bucketed_join_shuffle_baseline` in the breakdown: the identical
    * join-aggregate over plain parquet reads, exchanges and all. At 100 TB
    * the delta IS the fact-join shuffle cost.
    */
  /** Both SPJ measurements run with auto-broadcast OFF: at bench SF the
    * orders side would broadcast and both variants would measure the same
    * broadcast join — at 100 TB neither fact side broadcasts, and the
    * contrast being measured is merge-join-with-exchange vs
    * merge-join-co-located.
    */
  private def noBroadcast(spark: SparkSession)(f: => Unit): Double = {
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  private def bucketedSpjJoin(spark: SparkSession, sfDir: String): Double = {
    import org.apache.spark.sql.functions._
    val (rootO, rootL) = spjTables(spark, sfDir)
    val o = graft.plans.Snapshots.table(spark, rootO).read()
    val l = graft.plans.Snapshots.table(spark, rootL).read()
    noBroadcast(spark) {
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("l_extendedprice")).as("rev"),
          sum(col("l_quantity")).as("qty"))
        .write.format("noop").mode("overwrite").save()
    }
  }

  /** The same join-aggregate over the raw parquet tables (shuffle join). */
  private def shuffleJoinBaseline(spark: SparkSession, sfDir: String): Double = {
    import org.apache.spark.sql.functions._
    val o = Engine.table(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val l = Engine.table(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
    noBroadcast(spark) {
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("l_extendedprice")).as("rev"),
          sum(col("l_quantity")).as("qty"))
        .write.format("noop").mode("overwrite").save()
    }
  }

  /** Pruned-DML round-trip: builds an UNTIMED partitioned scratch copy of
    * orders, then times UPDATE (one partition) + DELETE (partition
    * predicate) + MERGE (keyed update + inserts) — the statements whose
    * pruning was rebuilt in r3 and was previously invisible to the bench.
    */
  private def dmlPrunedRoundTrip(spark: SparkSession, sfDir: String): Double = {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_bench_dml_")
      .toString + "/orders"
    val orders = Engine.table(spark, sfDir, "orders")
    orders.write.partitionBy("o_orderstatus").parquet(dir)
    // source built over the immutable input table, not the scratch dir —
    // the scratch's file listing goes stale after the delete swaps leaves
    val src = orders.filter(col("o_orderkey") < 100)
      .filter(col("o_orderkey") % 5 =!= 0 || col("o_orderstatus") =!= "F")
      .withColumn("o_totalprice", lit(1.23))
      .unionByName(orders.limit(2)
        .withColumn("o_orderkey", col("o_orderkey") + 900000000L))
    val t0 = System.nanoTime()
    graft.plans.Dml.updateWhere(spark, dir,
      col("o_orderstatus") === "P" && col("o_totalprice") > 100000,
      Map("o_orderpriority" -> lit("0-BENCH")))
    graft.plans.Dml.deleteWhere(spark, dir,
      col("o_orderstatus") === "F" && col("o_orderkey") % 5 === 0)
    graft.plans.Dml.merge(spark, dir, src, "o_orderkey", "o_orderkey",
      whenMatchedSet = Map("o_totalprice" -> col("o_totalprice")))
    (System.nanoTime() - t0) / 1e9
  }

  /** Snapshot-table round-trip: versioned appends, a keyed MERGE, a
    * stats-pruned read, and a compaction — the manifest-log write path whose
    * cost is otherwise invisible to the headline queries. The v0 create is
    * untimed (it's ingest, not DML).
    */
  private def snapshotRoundTrip(spark: SparkSession, sfDir: String): Double = {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_bench_snap_")
      .toString + "/orders"
    val orders = Engine.table(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val t = graft.plans.Snapshots.create(spark, root, orders)
    val t0 = System.nanoTime()
    t.append(orders.filter(col("o_orderkey") % 1000 === 1)
      .withColumn("o_orderkey", col("o_orderkey") + 800000000L))
    t.append(orders.filter(col("o_orderkey") % 1000 === 2)
      .withColumn("o_orderkey", col("o_orderkey") + 810000000L))
    t.append(orders.filter(col("o_orderkey") % 1000 === 3)
      .withColumn("o_orderkey", col("o_orderkey") + 820000000L))
    t.merge(orders.filter(col("o_orderkey") % 500 === 0)
        .withColumn("o_totalprice", lit(0.0)),
      "o_orderkey", "o_orderkey",
      whenMatchedSet = Map("o_totalprice" -> col("o_totalprice")),
      sourceKeysUnique = true)
    t.readWhere(col("o_orderkey") >= 800000000L)
      .write.format("noop").mode("overwrite").save()
    t.compact()
    (System.nanoTime() - t0) / 1e9
  }

  /** Post-compaction ACID read: a delete-free base-only snapshot of the
    * full orders table through [[graft.sources.AcidColumnarOrc]]. Fixture
    * build untimed and cached.
    */
  private val acidBaseFixture =
    new java.util.concurrent.atomic.AtomicReference[String]()
  private def acidBaseDir(spark: SparkSession, sfDir: String): String =
    Option(acidBaseFixture.get()).getOrElse {
      import org.apache.spark.sql.functions._
      val d = java.nio.file.Files.createTempDirectory("graft_bench_acidb_")
        .toString + "/orders"
      val orders = Engine.table(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.AcidOrc.appendDelta(spark, d, 5L, orders, buckets = 4)
      val fs = new org.apache.hadoop.fs.Path(d)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.rename(new org.apache.hadoop.fs.Path(d, "delta_5_5"),
        new org.apache.hadoop.fs.Path(d, "base_5"))
      acidBaseFixture.set(d)
      d
    }
  private def hiveAcidReadBase(spark: SparkSession, sfDir: String): Double = {
    import org.apache.spark.sql.functions._
    val dir = acidBaseDir(spark, sfDir)
    val t0 = System.nanoTime()
    graft.sources.AcidOrc.read(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)), sum(col("o_totalprice")))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Hive ACID migration read: reconstruct + aggregate an ACID directory
    * tree (base + delta + delete_delta over the full orders table). The
    * fixture build is untimed (it's the legacy warehouse, not the
    * operator); the timed span is the reader itself — listing,
    * id-column-pruned delete scan, anti-join, aggregate. A cached fixture
    * is reused across passes (ACID dirs are immutable by contract).
    */
  private val acidFixture = new java.util.concurrent.atomic.AtomicReference[String]()
  private def hiveAcidRead(spark: SparkSession, sfDir: String): Double = {
    import org.apache.spark.sql.functions._
    import graft.sources.AcidOrc
    val dir = Option(acidFixture.get()).getOrElse {
      val d = java.nio.file.Files.createTempDirectory("graft_bench_acid_")
        .toString + "/orders"
      val orders = Engine.table(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      AcidOrc.appendDelta(spark, d, 5L,
        orders.where(col("o_orderkey") % 4 === 0), buckets = 4)
      val fs = new org.apache.hadoop.fs.Path(d)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.rename(new org.apache.hadoop.fs.Path(d, "delta_5_5"),
        new org.apache.hadoop.fs.Path(d, "base_5"))
      AcidOrc.appendDelta(spark, d, 6L,
        orders.where(col("o_orderkey") % 4 === 1), buckets = 4)
      val doomed = AcidOrc.rawEvents(spark,
          (0 until 4).map(b => f"$d/base_5/bucket_$b%05d"): _*)
        .where(col("row.o_orderkey") % 8 === 0)
        .select(col("originalTransaction"), col("bucket"), col("rowId"))
      AcidOrc.appendDeleteDelta(spark, d, 7L, doomed, buckets = 4)
      acidFixture.set(d)
      d
    }
    val t0 = System.nanoTime()
    AcidOrc.read(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)), sum(col("o_totalprice")))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // local-iteration filter: comma-separated query names to bench alone
    // (also names the two roundtrips). Unset/empty = the full headline set.
    val only: Set[String] = sys.env.getOrElse("SPARK_GRAFT_BENCH_ONLY", "")
      .split(',').map(_.trim).filter(_.nonEmpty).toSet
    val spark = Engine.mainSession(defaultCpus = 32)

    def run(name: String): Unit =
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }

    // untimed warmup: one full pass over the headline set, so the timed pass
    // measures steady state (codegen compiled, JIT warm, file listings
    // cached) rather than first-run compilation latency
    val picked = if (only.isEmpty) headline else headline.filter(only)
    val doDml = only.isEmpty || only("dml_pruned_roundtrip")
    val doScale = only.isEmpty || only("scale_probe_agg_x64")
    val doSnap = only.isEmpty || only("snapshot_versioned_roundtrip")
    val doSpj = only.isEmpty || only("bucketed_spj_join")
    val doAcid = only.isEmpty || only("hive_acid_read")
    val doAcidBase = only.isEmpty || only("hive_acid_read_base")
    picked.foreach { n =>
      try run(n) catch { case _: Throwable => () }
    }

    // scaling-leg warmup (compiles its plan; same contract as the others)
    if (doScale)
      try scaleProbeAggX64(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] scale probe warmup FAILED: ${e.getMessage}") }

    // DML warmup (separate scratch copy; compiles the COW write paths)
    if (doDml)
      try dmlPrunedRoundTrip(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] dml warmup FAILED: ${e.getMessage}") }

    // snapshot warmup (separate scratch table; compiles the manifest-log paths)
    if (doSnap)
      try snapshotRoundTrip(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] snapshot warmup FAILED: ${e.getMessage}") }

    // SPJ warmup (builds the bucketed tables + compiles both join plans)
    if (doSpj)
      try { bucketedSpjJoin(spark, sfDir); shuffleJoinBaseline(spark, sfDir) }
      catch { case e: Throwable =>
        System.err.println(s"[bench] spj warmup FAILED: ${e.getMessage}") }

    // acid-base warmup (builds the compacted fixture + compiles the plan)
    if (doAcidBase)
      try hiveAcidReadBase(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] acid-base warmup FAILED: ${e.getMessage}") }

    // measurement hygiene: drop every block the warmup pass left behind
    // (retained loser-id checkpoints etc.), clear cached relations, and GC so
    // the timed pass starts from a clean heap instead of under
    // storage-memory pressure from warmup residue
    def cleanStorage(gc: Boolean): Unit = try {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      // drained statements can't reference their CTE staging dirs anymore
      graft.plans.CteMaterialize.release(spark)
      if (gc) { System.gc(); Thread.sleep(200) }
    } catch { case e: Throwable =>
      // hygiene must never kill the measurement pass (r8: an exception
      // escaping here aborted a whole bench attempt through measurePass)
      System.err.println(s"[bench] cleanStorage failed: ${e.getMessage}")
    }
    cleanStorage(gc = true)

    // calibration probe: one untimed warmup (codegen+JIT), then a timed
    // run bracketing the measurement window on each side — mean of the
    // two is the window's host-speed denominator
    calibrate(spark)
    val calibFirst = calibrate(spark)
    cleanStorage(gc = false)

    // Per-query MIN over n_runs full passes: single-run numbers on a shared
    // host manufacture phantom regressions/improvements (host-load spikes of
    // 3-4x on individual queries observed across rounds); the min of two
    // passes rejects one-sided noise while keeping wall cost bounded.
    val nRuns = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt)
    def measurePass(): Seq[(String, Double)] =
      picked.map { name =>
        val t0 = System.nanoTime()
        try run(name) catch { case _: Throwable => () }
        val sec = (System.nanoTime() - t0) / 1e9
        // keep each measurement independent of its predecessors' residue
        // (no GC between queries — pauses would bleed into the next timer
        // less predictably than the blocks do)
        cleanStorage(gc = false)
        name -> sec
      } ++ (if (!doScale) Seq.empty else Seq("scale_probe_agg_x64" -> {
        try { cleanStorage(gc = false); scaleProbeAggX64(spark, sfDir) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] scale_probe_agg_x64 FAILED: ${e.getMessage}"); -1.0 }
      })) ++ (if (!doDml) Seq.empty else Seq("dml_pruned_roundtrip" -> {
        try dmlPrunedRoundTrip(spark, sfDir)
        catch { case e: Throwable =>
          System.err.println(s"[bench] dml_pruned_roundtrip FAILED: ${e.getMessage}"); -1.0 }
      })) ++ (if (!doSnap) Seq.empty else Seq("snapshot_versioned_roundtrip" -> {
        try { cleanStorage(gc = false); snapshotRoundTrip(spark, sfDir) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] snapshot_versioned_roundtrip FAILED: ${e.getMessage}"); -1.0 }
      })) ++ (if (!doSpj) Seq.empty else Seq("bucketed_spj_join" -> {
        try { cleanStorage(gc = false); bucketedSpjJoin(spark, sfDir) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] bucketed_spj_join FAILED: ${e.getMessage}"); -1.0 }
      })) ++ (if (!doAcid) Seq.empty else Seq("hive_acid_read" -> {
        try { cleanStorage(gc = false); hiveAcidRead(spark, sfDir) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] hive_acid_read FAILED: ${e.getMessage}"); -1.0 }
      })) ++ (if (!doAcidBase) Seq.empty else Seq("hive_acid_read_base" -> {
        try { cleanStorage(gc = false); hiveAcidReadBase(spark, sfDir) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] hive_acid_read_base FAILED: ${e.getMessage}"); -1.0 }
      }))
    val passes = (1 to nRuns).map(_ => measurePass())
    val calibLast = calibrate(spark)
    val names = passes.head.map(_._1)
    val results = names.map { name =>
      val samples = passes.map(_.toMap.apply(name))
      val ok = samples.filter(_ >= 0)
      name -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    // p22 cost attribution: time each cumulative prefix of the cleaning
    // pipeline (score+filter, +near-dup CC, +scrub) with the same plan shape
    // the composed query runs; differences attribute cost per stage. Emitted
    // as a separate `breakdown` field — NOT part of the headline total.
    // NOTE: frames are built INSIDE the timer — the dedup stage runs its
    // checkpoint/CC jobs eagerly at construction, so constructing outside
    // would attribute its cost to nothing.
    val p22Stages: Seq[(String, () => org.apache.spark.sql.DataFrame)] =
      if (!(only.isEmpty || only("p22_clean_pipeline"))) Seq.empty
      else {
        val cp = graft.queries.PipelineQueries.CleanPipeline
        Seq("p22_stage1_score_filter" -> (() => cp.scored(spark, sfDir)),
          "p22_stage2_neardup_keepbest" -> (() => cp.deduped(spark, sfDir)),
          "p22_stage3_scrub_full" -> (() => cp.full(spark, sfDir)))
      }
    val breakdown = p22Stages.map { case (name, build) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        try build().write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}") }
        val sec = (System.nanoTime() - t0) / 1e9
        cleanStorage(gc = false)
        sec
      }
      once() // per-stage warmup: each stage is a distinct plan the headline
             // warmup never compiled; without it attribution is jitter-bound
      name -> once()
    }
    // SPJ context: the identical join-aggregate with the shuffle still in
    // the plan (min over the same number of runs; the warmup already
    // compiled it) — the spread vs `bucketed_spj_join` is the fact-join
    // exchange cost the bucketed layout removes.
    val shuffleBaseline: Seq[(String, Double)] =
      if (!doSpj) Seq.empty
      else Seq("bucketed_join_shuffle_baseline" ->
        (1 to nRuns).map { _ =>
          try { cleanStorage(gc = false); shuffleJoinBaseline(spark, sfDir) }
          catch { case e: Throwable =>
            System.err.println(
              s"[bench] shuffle baseline FAILED: ${e.getMessage}"); -1.0 }
        }.filter(_ >= 0).minOption.getOrElse(-1.0))
    val bd = (breakdown ++ shuffleBaseline)
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")

    // the driver records only the LAST ~2 KB of stdout: a single long line
    // loses its HEAD (where the totals live) to the capture window. Emit
    // the bulky context first on its own line, then a compact headline
    // line LAST — rounded to ms so the whole headline (totals + per-query
    // seconds) fits inside the tail window and parses as one JSON object.
    // Locale.ROOT: an `f`-interpolation uses the JVM default locale, and a
    // comma decimal separator would make the headline line invalid JSON
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val ns = notes.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val m22 = results.filter { case (k, v) => r1Matched(k) && v >= 0 }
      .map(_._2).sum
    val m22Ratio = m22 / r1MatchedTotalSec
    val calibMean = (calibFirst + calibLast) / 2
    val m22Norm = m22 * (CalibNominalSec / calibMean)
    // Per-query normalized seconds (r16 verdict ask): each query's wall
    // time restated at pinned idle-host speed, with the calibration
    // INTERPOLATED by run position (the probes bracket the window, and
    // measured host drift is roughly linear across it — r16: 1.354 →
    // 1.875 over the suite). Emitted as an ARRAY in the same order as
    // `queries` keys, 2-decimal, so the whole headline stays inside the
    // driver's ~2 KB stdout tail window.
    def r2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val n = results.size
    val qsNorm = results.zipWithIndex.map { case ((_, v), i) =>
      val frac = (i + 0.5) / n
      val calibAt = calibFirst + (calibLast - calibFirst) * frac
      if (v < 0) "-1" else r2(v * (CalibNominalSec / calibAt))
    }.mkString("[", ",", "]")
    println(s"""{"metric":"detail","breakdown":$bd,"notes":$ns}""")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_runs":$nRuns,"agg":"min","matched22_sec":${r3(m22)},"matched22_vs_r1":${r3(m22Ratio)},"calib_first_sec":${r3(calibFirst)},"calib_last_sec":${r3(calibLast)},"calib_nominal_sec":${r3(CalibNominalSec)},"matched22_norm_sec":${r3(m22Norm)},"matched22_norm_vs_r1":${r3(m22Norm / r1MatchedTotalSec)},"queries":$qs,"queries_norm":$qsNorm,"sf":"$sfDir"}""")
    spark.stop()
  }
}
