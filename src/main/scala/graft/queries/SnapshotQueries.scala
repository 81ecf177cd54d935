package graft.queries

import org.apache.spark.sql.functions._
import graft.Engine
import graft.plans.Snapshots
import QDef.q

/** Snapshot-table (versioned manifest log) queries: each builds a scratch
  * snapshot table from the immutable input parquet, runs versioned DML
  * against it, and reads a snapshot whose content is SQL-expressible over
  * the ORIGINAL table — so DuckDB can oracle-check time travel and COW
  * semantics without understanding the log format.
  */
object SnapshotQueries {

  private def scratch(): String =
    java.nio.file.Files.createTempDirectory("graft_snapq_").toString + "/t"

  val defs: Seq[QDef] = Seq(

    // Time travel: after a DELETE and an APPEND, version 0 must still read
    // as the pristine table — the oracle aggregates the original parquet.
    q("s01_snapshot_time_travel",
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val orders = Engine.table(spark, dir, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val t = Snapshots.create(spark, scratch(), orders)
      t.deleteWhere($"o_orderstatus" === "F")
      t.append(orders.limit(100).withColumn("o_orderkey",
        $"o_orderkey" + 500000000L))
      t.readVersion(0)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"), Exact.dsum($"o_totalprice").as("total"))
        .orderBy($"o_orderstatus")
    },

    // Current state after file-granularity COW DELETE + UPDATE — the oracle
    // replays the same statements relationally over the original table.
    q("s02_snapshot_cow_state",
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(CASE WHEN o_orderstatus = 'P' THEN 0.0
        |                     ELSE o_totalprice END AS DECIMAL(25,2)))
        |    AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 7 <> 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val orders = Engine.table(spark, dir, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val t = Snapshots.create(spark, scratch(), orders)
      t.deleteWhere($"o_orderkey" % 7 === 0)
      t.updateWhere($"o_orderstatus" === "P", Map("o_totalprice" -> lit(0.0)))
      t.read()
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"), Exact.dsum($"o_totalprice").as("total"))
        .orderBy($"o_orderstatus")
    },

    // MERGE upsert: matched keys zero their price, unmatched source rows
    // insert — the oracle replays both arms relationally (update via CASE,
    // insert via UNION ALL).
    q("s03_snapshot_merge",
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total
        |FROM (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 100 = 0 THEN 0.0 ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 700000000, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 997 = 0
        |) GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val orders = Engine.table(spark, dir, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val t = Snapshots.create(spark, scratch(), orders)
      val source = orders.filter($"o_orderkey" % 100 === 0)
        .withColumn("o_totalprice", lit(0.0))
        .unionByName(orders.filter($"o_orderkey" % 997 === 0)
          .withColumn("o_orderkey", $"o_orderkey" + 700000000L))
      t.merge(source, "o_orderkey", "o_orderkey",
        whenMatchedSet = Map("o_totalprice" -> $"o_totalprice"))
      t.read()
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"), Exact.dsum($"o_totalprice").as("total"))
        .orderBy($"o_orderstatus")
    },

    // Stats-pruned scan: the predicate is answered from a partition-pruned +
    // min/max-pruned file subset; the oracle is the plain WHERE over the
    // original table (stats only skip files, never change results).
    q("s04_snapshot_pruned_scan",
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total,
        |  CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders
        |WHERE o_orderstatus = 'F' AND o_totalprice > 200000""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val orders = Engine.table(spark, dir, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val t = Snapshots.create(spark, scratch(), orders,
        partitionBy = Seq("o_orderstatus"))
      t.readWhere($"o_orderstatus" === "F" && $"o_totalprice" > 200000)
        .agg(count(lit(1)).as("n"), Exact.dsum($"o_totalprice").as("total"),
          min($"o_orderkey").cast("long").as("min_key"),
          max($"o_orderkey").cast("long").as("max_key"))
    },

    // Incremental read (CDC over appends): each version's added rows are
    // tagged with the commit version; the oracle reconstructs the tagged
    // union from the append predicates.
    q("s05_snapshot_incremental",
      """SELECT commit_version, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM (
        |  SELECT 1 AS commit_version, o_orderkey FROM orders WHERE o_orderkey % 3 = 1
        |  UNION ALL
        |  SELECT 2 AS commit_version, o_orderkey FROM orders WHERE o_orderkey % 3 = 2
        |) GROUP BY commit_version ORDER BY commit_version""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val orders = Engine.table(spark, dir, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val t = Snapshots.create(spark, scratch(), orders.filter($"o_orderkey" % 3 === 0))
      t.append(orders.filter($"o_orderkey" % 3 === 1)) // v1
      t.append(orders.filter($"o_orderkey" % 3 === 2)) // v2
      t.readChanges(sinceVersion = 0L)
        .groupBy($"_commit_version".cast("int").as("commit_version"))
        .agg(count(lit(1)).as("n"), sum($"o_orderkey").as("key_sum"))
        .orderBy($"commit_version")
    },

    // Incrementally maintained aggregate MV: built over a third of orders,
    // refreshed after an append of another third (insert-only → the fold
    // touches only the delta). The oracle aggregates the union directly;
    // sums ride DECIMAL so the fold is exact across engines.
    q("s06_incremental_mv_refresh",
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total,
        |  CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      import graft.plans.IncrementalViews
      import IncrementalViews.AggSpec
      val orders = Engine.table(spark, dir, "orders")
        .select($"o_orderkey", $"o_orderstatus",
          $"o_totalprice".cast(org.apache.spark.sql.types.DecimalType(25, 2))
            .as("price_d"))
      val t = Snapshots.create(spark, scratch(), orders.filter($"o_orderkey" % 3 === 0))
      val mv = IncrementalViews.create(spark, t.root, scratch(),
        Seq("o_orderstatus"),
        Seq(AggSpec("count", "*", "n"), AggSpec("sum", "price_d", "total_d"),
          AggSpec("min", "o_orderkey", "min_key"),
          AggSpec("max", "o_orderkey", "max_key")))
      t.append(orders.filter($"o_orderkey" % 3 === 1))
      val r = mv.refresh()
      require(r.mode == "incremental", s"expected incremental refresh, got $r")
      mv.read()
        .select($"o_orderstatus", $"n", $"total_d".cast("double").as("total"),
          $"min_key", $"max_key")
        .orderBy($"o_orderstatus")
    },

    // DELETE-AWARE incremental MV maintenance (ref ql/optimizer/calcite/
    // rules/views/HiveAggregateInsertDeleteIncrementalRewritingRule.java):
    // after an append AND a merge-on-read DELETE, the refresh stays
    // incremental — retired rows fold as SIGNED deltas (negative counts,
    // negated sums) against the stored partials; a fully-retired group
    // vanishes. Incremental mode and exact delta cost (appended + retired,
    // never the table) are require()d in-query; the oracle aggregates the
    // post-delete state directly.
    q("s35_mv_delete_refresh",
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 7 <> 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      import graft.plans.IncrementalViews
      import IncrementalViews.AggSpec
      val orders = Engine.table(spark, dir, "orders")
        .select($"o_orderkey", $"o_orderstatus",
          $"o_totalprice".cast(org.apache.spark.sql.types.DecimalType(25, 2))
            .as("price_d"))
      val t = Snapshots.create(spark, scratch(),
        orders.filter($"o_orderkey" % 3 === 0))
      val mv = IncrementalViews.create(spark, t.root, scratch(),
        Seq("o_orderstatus"),
        Seq(AggSpec("count", "*", "n"), AggSpec("sum", "price_d", "total_d")))
      t.append(orders.filter($"o_orderkey" % 3 === 1))
      t.deleteWhereMergeOnRead($"o_orderkey" % 7 === 0)
      val appended = orders.filter($"o_orderkey" % 3 === 1).count()
      val retired = orders
        .filter($"o_orderkey" % 3 < 2 && $"o_orderkey" % 7 === 0).count()
      val r = mv.refresh()
      require(r.mode == "incremental",
        s"MOR deletes must maintain incrementally, got $r")
      require(r.deltaRows == appended + retired,
        s"delta must be appended($appended) + retired($retired) rows, " +
          s"got ${r.deltaRows}")
      mv.read()
        .select($"o_orderstatus", $"n", $"total_d".cast("double").as("total"))
        .orderBy($"o_orderstatus")
    },

    // Incremental JOIN-MV maintenance: an aggregate over orders ⋈ customer
    // with BOTH sides appended after materialization — the delta-join
    // refresh (ΔA⋈B_new ∪ A_old⋈ΔB, A_old via time travel) must equal the
    // from-scratch join-aggregate DuckDB computes over the final state.
    // The incremental mode is proven in-query.
    q("s33_incremental_join_mv",
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      import graft.plans.IncrementalViews
      import IncrementalViews.AggSpec
      val orders = Engine.table(spark, dir, "orders")
        .select($"o_orderkey", $"o_custkey")
      val custs = Engine.table(spark, dir, "customer")
        .select($"c_custkey", $"c_mktsegment")
      val lt = Snapshots.create(spark, scratch(),
        orders.filter($"o_orderkey" % 2 === 0))
      val rt = Snapshots.create(spark, scratch(),
        custs.filter($"c_custkey" % 2 === 0))
      val mv = IncrementalViews.createJoin(spark, lt.root, rt.root, scratch(),
        Seq(("o_custkey", "c_custkey")), Seq("c_mktsegment"),
        Seq(AggSpec("count", "*", "n"),
          AggSpec("sum", "o_orderkey", "key_sum_raw")))
      lt.append(orders.filter($"o_orderkey" % 2 === 1))
      rt.append(custs.filter($"c_custkey" % 2 === 1))
      val r = mv.refresh()
      require(r.mode == "incremental", s"expected incremental refresh, got $r")
      mv.read()
        .select($"c_mktsegment", $"n",
          $"key_sum_raw".cast("long").as("key_sum"))
        .orderBy($"c_mktsegment")
    },

    // Merge-on-read DELETE (delete-sidecar, no data-file rewrites), then a
    // compaction that folds the sidecar into rewritten base files — the
    // visible result must equal the plain relational delete throughout.
    q("s07_snapshot_mor_delete",
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 5 <> 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val orders = Engine.table(spark, dir, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val t = Snapshots.create(spark, scratch(), orders)
      t.deleteWhereMergeOnRead($"o_orderkey" % 5 === 0)
      t.compact() // folds the sidecar; result must not change
      t.read()
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"), Exact.dsum($"o_totalprice").as("total"))
        .orderBy($"o_orderstatus")
    },

    // Schema evolution: ADD COLUMNS mid-history — pre-evolution rows read
    // the new column as NULL, post-evolution appends carry real values.
    // The oracle replays both eras as a NULL-padded union.
    q("s08_snapshot_add_columns",
      """SELECT o_orderstatus, count(*) AS n, count(extra) AS n_extra,
        |  CAST(sum(CAST(extra AS DECIMAL(25,2))) AS DOUBLE) AS extra_sum
        |FROM (
        |  SELECT o_orderstatus, CAST(NULL AS DOUBLE) AS extra
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderstatus, CAST(o_orderkey AS DOUBLE) AS extra
        |  FROM orders WHERE o_orderkey % 2 = 1
        |) GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val orders = Engine.table(spark, dir, "orders")
        .select($"o_orderkey", $"o_orderstatus")
      val t = Snapshots.create(spark, scratch(),
        orders.filter($"o_orderkey" % 2 === 0))
      t.addColumns(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("extra",
          org.apache.spark.sql.types.DoubleType))))
      t.append(orders.filter($"o_orderkey" % 2 === 1)
        .withColumn("extra", $"o_orderkey".cast("double")))
      t.read()
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"), count($"extra").as("n_extra"),
          sum($"extra".cast(org.apache.spark.sql.types.DecimalType(25, 2)))
            .cast("double").as("extra_sum"))
        .orderBy($"o_orderstatus")
    },

    // The SQL surface itself under the gate: plain spark.sql over the
    // snapshot_table TVF, joining the current snapshot against version 0
    // (time travel) after a COW delete.
    q("s09_snapshot_sql_tvf",
      """SELECT cur.o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(cur.o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total
        |FROM (SELECT * FROM orders WHERE o_orderkey % 4 <> 0) cur
        |JOIN orders v0 ON cur.o_orderkey = v0.o_orderkey
        |GROUP BY cur.o_orderstatus ORDER BY cur.o_orderstatus""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      graft.plans.SnapshotSql.register(spark)
      val orders = Engine.table(spark, dir, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val root = scratch()
      val t = Snapshots.create(spark, root, orders)
      t.deleteWhere($"o_orderkey" % 4 === 0)
      spark.sql(
        s"""SELECT cur.o_orderstatus, count(*) AS n,
           |  CAST(sum(CAST(cur.o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total
           |FROM snapshot_table('$root') cur
           |JOIN snapshot_table('$root', 0) v0 ON cur.o_orderkey = v0.o_orderkey
           |GROUP BY cur.o_orderstatus ORDER BY cur.o_orderstatus""".stripMargin)
    },

    // The migration path: a Hive ACID ORC directory tree built from the
    // immutable orders parquet — pre-ACID ORIGINALS (an upgraded-in-place
    // warehouse: %4=2 rows as 000000_0) + delta_5_5 (%4=0) + delta_6_6
    // (%4=1) + delete_delta_7_7 against delta rows (%8=0, which implies
    // %4=0 so only delta_5_5 is hit) + a deleteWhere against the ORIGINALS
    // (%16=2, which implies %4=2 — addressed by synthetic positional
    // ROW__IDs with originalTransaction=0), read back through the
    // hive_acid() TVF. The oracle replays all of it as plain predicates.
    q("s37_hive_acid_read",
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderkey % 4 IN (0, 1, 2) AND o_orderkey % 8 <> 0
        |  AND o_orderkey % 16 <> 2
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      import graft.sources.AcidOrc
      graft.plans.SnapshotSql.register(spark)
      val orders = Engine.table(spark, dir, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val root = scratch()
      AcidOrc.writeOriginal(spark, root, orders.where($"o_orderkey" % 4 === 2))
      AcidOrc.appendDelta(spark, root, 5L, orders.where($"o_orderkey" % 4 === 0))
      AcidOrc.appendDelta(spark, root, 6L, orders.where($"o_orderkey" % 4 === 1))
      val doomed = AcidOrc.rawEvents(spark, s"$root/delta_5_5/bucket_00000")
        .where($"row.o_orderkey" % 8 === 0)
        .select($"originalTransaction", $"bucket", $"rowId")
      AcidOrc.appendDeleteDelta(spark, root, 7L, doomed)
      AcidOrc.deleteWhere(spark, root, $"o_orderkey" % 16 === 2)
      spark.sql(
        s"""SELECT o_orderstatus, count(*) AS n,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total
           |FROM hive_acid('$root')
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    },

    // ACID write verbs + compaction: split-update (delete_delta + delta
    // under one write id), identity-addressed delete, then a major
    // compaction folding everything into base_N with ROW__IDs preserved.
    // The oracle replays the statements relationally over the original
    // parquet — proving the layout the verbs wrote reconstructs to the
    // statements' net effect even after the fold.
    q("s38_hive_acid_dml",
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(CASE WHEN o_orderstatus = 'P' THEN 0.0
        |                     ELSE o_totalprice END AS DECIMAL(25,2)))
        |    AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 7 <> 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      import graft.sources.AcidOrc
      val orders = Engine.table(spark, dir, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val root = scratch()
      AcidOrc.appendDelta(spark, root, 1L, orders, buckets = 2)
      AcidOrc.updateWhere(spark, root, $"o_orderstatus" === "P",
        Map("o_totalprice" -> lit(0.0)))
      AcidOrc.deleteWhere(spark, root, $"o_orderkey" % 7 === 0)
      AcidOrc.compact(spark, root)
      AcidOrc.read(spark, root)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"), Exact.dsum($"o_totalprice").as("total"))
        .orderBy($"o_orderstatus")
    },

    // Incremental ACID consumption (the acid-stream source's engine):
    // rows added by delta commits in a write-id range, exactly once — the
    // oracle replays the range's append predicates. The first delta is
    // OUTSIDE the range and must not re-emit.
    q("s39_hive_acid_changes",
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 3 IN (1, 2)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      import graft.sources.AcidOrc
      val orders = Engine.table(spark, dir, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val root = scratch()
      AcidOrc.appendDelta(spark, root, 1L, orders.where($"o_orderkey" % 3 === 0))
      AcidOrc.appendDelta(spark, root, 2L, orders.where($"o_orderkey" % 3 === 1))
      AcidOrc.appendDelta(spark, root, 3L, orders.where($"o_orderkey" % 3 === 2))
      AcidOrc.readChanges(spark, root, fromWriteId = 1L, toWriteId = 3L)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"), Exact.dsum($"o_totalprice").as("total"))
        .orderBy($"o_orderstatus")
    },

    // CDC-shaped incremental ACID consumption: delete commits in the
    // write-id range emit full PRE-IMAGE retraction rows tagged
    // _change_type='delete' (ids resolved against the deletes-not-applied
    // snapshot), inserts tag 'insert' — mirroring the snapshot tables'
    // CDC surface. The delete targets %6=3 rows, which live in delta_1_1
    // (outside the consumed insert range, %6=3 implies %3=0), so the
    // oracle replays the change set as two plain predicates.
    q("s40_hive_acid_cdc",
      """SELECT o_orderstatus, _change_type, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total
        |FROM (
        |  SELECT o_orderstatus, o_totalprice, 'insert' AS _change_type
        |  FROM orders WHERE o_orderkey % 3 IN (1, 2)
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice, 'delete' AS _change_type
        |  FROM orders WHERE o_orderkey % 6 = 3
        |) changes
        |GROUP BY o_orderstatus, _change_type
        |ORDER BY o_orderstatus, _change_type""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      import graft.sources.AcidOrc
      val orders = Engine.table(spark, dir, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val root = scratch()
      AcidOrc.appendDelta(spark, root, 1L, orders.where($"o_orderkey" % 3 === 0))
      AcidOrc.appendDelta(spark, root, 2L, orders.where($"o_orderkey" % 3 === 1))
      AcidOrc.deleteWhere(spark, root, $"o_orderkey" % 6 === 3) // write id 3
      AcidOrc.appendDelta(spark, root, 4L, orders.where($"o_orderkey" % 3 === 2))
      AcidOrc.readChanges(spark, root, fromWriteId = 1L, toWriteId = 4L,
        withChangeType = true)
        .groupBy($"o_orderstatus", $"_change_type")
        .agg(count(lit(1)).as("n"), Exact.dsum($"o_totalprice").as("total"))
        .orderBy($"o_orderstatus", $"_change_type")
    },

    // Insert-only (MM) transactional tables — the OTHER migration surface
    // (transactional_properties='insert_only'; plain files of any format,
    // no ROW__ID wrapper). A parquet MM tree takes three committed deltas
    // (%4 in 0,1,2) plus one ABORTED writer's delta (physically removed,
    // the reference compactor's removeFilesForMmTable), then the SQL verb
    // minor-compacts the rest into one span; a TEXT (Ctrl-A) MM tree
    // carries the %8=0 exclusion keys as strings. Both route through the
    // auto-detecting hive_acid() TVF; the oracle replays the predicates.
    q("s41_hive_acid_mm",
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderkey % 4 IN (0, 1, 2) AND o_orderkey % 8 <> 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      import graft.sources.AcidMm
      graft.plans.SnapshotSql.register(spark)
      val orders = Engine.table(spark, dir, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val root = scratch()
      AcidMm.appendDelta(spark, root, 1L, orders.where($"o_orderkey" % 4 === 0))
      AcidMm.appendDelta(spark, root, 2L, orders.where($"o_orderkey" % 4 === 1))
      // an aborted writer's delta: junk that must never surface
      AcidMm.appendDelta(spark, root, 3L,
        orders.limit(5).withColumn("o_orderkey", lit(-1L)))
      AcidMm.appendDelta(spark, root, 4L, orders.where($"o_orderkey" % 4 === 2))
      AcidMm.removeAborted(spark, root, Set(3L))
      Engine.sql(spark, dir, s"COMPACT HIVE ACID '$root' 'minor'")
      val textRoot = scratch()
      AcidMm.appendDelta(spark, textRoot, 1L,
        orders.where($"o_orderkey" % 8 === 0).select($"o_orderkey"),
        format = "text")
      spark.sql(
        s"""SELECT o_orderstatus, count(*) AS n,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total
           |FROM hive_acid('$root') m
           |LEFT ANTI JOIN (SELECT CAST(_c0 AS BIGINT) AS ex
           |                FROM hive_acid('$textRoot')) t
           |  ON m.o_orderkey = t.ex
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    },

    // MM INSERT OVERWRITE (the third MM operation): two committed insert
    // deltas, then the OVERWRITE HIVE ACID SQL verb lands a new base that
    // supersedes everything below it — the read answers ONLY the
    // overwrite's rows, and a change-read range straddling the overwrite
    // emits nothing (bases are snapshots, not insert events; asserted by
    // folding its count into the result). Oracle replays the overwrite's
    // predicate.
    q("s42_mm_overwrite",
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total,
        |  0 AS straddle_rows
        |FROM orders WHERE o_orderkey % 5 = 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      import graft.sources.AcidMm
      graft.plans.SnapshotSql.register(spark)
      val orders = Engine.table(spark, dir, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val root = scratch()
      AcidMm.appendDelta(spark, root, 1L, orders.where($"o_orderkey" % 3 === 0))
      AcidMm.appendDelta(spark, root, 2L, orders.where($"o_orderkey" % 3 === 1))
      Engine.sql(spark, dir,
        s"OVERWRITE HIVE ACID '$root' WRITEID 3 AS " +
          "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders " +
          "WHERE o_orderkey % 5 = 0")
      val straddle = AcidMm.readChanges(spark, root, 2L, 3L).count()
      spark.sql(
        s"""SELECT o_orderstatus, count(*) AS n,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total,
           |  CAST($straddle AS INT) AS straddle_rows
           |FROM hive_acid('$root')
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    },

    // Post-compaction acid read (r16): a full-table delta compacted into
    // base_1 — the delete-free base-only state — through the one acid
    // scan, [[graft.sources.AcidColumnarOrc]]'s zero-copy ColumnarBatch
    // wrap (AcidColumnarSpec pins the plan shape; this entry pins the
    // VALUES under the DuckDB gate).
    q("s43_hive_acid_columnar_base",
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      import graft.sources.AcidOrc
      val orders = Engine.table(spark, dir, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val root = scratch()
      AcidOrc.appendDelta(spark, root, 1L, orders, buckets = 2)
      AcidOrc.compact(spark, root) // folds to base_1: the columnar state
      AcidOrc.read(spark, root)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"), Exact.dsum($"o_totalprice").as("total"))
        .orderBy($"o_orderstatus")
    },

    // ... and the PARTITIONED post-compaction state (r16): per-partition
    // deltas compacted to one base each, with partition values surfaced
    // from constant vectors.
    q("s44_hive_acid_columnar_partitioned",
      """SELECT o_orderstatus AS p, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY o_orderstatus ORDER BY p""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      import graft.sources.AcidOrc
      val orders = Engine.table(spark, dir, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val root = scratch()
      orders.select($"o_orderstatus").distinct.collect()
        .map(_.getString(0)).sorted.foreach { st =>
          AcidOrc.appendDelta(spark, s"$root/p=$st", 1L,
            orders.where($"o_orderstatus" === st).drop("o_orderstatus"),
            buckets = 2)
        }
      AcidOrc.compact(spark, root)
      AcidOrc.read(spark, root)
        .groupBy($"p")
        .agg(count(lit(1)).as("n"), Exact.dsum($"o_totalprice").as("total"))
        .orderBy($"p")
    })
}
