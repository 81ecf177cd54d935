package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Engine, SparkEntry}
import graft.plans.{Dml, NamedTables, Snapshots}
import graft.queries.{Exact, TpchQueries}
import graft.sources.AcidOrc

/** What one run works on: the session, the generated input directory, a
  * scratch directory inside the checkout, the seeded plan, and the tracer.
  * The layer helpers are the only places the benchmark calls into the
  * engine, so every call is under a span.
  */
final class Ctx(val spark: SparkSession, val data: String, val work: String,
    val params: Map[String, Long], val trace: Tracer) {
  var pass = 0
  /** Files the last `run` frame scans, after pruning (traced passes only). */
  var filesRead: Option[Int] = None

  def p(name: String): Long = params(name)
  def catalog[T](f: => T): T = trace.span("catalog")(f)
  def build[T](f: => T): T = trace.span("build")(f)
  def frontdoor[T](f: => T): T = trace.span("frontdoor")(f)
  def commit[T](verb: String)(f: => T): T = trace.span(s"commit.$verb")(f)

  /** When set (the first warm-up pass), each read's output is written to
    * `<dump>/<statement id>` instead of the noop sink, for the checks.
    */
  var dump: Option[String] = None
  var stmt = ""

  /** Plans, then executes into the noop sink (full computation, no output). */
  def run(df: DataFrame): Unit = {
    if (trace.layers) filesRead = Some(df.inputFiles.length)
    trace.span("plan")(df.queryExecution.executedPlan)
    dump match {
      case None => trace.span("exec")(df.write.format("noop").mode("overwrite").save())
      case Some(d) => df.coalesce(1).write.parquet(s"$d/$stmt")
    }
  }

  def table(name: String): DataFrame = catalog(Engine.table(spark, data, name))
}

/** A statement of a pass. `target` names the table a write changes, and the
  * directory holding it, so its bytes written can be measured.
  */
final case class Stmt(id: String, write: Boolean, run: Ctx => Unit,
    target: Ctx => Option[(String, String)] = _ => None,
    liveFiles: Ctx => Option[Int] = _ => None,
    oracle: Option[String] = None)

/** A table a workload writes: its directory, its live rows, its versions. */
final case class Tbl(name: String, dir: String, live: () => DataFrame,
    versions: () => Int)

/** A frame whose output is dumped for checking outside the passes. */
final case class Check(id: String, frame: Ctx => DataFrame)

trait Workload {
  /** Builds the fixtures this workload reads (part of set-up). */
  def setup(ctx: Ctx): Unit = ()
  /** Resets mutable tables to their start state before each pass (untimed). */
  def beginPass(ctx: Ctx): Unit = ()
  def statements: Seq[Stmt]
  /** The pass's statement order for a seed. */
  def order(rng: scala.util.Random): Seq[Stmt]
  /** Table states dumped after the warm-up pass. */
  def finals: Seq[Check] = Nil
  /** Tables the passes write, in their state at the end of a pass. */
  def tables(ctx: Ctx): Seq[Tbl]
}

object Workloads {
  /** Interleaves the sequences at seeded positions, keeping each one's order. */
  def interleave[T](rng: scala.util.Random, seqs: Seq[Seq[T]]): Seq[T] = {
    val slots = rng.shuffle(seqs.indices.flatMap(i => Seq.fill(seqs(i).size)(i)))
    val its = seqs.map(_.iterator)
    slots.map(i => its(i).next())
  }

  def apply(name: String): Workload = name match {
    case "table_writes" => TableWrites
    case "hiveql_short" => HiveqlShort
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val catalog: Map[String, graft.queries.QDef] =
    SparkEntry.allDefs.map(d => d.name -> d).toMap

  def snapshotTbl(ctx: Ctx, name: String, root: String): Tbl =
    Tbl(name, root, () => Snapshots.table(ctx.spark, root).read(),
      () => Snapshots.table(ctx.spark, root).history().size)

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  /** Regular files under `dir` (path -> bytes). */
  def files(dir: String): Map[String, Long] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Map.empty
    else Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f))
      .map((f: Path) => f.toString -> Files.size(f)).toMap
  }

  def dataFiles(dir: String): Int = files(dir).keys.count(_.endsWith(".parquet"))

  val orderCols: Seq[String] =
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")

  /** `status, count, exact sum of price` — the shape every table read-back
    * and its DuckDB oracle share.
    */
  def statusTotals(df: DataFrame): DataFrame =
    df.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), Exact.dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus"))
}

import Workloads._

/** Seeded writes to a snapshot table (S) and a partitioned copy-on-write
  * parquet copy of orders (P), interleaved with reads of both, with a
  * storage-partitioned join over co-bucketed snapshot tables, and with a
  * read of a compacted Hive ACID table.
  */
object TableWrites extends Workload {
  val Name = "tw_s"
  def s(ctx: Ctx): String = s"${ctx.work}/tw/pass${ctx.pass}/s"
  def pdir(ctx: Ctx): String = s"${ctx.work}/tw/pass${ctx.pass}/p"
  def spjO(ctx: Ctx): String = s"${ctx.work}/tw/spj/o"
  def spjL(ctx: Ctx): String = s"${ctx.work}/tw/spj/l"
  def acid(ctx: Ctx): String = s"${ctx.work}/tw/acid/orders"
  def snap(ctx: Ctx): Snapshots.SnapshotTable = Snapshots.table(ctx.spark, s(ctx))

  def orders(ctx: Ctx): DataFrame = ctx.table("orders").select(orderCols.map(col): _*)
  def key = col("o_orderkey")
  def price = col("o_totalprice")
  def prio = col("o_orderpriority")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  override def setup(ctx: Ctx): Unit = {
    deleteTree(s"${ctx.work}/tw")
    val o = ctx.table("orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val l = ctx.table("lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
    Snapshots.create(ctx.spark, spjO(ctx), o, bucketBy = Some(("o_orderkey", 8)))
    Snapshots.create(ctx.spark, spjL(ctx), l, bucketBy = Some(("l_orderkey", 8)))
    // a compacted (base-only) Hive ACID copy of orders
    val d = acid(ctx)
    AcidOrc.appendDelta(ctx.spark, d, 5L, ctx.table("orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")), buckets = 4)
    Files.move(Paths.get(d, "delta_5_5"), Paths.get(d, "base_5"))
  }

  override def beginPass(ctx: Ctx): Unit = {
    deleteTree(s"${ctx.work}/tw/pass${ctx.pass - 1}")
    Snapshots.create(ctx.spark, s(ctx), orders(ctx))
    orders(ctx).write.partitionBy("o_orderpriority").parquet(pdir(ctx))
    NamedTables.registerSnapshot(Name, s(ctx))
  }

  /** `o_orderkey % m = r` rows of orders, keys shifted by `shift`. */
  def slice(ctx: Ctx, m: String, r: String, shift: Long = 0L): DataFrame =
    orders(ctx).filter(key % ctx.p(m) === ctx.p(r)).withColumn("o_orderkey", key + shift)

  def onS(id: String, verb: String)(f: Ctx => Unit): Stmt =
    Stmt(id, write = true, ctx => ctx.commit(verb)(f(ctx)), ctx => Some(("s", s(ctx))))
  def onP(id: String, verb: String)(f: Ctx => Unit): Stmt =
    Stmt(id, write = true, ctx => ctx.commit(verb)(f(ctx)), ctx => Some(("p", pdir(ctx))))
  def readS(id: String)(f: Ctx => DataFrame): Stmt =
    Stmt(id, write = false, ctx => ctx.run(ctx.build(f(ctx))),
      liveFiles = ctx => Some(snap(ctx).latest().files.size))

  def spjJoin(ctx: Ctx): DataFrame = {
    val o = Snapshots.table(ctx.spark, spjO(ctx)).read()
    val l = Snapshots.table(ctx.spark, spjL(ctx)).read()
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(Exact.dsum(col("l_extendedprice")).as("rev"), sum(col("l_quantity")).as("qty"))
      .orderBy(col("o_custkey"))
  }

  def sqlTimeTravel(version: Int): String =
    s"""SELECT o_orderstatus, count(*) AS n,
       |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total
       |FROM $Name VERSION AS OF $version
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  val statements: Seq[Stmt] = Seq(
    onS("s_append_1", "append")(ctx => snap(ctx).append(slice(ctx, "a1_m", "a1_r", 1000000000L))),
    readS("s_read_pruned")(ctx => statusTotals(snap(ctx).readWhere(key >= 1000000000L))),
    onS("s_merge_cow", "merge") { ctx =>
      val src = slice(ctx, "mc_m", "mc_r").withColumn("o_totalprice", price + 1.5)
        .unionByName(slice(ctx, "mc2_m", "mc2_r", 3000000000L))
      snap(ctx).merge(src, "o_orderkey", "o_orderkey",
        whenMatchedSet = Map("o_totalprice" -> col("o_totalprice")), sourceKeysUnique = true)
    },
    onS("s_merge_mor", "merge") { ctx =>
      val src = slice(ctx, "mm_m", "mm_r").withColumn("o_totalprice", lit(0.5))
        .unionByName(slice(ctx, "mm2_m", "mm2_r", 4000000000L))
      snap(ctx).mergeMergeOnRead(src, "o_orderkey", "o_orderkey",
        whenMatchedSet = Map("o_totalprice" -> col("o_totalprice")), sourceKeysUnique = true)
    },
    Stmt("s_sql_version", write = false,
      ctx => ctx.run(ctx.frontdoor(Engine.sql(ctx.spark, ctx.data, sqlTimeTravel(1))))),
    onS("s_compact", "compact")(ctx => snap(ctx).compact()),
    onP("p_update_pruned", "update")(ctx => Dml.updateWhere(ctx.spark, pdir(ctx),
      prio === Priorities(ctx.p("up_prio").toInt) && key % ctx.p("up_m") === ctx.p("up_r"),
      Map("o_totalprice" -> lit(9.0)))),
    onP("p_delete_unpruned", "delete")(ctx => Dml.deleteWhere(ctx.spark, pdir(ctx),
      price > ctx.p("du_hi").toDouble)),
    Stmt("hive_acid_read", write = false,
      ctx => ctx.run(ctx.build(statusTotals(AcidOrc.read(ctx.spark, acid(ctx)))))),
    Stmt("spj_join", write = false, { ctx =>
      // neither fact side broadcasts at scale: measure the co-located join
      ctx.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try ctx.run(ctx.build(spjJoin(ctx)))
      finally ctx.spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }))

  /** Statements on S keep their order (the version read names version 1);
    * P's statements and the join interleave with them.
    */
  override def order(rng: scala.util.Random): Seq[Stmt] = {
    val (onS, rest) = statements.partition(_.id.startsWith("s_"))
    val (onP, other) = rest.partition(_.id.startsWith("p_"))
    interleave(rng, Seq(onS, onP, other))
  }

  override val finals: Seq[Check] = Seq(
    Check("final_s", ctx => snap(ctx).read().select(orderCols.map(col): _*).orderBy(key)),
    Check("final_p", ctx => ctx.spark.read.parquet(pdir(ctx))
      .select(orderCols.map(col): _*).orderBy(key)))

  def tables(ctx: Ctx): Seq[Tbl] = Seq(snapshotTbl(ctx, "s", s(ctx)),
    Tbl("p", pdir(ctx), () => ctx.spark.read.parquet(pdir(ctx)), () => 1))
}

/** Short HiveQL statements through the SQL front door at a tiny scale:
  * TPC-H texts, the Hive-only SQL legs, the front-door cost statements, and
  * SQL DML with read-backs on a snapshot table created by CTAS each pass.
  */
object HiveqlShort extends Workload {
  val Name = "hq_t"
  def root(ctx: Ctx): String = s"${ctx.work}/hq/pass${ctx.pass}"

  /** TPC-H texts that run unchanged in the engine and in DuckDB. */
  val tpch = Seq("t04_order_priority", "t19_disjunctive")
  val tpchText: Map[String, String] =
    TpchQueries.defs.filter(d => tpch.contains(d.name)).map(d => d.name -> d.oracle.get).toMap
  /** Catalog entries whose whole body is one `Engine.sql` call. */
  val sqlLegs = Seq("q54_quantified_subquery", "q56_distinct_window")
  /** Two of FrontDoorCostSpec's statements, ordered so their output is
    * comparable.
    */
  val frontDoor = Seq(
    "fd_agg" -> "SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    "fd_join" -> "SELECT n_name FROM nation JOIN region ON n_regionkey = r_regionkey ORDER BY n_name")

  val readBack =
    s"""SELECT o_orderstatus, count(*) AS n,
       |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total
       |FROM $Name GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  /** SqlDmlQueries s13's read-back: current state joined to version 0. */
  val readBackVersion =
    s"""SELECT cur.o_orderstatus, count(*) AS n,
       |  CAST(sum(CAST(cur.o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total
       |FROM $Name cur
       |JOIN $Name VERSION AS OF 0 v0 ON cur.o_orderkey = v0.o_orderkey
       |GROUP BY cur.o_orderstatus ORDER BY cur.o_orderstatus""".stripMargin

  override def beginPass(ctx: Ctx): Unit = {
    deleteTree(s"${ctx.work}/hq/pass${ctx.pass - 1}")
    NamedTables.drop(Name)
  }

  def sqlRead(id: String, text: Ctx => String, oracle: Option[String] = None): Stmt =
    Stmt(id, write = false,
      ctx => ctx.run(ctx.frontdoor(Engine.sql(ctx.spark, ctx.data, text(ctx)))), oracle = oracle)
  def dml(id: String, verb: String, text: Ctx => String): Stmt = Stmt(id, write = true,
    ctx => ctx.commit(verb)(Engine.sql(ctx.spark, ctx.data, text(ctx))),
    ctx => Some((Name, root(ctx))))

  val statements: Seq[Stmt] =
    tpch.map(n => sqlRead(n, _ => tpchText(n), Some(tpchText(n)))) ++
    sqlLegs.map { n =>
      Stmt(n, write = false, ctx => ctx.run(ctx.frontdoor(catalog(n).fn(ctx.spark, ctx.data))),
        oracle = catalog(n).oracle)
    } ++
    frontDoor.map { case (id, text) => sqlRead(id, _ => text, Some(text)) } ++ Seq(
      dml("hq_ctas", "append", ctx =>
        s"""CREATE TABLE $Name USING snapshot LOCATION '${root(ctx)}'
           |AS SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders""".stripMargin),
      dml("hq_delete", "delete", ctx =>
        s"DELETE FROM $Name WHERE o_orderkey % ${ctx.p("hd_m")} = ${ctx.p("hd_r")}"),
      sqlRead("hq_read_version", _ => readBackVersion),
      dml("hq_update", "update", ctx =>
        s"UPDATE $Name SET o_totalprice = 1.0 WHERE o_orderkey % ${ctx.p("hu_m")} = ${ctx.p("hu_r")}"),
      dml("hq_insert", "append", ctx =>
        s"""INSERT INTO $Name SELECT o_orderkey + 900000000, o_orderstatus, o_totalprice
           |FROM orders WHERE o_orderkey % ${ctx.p("hi_m")} = ${ctx.p("hi_r")}""".stripMargin),
      sqlRead("hq_read", _ => readBack))

  /** The DML sequence keeps its order; the other reads shuffle around it. */
  override def order(rng: scala.util.Random): Seq[Stmt] = {
    val (dmlSeq, reads) = statements.partition(_.id.startsWith("hq_"))
    interleave(rng, Seq(rng.shuffle(reads), dmlSeq))
  }

  def tables(ctx: Ctx): Seq[Tbl] = Seq(snapshotTbl(ctx, Name, root(ctx)))
}
