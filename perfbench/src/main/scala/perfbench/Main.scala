package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.{JsonMethods, Serialization}

import graft.Engine

final case class StmtRec(pass: Int, traced: Boolean, id: String, write: Boolean,
    ms: Double, cpuMs: Double, ok: Boolean, table: Option[String],
    bytesWritten: Long, filesWritten: Int, filesRead: Option[Int],
    liveFiles: Option[Int])

final case class PassRec(pass: Int, traced: Boolean, wallS: Double, cpuS: Double)

final case class TableRec(name: String, bytes: Long, dataFiles: Int,
    versions: Int, freshBytes: Long, freshRows: Long)

/** Runs one workload in one JVM: set-up (several times), warm-up passes,
  * the measured passes; the first warm-up pass dumps the outputs the checks
  * compare. Everything the
  * run measured goes to `<out>/result.json`; `run.py` turns it into metrics.
  *
  * Args: --workload W --data DIR --work DIR --out DIR
  *       --plan FILE --seconds N --trace 0|1 --setups K --warmups W --cores N
  * The plan file holds the seeded parameters: DML key sets, predicate
  * constants and the seed of the statement order.
  */
object Main {
  implicit val formats: Formats = DefaultFormats

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = Workloads(a("workload"))
    val plan = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(a("plan")))))
    val params = (plan \ "params").extract[Map[String, Long]]
    val stmts = workload.order(new scala.util.Random(params("order_seed")))
    val traceRun = a("trace") == "1"
    val cores = a("cores").toInt
    val out = a("out")
    Files.createDirectories(Paths.get(out))

    val records = ArrayBuffer[StmtRec]()
    val passes = ArrayBuffer[PassRec]()
    val failures = ArrayBuffer[Map[String, String]]()
    /** Records a failure with its statement id, exception class and cause. */
    def fail(id: String, pass: Int, e: Throwable): Unit = {
      val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
      failures += Map("id" -> id, "pass" -> pass.toString,
        "exception" -> e.getClass.getName, "cause" -> String.valueOf(root.getMessage).take(300))
    }

    var spark: SparkSession = null
    var ctx: Ctx = null
    var passNo = 0
    def runPass(traced: Boolean, keep: Boolean): Unit = {
      passNo += 1
      ctx.pass = passNo
      workload.beginPass(ctx)
      ctx.trace.layers = traced
      val t0 = System.nanoTime()
      val pc0 = cpuNs()
      stmts.foreach { s =>
        val before = s.target(ctx).map(t => Workloads.files(t._2))
        ctx.filesRead = None
        ctx.stmt = s.id
        val s0 = System.nanoTime()
        val c0 = cpuNs()
        val ok =
          try { ctx.trace.statement(s.id, passNo)(s.run(ctx)); true }
          catch { case e: Throwable => fail(s.id, passNo, e); false }
        val ms = (System.nanoTime() - s0) / 1e6
        val cpuMs = (cpuNs() - c0) / 1e6
        if (keep) {
          val (bytes, nFiles) = s.target(ctx).map { t =>
            val after = Workloads.files(t._2)
            val changed = after.filter { case (f, n) => !before.get.get(f).contains(n) }
            (changed.values.sum, changed.size)
          }.getOrElse((0L, 0))
          val live = if (traced && ok) s.liveFiles(ctx) else None
          records += StmtRec(passNo, traced, s.id, s.write, ms, cpuMs, ok,
            s.target(ctx).map(_._1), bytes, nFiles, if (traced) ctx.filesRead else None, live)
        }
      }
      ctx.trace.layers = false
      if (keep) passes += PassRec(passNo, traced, (System.nanoTime() - t0) / 1e9,
        (cpuNs() - pc0) / 1e9)
    }

    // set-up: session, catalog and fixtures, several times (the median is
    // reported), then the warm-up passes
    val setups = (1 to a("setups").toInt).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = Engine.session(s"local[$cores]", "perfbench")
      spark.sparkContext.setLogLevel("ERROR")
      // host-sized shuffles: one partition per core, not the engine's 32
      spark.conf.set("spark.sql.shuffle.partitions", cores.toString)
      ctx = new Ctx(spark, a("data"), a("work"), params, new Tracer(spark.sparkContext))
      ctx.trace.span("catalog")(Engine.register(spark, a("data")))
      workload.setup(ctx)
      (System.nanoTime() - t0) / 1e9
    }
    // warm-up passes until the JIT has settled; the first also dumps every
    // read's output for the checks
    val w0 = System.nanoTime()
    ctx.dump = Some(s"$out/check")
    runPass(traced = false, keep = false)
    ctx.dump = None
    (2 to a("warmups").toInt).foreach(_ => runPass(traced = false, keep = false))
    val warmupS = (System.nanoTime() - w0) / 1e9
    val dumped = ArrayBuffer[String]()
    workload.finals.foreach { c =>
      try {
        c.frame(ctx).coalesce(1).write.parquet(s"$out/check/${c.id}")
        dumped += c.id
      } catch { case e: Throwable => fail(c.id, 0, e) }
    }
    dumped ++= stmts.map(_.id).filter(id => Files.exists(Paths.get(out, "check", id)))
    ctx.trace.spans.clear()

    // ---- measured passes; a traced run alternates untraced and traced
    // passes so both pass times come from the same JVM and data
    val listener = new JobListener
    val window = a("seconds").toDouble
    val t0 = System.nanoTime()
    var i = 0
    while (i < (if (traceRun) 2 else 1) || (System.nanoTime() - t0) / 1e9 < window) {
      val traced = traceRun && i % 2 == 1
      if (traced) spark.sparkContext.addSparkListener(listener)
      runPass(traced, keep = true)
      if (traced) { listener.drain(); spark.sparkContext.removeSparkListener(listener) }
      i += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9

    // ---- end-of-pass table state and the same rows written fresh
    val tables = workload.tables(ctx).map { t =>
      val fs = Workloads.files(t.dir)
      val freshDir = s"${a("work")}/fresh/${t.name}"
      t.live().coalesce(1).write.mode("overwrite").parquet(freshDir)
      val freshBytes = Workloads.files(freshDir).filter(_._1.endsWith(".parquet")).values.sum
      TableRec(t.name, fs.values.sum, Workloads.dataFiles(t.dir), t.versions(),
        freshBytes, spark.read.parquet(freshDir).count())
    }
    val result = Map(
      "workload" -> a("workload"), "cores" -> cores,
      "setup_s" -> setups, "measured_s" -> measuredS,
      "passes" -> passes, "statements" -> records, "failures" -> failures,
      "warmup_s" -> warmupS, "tables" -> tables,
      "oracles" -> stmts.flatMap(s => s.oracle.map(s.id -> _)).toMap,
      "dumped" -> dumped.distinct,
      "peak_rss_mb" -> peakRssMb(),
      "epoch_offset_ns" -> ctx.trace.epochOffsetNs,
      "spans" -> ctx.trace.spans, "jobs" -> listener.jobs, "stages" -> listener.stages)
    Files.writeString(Paths.get(out, "result.json"), Serialization.write(result))
    spark.stop()
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process (main, task, JIT and GC threads). Time
    * the host steals from the VM is not charged to it, unlike wall time.
    */
  def cpuNs(): Long = os.getProcessCpuTime

  /** The process's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
