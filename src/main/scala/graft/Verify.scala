package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/check.py`). Runs in the
  * bench's session profile ([[Engine.mainSession]]). */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (local iteration only): comma-separated query
    // names — dump just those. The driver always passes two args.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Engine.mainSession(defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Oracle SQL FIRST: if this JVM is killed mid-dump (driver timeout, OOM),
    // the driver can still adjudicate every query that did get written.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Deterministic catalog order, so a partial run loses a contiguous tail
    // (easy to diagnose) rather than a HashMap-random subset.
    SparkEntry.allDefs.filter(d => only.forall(_(d.name))).foreach { d =>
      val t0 = System.nanoTime()
      try {
        d.fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${d.name}")
        System.err.println(
          f"[verify] ${d.name} ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${d.name} failed: ${e.getMessage}")
      }
      // statement fully consumed (written to parquet): drop any CTE
      // staging dirs it materialized — the session-lifetime contract
      graft.plans.CteMaterialize.release(spark)
    }
    spark.stop()
  }
}
