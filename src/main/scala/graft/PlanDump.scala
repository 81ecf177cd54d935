package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** On-demand plan capture: dump `.explain("formatted")` for named catalog
  * queries to `<outDir>/<query>_<tag>.txt` — any scratch directory; the
  * transcripts are not kept in the repo (PlanGoldenSpec pins the headline
  * plans, git history holds past rounds).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> [q1,q2,...]
  * (default: the Bench.headline set). Same session settings as Bench so
  * the captured plan is the benched plan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names: Seq[String] =
      if (args.length > 3) args(3).split(',').map(_.trim).filter(_.nonEmpty).toSeq
      else Bench.headline
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Engine.configure(spark)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${n}_$tag.txt"), plan)
        System.err.println(s"[plandump] $n ok")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
      graft.plans.CteMaterialize.release(spark)
    }
    spark.stop()
  }
}
