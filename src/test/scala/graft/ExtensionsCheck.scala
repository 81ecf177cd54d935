package graft

import org.apache.spark.sql.SparkSession

/** Manual check (fresh JVM via `Test/runMain graft.ExtensionsCheck`): a
  * name registered through an extensions-bootstrapped session survives a
  * JVM restart through the durable registry (`spark.graft.catalog`) alone.
  * The in-JVM extensions behaviour is pinned by FrontDoorParitySpec.
  */
object ExtensionsCheck {
  private def session(catalogDir: String): SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.graft.catalog", catalogDir)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val catalogDir = java.nio.file.Files
      .createTempDirectory("graft_extchk_cat_").toString
    val spark = session(catalogDir)
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_extchk_")
      .toString + "/t"
    graft.plans.Snapshots.create(spark, root,
      (0 until 20).map(i => (i.toLong, s"r$i")).toDF("id", "s"))
    graft.plans.NamedTables.registerSnapshot("extchk", root)
    graft.plans.Snapshots.table(spark, root)
      .deleteWhere(org.apache.spark.sql.functions.col("id") < 5)
    // restarted-JVM phase: forget all in-memory state (what a process death
    // leaves behind), start a fresh extensions-bootstrapped session with the
    // same spark.graft.catalog, and resolve the name with no re-CREATE —
    // the durable registry alone must serve it
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    graft.plans.NamedTables.resetForTest()
    val spark2 = session(catalogDir)
    val n2 = spark2.sql("SELECT count(*) AS n FROM extchk").head().getLong(0)
    assert(n2 == 15, s"restarted-JVM named read: n=$n2")
    graft.plans.NamedTables.drop("extchk")
    println(s"extensions-path OK: restarted=$n2")
    spark2.stop()
  }
}
