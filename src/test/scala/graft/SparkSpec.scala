package graft

import scala.util.chaining._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all specs (one JVM-wide session, UTC, AQE on). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config(Engine.staticConfs)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh_").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Engine.configure(s)
    s
  }

  /** A second session over the same context, bootstrapped the way
    * `spark.sql.extensions=graft.GraftExtensions` does it on a cluster
    * (no Engine call). The shared session stays the active/default one.
    */
  lazy val extensions: SparkSession = {
    val shared = session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // Hive's coercions need non-ANSI mode: the one Engine.configure conf
    // an extensions deployment sets itself
    try SparkSession.builder()
      .withExtensions(new graft.GraftExtensions().apply(_)).getOrCreate()
      .tap(_.conf.set("spark.sql.ansi.enabled", "false"))
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}
