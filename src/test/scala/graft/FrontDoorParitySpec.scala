package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.plans.{FrontDoor, MaterializedViews, NamedTables, SketchRewrite, Snapshots}

/** The two SQL entries run the one stage registry ([[FrontDoor]]): for
  * every stage the `spark.sql.extensions` entry runs, one statement whose
  * Hive answer differs from plain Spark answers the same rows through
  * [[Engine.sql]] and through plain `spark.sql` on an extensions session.
  */
class FrontDoorParitySpec extends SparkSpec {

  private lazy val ext = SparkSpec.extensions

  /** Statements run in order; `{t}` names a per-entry catalog object. The
    * answer is the last statement's columns and rows, or the first
    * error's class.
    */
  private case class Case(stage: String, statements: String*)

  private val cases = Seq(
    Case("CteForwardRefs",
      "WITH b AS (SELECT x + 1 AS y FROM a), a AS (SELECT 1 AS x) SELECT y FROM b"),
    Case("TypeLimits", "CREATE TABLE {t} (c VARCHAR(70000)) USING parquet"),
    Case("CtePartialAliases",
      "WITH c(x) AS (SELECT 1 AS p, 2 AS q) SELECT * FROM c"),
    Case("ViewColumnNames",
      "CREATE OR REPLACE TEMPORARY VIEW parity_v AS SELECT 1 + 1, 'x' AS s",
      "SELECT * FROM parity_v"),
    Case("LenientInsertCasts",
      "CREATE TABLE {t} (a INT) USING parquet",
      "INSERT INTO {t} SELECT '7'",
      "SELECT a FROM {t}"),
    Case("GroupingSetsDedup",
      "SELECT a, count(*) AS n FROM VALUES (1), (1), (2) t(a) " +
        "GROUP BY a GROUPING SETS ((a), (a))"),
    Case("EmptyGroupingSets",
      "SELECT a, count(*) AS n FROM VALUES (1) t(a) WHERE a > 5 " +
        "GROUP BY a GROUPING SETS ((), (a))"),
    Case("ProjectedInSubqueries",
      "SELECT 1 NOT IN (SELECT CAST(NULL AS INT)) AS r"),
    Case("HiveRegex", "SELECT 'abc' RLIKE '' AS r"),
    Case("DistinctWindows",
      "SELECT a, count(DISTINCT a) OVER () AS n FROM VALUES (1), (1), (2) t(a)"),
    Case("OrderlessWindows",
      "SELECT rank() OVER () AS r, a FROM VALUES (1), (2) t(a)"),
    Case("VirtualColumns",
      "CREATE TABLE {t} (a INT) USING parquet",
      "INSERT INTO {t} VALUES (1)",
      "SELECT a, INPUT__FILE__NAME LIKE '%.parquet' AS f FROM {t}"),
    Case("CharStrippedFunctions",
      "CREATE TABLE {t} (c CHAR(5)) USING parquet",
      "INSERT INTO {t} VALUES ('ab')",
      "SELECT concat(c, '|') AS s FROM {t}"),
    Case("CommonCategories", "SELECT array('x', true) AS a"),
    Case("DecimalIntegralCasts",
      "SELECT CAST(3404045.5 AS TINYINT) AS b"),
    Case("TimestampComparisons",
      "SELECT TIMESTAMP'1970-01-01 00:00:00' <= 0 AS r"),
    Case("IntegralTimestampCasts", "SELECT CAST(1000 AS TIMESTAMP) AS ts"),
    Case("HiveCastRendering", "SELECT CAST(true AS STRING) AS s"),
    Case("BooleanComparisons", "SELECT true > 0.5 AS r"),
    Case("RollupEmptyInput",
      "SELECT a, count(*) AS n FROM VALUES (1) t(a) WHERE a > 5 GROUP BY ROLLUP(a)"),
    Case("HiveBooleanFilters", "SELECT a FROM VALUES (0), (1), (2) t(a) WHERE a"))

  /** Enforcement-only stages: inert with authz off, pinned on both
    * entries by ExtensionsAuthzSpec.
    */
  private val authzStages =
    Set("Authz.guardSetPlan", "Authz.checkStatement", "Authz.applyPolicies")
  /** Stages whose Hive surface needs a registered name: the named and
    * time-travel test below.
    */
  private val namedStages = Set("NamedTables")

  private def answer(entry: String, run: String => org.apache.spark.sql.DataFrame,
      c: Case): Either[String, (Seq[String], Seq[String])] =
    try {
      val dfs = c.statements.map(q =>
        run(q.replace("{t}", s"parity_${entry}_${c.stage.toLowerCase}")))
      val df = dfs.last
      Right((df.columns.toSeq,
        df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted))
    } catch { case NonFatal(e) => Left(e.getClass.getSimpleName) }

  test("every stage the extensions entry runs has a parity case") {
    val injected = FrontDoor.planStages.filter(_.ext match {
      case _: FrontDoor.FrontDoorOnly => false
      case _ => true
    }).map(_.name)
    val covered = cases.map(_.stage).toSet ++ authzStages ++ namedStages
    assert(injected.filterNot(covered).isEmpty)
    assert(cases.map(_.stage).filterNot(injected.toSet).isEmpty)
  }

  cases.foreach { c =>
    test(s"${c.stage}: Engine.sql and the extensions entry agree, unlike plain Spark") {
      val front = answer("fd", Engine.sql(spark, sfDir, _), c)
      val viaExt = answer("ext", ext.sql, c)
      val plain = answer("plain", spark.sql, c)
      assert(viaExt === front)
      assert(plain !== front, s"the case does not exercise ${c.stage}")
    }
  }

  test("the function registry is installed without any Engine call") {
    val v = ext.sql("SELECT field('b', 'a', 'b') AS f, mask_first_n('Abcd1234') AS m")
      .head()
    assert(v.getInt(0) === 2 && v.getString(1) === "Xxxx1234")
  }

  test("named and time-travel snapshot reads resolve on both entries") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_parity_")
      .toString + "/t"
    Snapshots.create(spark, root,
      (0 until 20).map(i => (i.toLong, s"r$i")).toDF("id", "s"))
    NamedTables.registerSnapshot("parity_named", root)
    Snapshots.table(spark, root)
      .deleteWhere(org.apache.spark.sql.functions.col("id") < 5)
    def counts(run: String => org.apache.spark.sql.DataFrame) = (
      run("SELECT count(*) AS n FROM parity_named").head().getLong(0),
      run("SELECT count(*) AS n FROM parity_named VERSION AS OF 0").head().getLong(0))
    assert(counts(ext.sql) === ((15L, 20L)))
    assert(counts(Engine.sql(spark, sfDir, _)) === ((15L, 20L)))
    intercept[Exception] { spark.sql("SELECT count(*) FROM parity_named").collect() }
  }

  test("both entries carry the same optimizer rules") {
    val q = "SELECT count(DISTINCT id) AS n FROM range(100)"
    def optimized(s: SparkSession, df: org.apache.spark.sql.DataFrame) = {
      s.conf.set(SketchRewrite.ConfKey, "true")
      try df.queryExecution.optimizedPlan.toString
      finally s.conf.unset(SketchRewrite.ConfKey)
    }
    assert(optimized(spark, Engine.sql(spark, sfDir, q)).contains("ds_hll"))
    assert(optimized(ext, ext.sql(q)).contains("ds_hll"))
    // the MV rewrite answers from the materialization on both entries
    val path = java.nio.file.Files.createTempDirectory("graft_parity_mv_")
      .toString
    val base = path + "/base"
    spark.range(10).toDF("id").write.parquet(base)
    val mvq = s"SELECT id % 3 AS k, count(*) AS n FROM parquet.`$base` GROUP BY id % 3"
    Seq(spark -> "fd", ext -> "ext").foreach { case (s, tag) =>
      MaterializedViews.create(s, s"parity_mv_$tag", s.sql(mvq), s"$path/mv_$tag")
    }
    def scans(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation.asInstanceOf[org.apache.spark.sql.execution.datasources
            .HadoopFsRelation].location.rootPaths.mkString(",")
      }.mkString(",")
    assert(scans(Engine.sql(spark, sfDir, mvq)).contains("mv_fd"))
    assert(scans(ext.sql(mvq)).contains("mv_ext"))
  }
}
