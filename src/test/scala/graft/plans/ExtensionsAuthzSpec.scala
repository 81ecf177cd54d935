package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterEach
import graft.{Engine, SparkSpec}

/** Authorization through both SQL entries: the `Engine.sql` front door and
  * plain `spark.sql` on a `spark.sql.extensions=graft.GraftExtensions`
  * session. With enforcement on, the extensions entry must never answer a
  * row the row filter removes or a value the column mask hides.
  */
class ExtensionsAuthzSpec extends SparkSpec with BeforeAndAfterEach {

  private lazy val ext = SparkSpec.extensions

  private val SecurityConfs =
    Seq("spark.graft.authz.enabled", "spark.graft.user", "spark.graft.authz.admins")

  override def afterEach(): Unit = {
    Authz.clearAll()
    Seq(spark, ext).foreach(s => SecurityConfs.foreach(s.conf.unset))
    super.afterEach()
  }

  private def asUser(user: String): Unit = Seq(spark, ext).foreach { s =>
    s.conf.set("spark.graft.authz.enabled", "true")
    s.conf.set("spark.graft.user", user)
  }

  /** A registered 10-row path table (id, name) with a row filter and a
    * column mask for every user, readable by `carol`.
    */
  private def policiedTable(): String = {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_extauthz_")
      .toString + "/t"
    (0 until 10).map(i => (i.toLong, s"name$i")).toDF("id", "name")
      .write.parquet(path)
    val name = "extauthz_tab"
    NamedTables.registerPath(name, path)
    Authz.grant(name, Authz.User("carol"), Seq("select"))
    Authz.setRowFilter(name, Authz.AllUsers, "id < 4")
    Authz.setColumnMask(name, "name", Authz.AllUsers, "'***'")
    name
  }

  private def rows(s: SparkSession, q: String): Seq[(Long, String)] = {
    val df = if (s eq spark) Engine.sql(spark, sfDir, q) else s.sql(q)
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
  }

  test("a policied SELECT answers the same filtered, masked rows on both entries") {
    val t = policiedTable()
    asUser("carol")
    val q = s"SELECT id, name FROM $t"
    val front = rows(spark, q)
    assert(front === (0 until 4).map(i => (i.toLong, "***")))
    val viaExt = rows(ext, q)
    assert(viaExt.forall(_._1 < 4), s"filtered-out rows leaked: $viaExt")
    assert(viaExt.forall(_._2 == "***"), s"unmasked values leaked: $viaExt")
    assert(viaExt === front)
  }

  test("policies also hold inside subqueries and CTEs on the extensions entry") {
    val t = policiedTable()
    asUser("carol")
    val q = s"WITH c AS (SELECT * FROM $t) " +
      s"SELECT id, name FROM c WHERE id IN (SELECT id FROM $t)"
    assert(rows(ext, q) === rows(spark, q))
    assert(rows(ext, q).map(_._2).toSet === Set("***"))
  }

  test("deny-by-default holds on the extensions entry") {
    val t = policiedTable()
    asUser("mallory")
    intercept[Authz.AccessDenied] { rows(spark, s"SELECT id, name FROM $t") }
    intercept[Authz.AccessDenied] { rows(ext, s"SELECT id, name FROM $t") }
  }

  test("the security confs are not settable through the extensions entry") {
    asUser("carol")
    intercept[Authz.AccessDenied] { ext.sql("SET spark.graft.user=admin") }
    assert(ext.conf.get("spark.graft.user") === "carol")
  }
}
