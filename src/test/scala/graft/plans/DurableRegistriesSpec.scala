package graft.plans

import graft.SparkSpec

/** The durable registries keep a bounded version window: many changes
  * through [[NamedTables]] and [[Authz]] leave at most the store's 20
  * trailing `v*.json` files in their directories, and a simulated JVM
  * restart reloads exactly the state memory held.
  */
class DurableRegistriesSpec extends SparkSpec {

  private val cycles = 30

  private def versionFiles(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten
      .filter(n => n.startsWith("v") && n.endsWith(".json"))

  private def withCatalog(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_durable_").toString
    spark.conf.set(NamedTables.CatalogConfKey, dir)
    try body(dir)
    finally spark.conf.unset(NamedTables.CatalogConfKey)
  }

  test("register/drop cycles keep the catalog dir bounded and reload exactly") {
    val before = NamedTables.all()
    withCatalog { dir =>
      try {
        NamedTables.resetForTest()
        NamedTables.bootstrap(spark)
        NamedTables.registerPath("durable_base", "/base")
        (1 to cycles).foreach { i =>
          NamedTables.registerPath(s"durable_t$i", s"/t$i")
          NamedTables.drop(s"durable_t${i - 1}")
        }
        assert(versionFiles(dir).size <= 20, versionFiles(dir).sorted)
        val inMemory = NamedTables.all()
        NamedTables.resetForTest()
        NamedTables.bootstrap(spark)
        assert(NamedTables.all() === inMemory)
        assert(inMemory.map(_._1) === Seq("durable_base", s"durable_t$cycles"))
      } finally {
        NamedTables.resetForTest()
        before.foreach { case (n, ref) => NamedTables.register(n, ref) }
      }
    }
  }

  test("GRANT/REVOKE cycles keep the _authz dir bounded and reload exactly") {
    def snapshot() = (Authz.roles,
      (0 to cycles).map(i => Authz.grantsOn(s"durable_g$i")),
      Authz.rolesOf("durable_u"))
    withCatalog { dir =>
      try {
        Authz.clearAll()
        Authz.bootstrap(spark)
        Authz.createRole("durable_r")
        Authz.grantRole("durable_r", "durable_u")
        (1 to cycles).foreach { i =>
          Authz.grant(s"durable_g$i", Authz.Role("durable_r"), Seq("select"))
          Authz.revoke(s"durable_g${i - 1}", Authz.Role("durable_r"), Seq("select"))
        }
        assert(versionFiles(s"$dir/_authz").size <= 20,
          versionFiles(s"$dir/_authz").sorted)
        val inMemory = snapshot()
        Authz.clearAll()
        Authz.bootstrap(spark)
        assert(snapshot() === inMemory)
        assert(Authz.grantsOn(s"durable_g$cycles") === Seq("role:durable_r" -> "select"))
      } finally Authz.clearAll()
    }
  }
}
