package graft

import scala.util.control.NonFatal

import graft.plans.{Authz, Cursor, FrontDoor, Macros, NamedTables, ScheduledQueries, Snapshots, Workload}

/** Every text-level verb family parses on the one [[Cursor]] grammar, so a
  * verb reads the same through every spelling Spark's own parser accepts:
  * comments before or after it, a backticked identifier, a keyword inside
  * an identifier or a string. Trailing junk never runs the verb: the
  * statement gets Spark's own parse error and no registry, catalog or
  * authz state changes. On the `spark.sql.extensions` entry the text
  * stages do not run, so every verb there is Spark's parse error.
  */
class VerbSpellingSpec extends SparkSpec {

  private def sql(q: String) = Engine.sql(spark, sfDir, q)

  /** One verb family. `stmt(ref)` spells the statement for an object
    * whose SQL spelling is `ref`; `setup`/`cleanup` build and drop the
    * object named `n`; `state(n)` shows everything the verb can change.
    */
  private case class Row(stage: String, name: String, keywordName: String,
      stmt: String => String, state: String => Any,
      setup: String => Unit = _ => (), cleanup: String => Unit = _ => (),
      denied: Boolean = false)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def table(ddl: String, adds: String*)(n: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $n")
    spark.sql(ddl.replace("{n}", n))
    adds.foreach(a => spark.sql(s"ALTER TABLE $n $a"))
  }
  private def dropTable(n: String): Unit = spark.sql(s"DROP TABLE IF EXISTS $n")

  private val restricted = Seq(
    "spark.graft.authz.enabled" -> Some("true"),
    "spark.graft.user" -> Some("vs_mal"),
    "spark.graft.authz.admins" -> Some("vs_admin"))
  private def securityContext(n: String): Any =
    restricted.map { case (k, _) => spark.conf.getOption(k) }
  private def enforce(n: String): Unit =
    restricted.foreach { case (k, v) => spark.conf.set(k, v.get) }
  private def unenforce(n: String): Unit = {
    restricted.foreach { case (k, _) => spark.conf.unset(k) }
    Authz.clearAll()
  }

  private val rows = Seq(
    Row("SqlMaintenance", "vs_maint", "optimize_zorder_by",
      ref => s"OPTIMIZE $ref",
      n => NamedTables.get(n).collect { case r: NamedTables.SnapshotRef =>
        Snapshots.table(spark, r.root).history().map(m => (m.action, m.files.size))
      },
      setup = { n =>
        import spark.implicits._
        val root = tmp("vs_maint_")
        val t = Snapshots.create(spark, root, Seq((1L, "a")).toDF("id", "s"))
        t.append(Seq((2L, "b")).toDF("id", "s"))
        NamedTables.registerSnapshot(n, root)
      },
      cleanup = n => NamedTables.drop(n)),
    Row("Authz.verbs", "vs_grant_t", "select_on_table",
      ref => s"GRANT SELECT, INSERT ON TABLE $ref TO USER vs_bob",
      n => Authz.grantsOn(n), cleanup = _ => Authz.clearAll()),
    Row("Authz.setRole", "vs_role", "role_all_none",
      ref => s"SET ROLE $ref",
      n => Authz.currentRoles("vs_sr"),
      setup = { n =>
        Seq(n, "vs_other").foreach { r =>
          Authz.createRole(r); Authz.grantRole(r, "vs_sr") }
        spark.conf.set("spark.graft.user", "vs_sr")
      },
      cleanup = { _ =>
        spark.conf.unset("spark.graft.user"); Authz.clearAll() }),
    Row("Authz.guardSetStatement", "spark.graft.user",
      "spark.graft.authz.admins",
      ref => s"SET $ref='SET ROLE ALL'", securityContext,
      setup = enforce, cleanup = unenforce, denied = true),
    Row("Authz.guardSetStatement", "spark.graft.authz.enabled",
      "spark.graft.user",
      ref => s"RESET $ref", securityContext,
      setup = enforce, cleanup = unenforce, denied = true),
    Row("Workload", "vs_plan", "create_resource_plan",
      ref => s"CREATE RESOURCE PLAN $ref",
      n => Workload.planNames.contains(n),
      cleanup = n => if (Workload.plan(n).nonEmpty) Workload.dropPlan(n)),
    Row("Workload", "vs_map_plan", "user_mapping_in",
      ref => s"CREATE USER MAPPING 'it''s a DROP POOL' IN $ref TO default",
      n => Workload.plan(n).map(_.mappings),
      setup = n => Workload.createPlan(n),
      cleanup = n => Workload.dropPlan(n)),
    Row("Macros", "vs_macro", "macro_select",
      ref => s"CREATE TEMPORARY MACRO $ref(x DECIMAL(10, 2)) x + 1",
      n => try spark.sql(s"SELECT $n(41)").head.get(0).toString
           catch { case NonFatal(e) => e.getClass.getSimpleName },
      cleanup = n => Macros.drop(spark, n, ifExists = true)),
    Row("ScheduledQueries", "vs_sched", "scheduled_query_every",
      ref => s"ALTER SCHEDULED QUERY $ref DISABLE",
      n => ScheduledQueries.list(spark).filter(_.name == n).map(_.enabled),
      setup = n => ScheduledQueries.create(spark, n, 3600000L)(
        _.emptyDataFrame)(_ => ()),
      cleanup = n => ScheduledQueries.drop(spark, n)),
    Row("PartitionDdl", "vs_pdrop", "alter_drop_partition",
      ref => s"ALTER TABLE $ref DROP PARTITION (d < 2), PARTITION (d = '3')",
      n => spark.sql(s"SHOW PARTITIONS $n").collect().map(_.getString(0)).toSeq,
      setup = table("CREATE TABLE {n} (a INT, d INT) USING parquet " +
        "PARTITIONED BY (d)", "ADD PARTITION (d=1) PARTITION (d=2) " +
        "PARTITION (d=3)"),
      cleanup = dropTable),
    Row("PartitionDdl", "vs_pcol", "partition_column_t",
      ref => s"ALTER TABLE $ref PARTITION COLUMN (dt int)",
      n => spark.table(n).schema("dt").dataType.sql,
      setup = table("CREATE TABLE {n} (a INT, dt STRING) USING parquet " +
        "PARTITIONED BY (dt)", "ADD PARTITION (dt='100')"),
      cleanup = dropTable),
    Row("SchemaEvolution.verbs", "vs_chg", "change_column_t",
      ref => s"ALTER TABLE $ref CHANGE COLUMN a a2 bigint",
      n => spark.table(n).schema.simpleString,
      setup = table("CREATE TABLE {n} (a INT, b STRING) USING parquet"),
      cleanup = dropTable))

  /** Front-door text stages that run no verb of their own: rewrites that
    * re-enter the front door with Spark-parseable text, the HPL/SQL script
    * runner (its statements re-enter), and HiveConfs, which only mirrors a
    * `SET hive.*` value onto its Spark twin while Spark's SET runs.
    */
  private val notVerbs = Set("CastFormat", "QuantifiedSubqueries",
    "UniqueJoin", "BucketSample", "CommaLimit", "TypeSpellings", "Hplsql",
    "HiveConfs")

  test("every text verb stage of the front door has a spelling row") {
    val stages = (FrontDoor.preParse ++ FrontDoor.onParseFailure).map(_.name)
    val covered = rows.map(_.stage).toSet
    assert(stages.filterNot(covered).filterNot(notVerbs) === Nil)
    assert(covered.filterNot(stages.toSet).isEmpty)
  }

  /** (label, object name, statement) for every spelling but trailing junk. */
  private def spellings(r: Row): Seq[(String, String, String)] = {
    val n = r.name
    Seq(
      ("plain", n, r.stmt(n)),
      ("a leading -- comment", n,
        s"-- ${r.stage}: GRANT ROLE x TO USER y\n${r.stmt(n)}"),
      ("a trailing -- comment", n, r.stmt(n) + " -- DROP ROLE x"),
      ("a trailing /* */ comment", n, r.stmt(n) + " /* OPTIMIZE x; */"),
      ("a backticked identifier", n, r.stmt(s"`$n`")),
      ("a keyword inside an identifier", r.keywordName,
        r.stmt(r.keywordName)))
  }

  /** Run `text` on a fresh object `n`: the answer (columns and rows, or
    * the error class) and the state after, with `n` written as `{n}`.
    */
  private def outcome(r: Row, n: String, text: String,
      run: String => org.apache.spark.sql.DataFrame = sql): (String, String) = {
    r.setup(n)
    try {
      val answer =
        try {
          val df = run(text)
          df.columns.mkString(",") + ": " +
            df.collect().map(_.mkString("|")).sorted.mkString("; ")
        } catch { case NonFatal(e) => e.getClass.getSimpleName }
      (answer.replace(n, "{n}"), String.valueOf(r.state(n)).replace(n, "{n}"))
    } finally r.cleanup(n)
  }

  private def stateOf(r: Row): String = {
    r.setup(r.name)
    try String.valueOf(r.state(r.name)) finally r.cleanup(r.name)
  }

  rows.foreach { r =>
    val what = s"${r.stage}: ${r.stmt(r.name)}"
    if (r.denied) test(s"$what is denied in every spelling") {
      val untouched = stateOf(r)
      val allowed = (spellings(r).map(_._3) :+ (r.stmt(r.name) + " junk"))
        .filterNot { text =>
          r.setup(r.name)
          try {
            val denied =
              try { sql(text); false }
              catch { case _: Authz.AccessDenied => true }
            denied && String.valueOf(r.state(r.name)) == untouched
          } finally r.cleanup(r.name)
        }
      assert(allowed.isEmpty)
    } else {
      test(s"$what runs alike in every spelling") {
        val plain = outcome(r, r.name, r.stmt(r.name))
        assert(!plain._1.startsWith("ParseException") &&
          plain._2 != stateOf(r).replace(r.name, "{n}"),
          s"the plain spelling does not run: $plain")
        val differing = spellings(r).flatMap { case (label, n, text) =>
          val got = outcome(r, n, text)
          if (got == plain) None else Some(s"$label: $text => $got")
        }
        assert(differing.isEmpty, s"plain: $plain")
      }
      test(s"$what with trailing junk is Spark's parse error and changes nothing") {
        val untouched = stateOf(r)
        val (answer, after) = outcome(r, r.name, r.stmt(r.name) + " junk")
        assert(answer === "ParseException")
        assert(after === untouched.replace(r.name, "{n}"))
      }
      test(s"$what is Spark's parse error on the extensions entry") {
        val untouched = stateOf(r)
        val (answer, after) =
          outcome(r, r.name, r.stmt(r.name), SparkSpec.extensions.sql)
        assert(answer === "ParseException")
        assert(after === untouched.replace(r.name, "{n}"))
      }
    }
  }

  test("the lexer skips comments, reads doubled quotes and splits groups") {
    val c = Cursor("/* a */ ALTER -- b\n TABLE `x``y`.z " +
      "SET ROW FILTER 'n = ''DROP'' -- not a comment' (a, f(b, c), 'd,e') ;")
    assert(c.kw("ALTER", "TABLE"))
    assert(c.qparts() === Some(Seq("x`y", "z")))
    assert(c.kw("SET", "ROW", "FILTER"))
    assert(c.str() === Some("n = 'DROP' -- not a comment"))
    assert(c.group() === Some(Seq("a", "f(b, c)", "'d,e'")))
    assert(c.end())
    assert(Cursor("(a, (b)").group() === None)
    assert(Cursor("(a,, b)").group() === None)
    assert(Cursor("()").group() === Some(Nil))
    assert(Cursor.leads(" -- x\n/* y */ set role r", "SET"))
    assert(!Cursor.leads("settings", "SET"))
  }
}
