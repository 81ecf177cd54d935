package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scheduled queries (ref ql/src/java/org/apache/hadoop/hive/ql/scheduled/
  * ScheduledQueryExecutionService.java + the `CREATE SCHEDULED QUERY ...
  * EVERY n MINUTES` DDL, parse/ScheduledQueryAnalyzer): a registry of named
  * queries with an interval, executed when due.
  *
  * Deterministic by design: the engine does not own a timer thread —
  * [[runDue]] is driven by whatever clock the deployment provides (a cron
  * tick, an Airflow task, a Structured Streaming trigger), which is also how
  * tests drive it. Hive's executor-pool/metastore-lease machinery is
  * infrastructure Spark deployments already have (SURVEY §7 non-goals); the
  * capability kept here is the schedule registry + due-query execution.
  *
  * SQL-defined schedules are DURABLE when `spark.graft.catalog` is set (the
  * same conf that makes [[NamedTables]]/[[Authz]]/[[Workload]] durable): the
  * statement text, interval, enabled flag, and last-run time persist through
  * the shared [[CasJsonStore]] discipline and re-hydrate into any session
  * that touches a scheduled-query verb — the reference stores exactly these
  * fields in the metastore ScheduledQuery table (a nightly-compaction
  * schedule that forgets itself on restart defeats its purpose).
  * Programmatic schedules ([[create]] with an arbitrary closure) are
  * session-only, like the reference's in-process executors.
  */
object ScheduledQueries {

  final case class Scheduled(
      name: String,
      everyMillis: Long,
      query: SparkSession => DataFrame,
      sink: DataFrame => Unit,
      lastRunAt: Long,
      enabled: Boolean,
      owner: Option[String] = None)

  /** SQL-defined schedules execute AS THEIR OWNER (the user who created
    * them — the reference's ScheduledQueryExecutionService runs the stored
    * statement as the schedule's owner, not the ticker): without this, an
    * arbitrary invoker of the due tick would run the statement under THEIR
    * identity, so their row filters/masks would silently corrupt an
    * admin's materialization (and a cron tick under the default anonymous
    * user would fail every statement once enforcement is on). Programmatic
    * schedules (closures) run as the invoker — library access.
    *
    * Trust model: the owner is pinned at CREATE from the session user.
    * With enforcement ON, CREATE is admin-gated, so only admins mint
    * owned schedules; the pre-enforcement phase is the trusted setup
    * window, exactly as with the authz admin verbs themselves (anything
    * created then — grants, admins, schedules — is the bootstrap state).
    * A schedule created pre-enforcement carries that phase's user (often
    * `anonymous`); once enforcement is on it will be denied like any
    * anonymous session — recreate it as a real owner.
    */
  private def runAs[T](spark: SparkSession, owner: Option[String])(
      body: SparkSession => T): T = owner match {
    case None => body(spark)
    case Some(u) =>
      // execute in a CLONED session owned by `u` — never by mutating the
      // caller's conf, which would grant the owner's identity to every
      // CONCURRENT statement on a shared session for the duration of the
      // run (the reference executes scheduled queries in their own session
      // for the same reason)
      val s = org.apache.spark.sql.GraftShims.cloneSession(spark)
      s.conf.set("spark.graft.user", u)
      body(s)
  }

  private val registry =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        java.util.concurrent.ConcurrentHashMap[String, Scheduled]]())

  private def regFor(spark: SparkSession) = registry.synchronized {
    var r = registry.get(spark)
    if (r == null) {
      r = new java.util.concurrent.ConcurrentHashMap[String, Scheduled]()
      registry.put(spark, r)
    }
    r
  }

  /** CREATE SCHEDULED QUERY name EVERY interval AS query (+ a sink: Hive's
    * scheduled queries are INSERT/materialization statements). `owner`
    * (SQL-verb path) pins the execution identity; None = run as invoker.
    */
  def create(spark: SparkSession, name: String, everyMillis: Long,
      owner: Option[String] = None)(
      query: SparkSession => DataFrame)(sink: DataFrame => Unit): Unit =
    regFor(spark).put(name,
      Scheduled(name, everyMillis, query, sink, lastRunAt = Long.MinValue,
        enabled = true, owner = owner))

  /** ALTER SCHEDULED QUERY name ENABLE/DISABLE. */
  def setEnabled(spark: SparkSession, name: String, enabled: Boolean): Unit = {
    val r = regFor(spark)
    Option(r.get(name)).foreach(s => r.put(name, s.copy(enabled = enabled)))
    if (stmtsFor(spark).containsKey(name))
      durable.mutate(_.map(e => if (e.name == name) e.copy(enabled = enabled) else e))
  }

  /** DROP SCHEDULED QUERY name. */
  def drop(spark: SparkSession, name: String): Unit = {
    regFor(spark).remove(name)
    if (stmtsFor(spark).remove(name) != null)
      durable.mutate(_.filterNot(_.name == name))
  }

  def list(spark: SparkSession): Seq[Scheduled] = {
    import scala.jdk.CollectionConverters._
    regFor(spark).values.asScala.toSeq.sortBy(_.name)
  }

  /** Execute every enabled query whose interval has elapsed at `now`; returns
    * the names run. Failures propagate (the caller's scheduler owns retry
    * policy, as Hive's executor service does).
    *
    * A fresh session (or restarted JVM) only sees PERSISTED schedules after
    * hydration, which needs the SQL front door to re-bind statement text —
    * deployments driving the tick programmatically should use the
    * `runner`-taking overload (or [[graft.Engine.scheduledTick]]); this
    * overload ticks whatever the session already holds.
    */
  def runDue(spark: SparkSession, now: Long): Seq[String] = {
    val r = regFor(spark)
    val due = list(spark).filter(s => s.enabled &&
      (s.lastRunAt == Long.MinValue || now - s.lastRunAt >= s.everyMillis))
    // per-schedule failure ISOLATION (the reference's executor service
    // likewise fails one schedule without starving the rest): every due
    // schedule gets its attempt; the first failure then propagates with
    // the others suppressed. A failed schedule keeps its old lastRunAt —
    // the next tick retries it.
    val failures = scala.collection.mutable.ArrayBuffer.empty[Throwable]
    val ran = due.flatMap { s =>
      try {
        runAs(spark, s.owner)(sess => s.sink(s.query(sess)))
        r.put(s.name, s.copy(lastRunAt = now))
        if (stmtsFor(spark).containsKey(s.name))
          durable.mutate(_.map(e => if (e.name == s.name) e.copy(lastRunAt = now) else e))
        Some(s.name)
      } catch {
        case scala.util.control.NonFatal(e) => failures += e; None
      }
    }
    failures.headOption.foreach { first =>
      failures.drop(1).foreach(first.addSuppressed)
      throw first
    }
    ran
  }

  /** The deployment-tick entry: hydrates persisted schedules through
    * `runner` (the SQL front door) first, so a cron/Airflow tick on a
    * fresh JVM executes every durable schedule — the whole point of
    * persisting them.
    */
  def runDue(spark: SparkSession, now: Long,
      runner: (SparkSession, String) => DataFrame): Seq[String] = {
    bootstrap(spark)
    hydrate(spark, runner)
    runDue(spark, now)
  }

  // ------------------------------------------------------------ SQL verbs
  // the reference's DDL (parse/ScheduledQueryAnalyzer: CREATE SCHEDULED
  // QUERY q EVERY n MINUTES AS <statement>, ALTER ... ENABLE/DISABLE/
  // EXECUTE, DROP, SHOW) — the EVERY form; CRON expressions are the
  // deployment scheduler's job here (runDue is clock-driven by design)

  // statement text per (session, name), for SHOW, re-execution, and
  // durability (only statement-backed schedules can persist)
  private val statements =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        java.util.concurrent.ConcurrentHashMap[String, String]]())
  private def stmtsFor(spark: SparkSession) = statements.synchronized {
    var r = statements.get(spark)
    if (r == null) {
      r = new java.util.concurrent.ConcurrentHashMap[String, String]()
      statements.put(spark, r)
    }
    r
  }

  /** A scheduled statement's result is forced WITHOUT copying rows to the
    * driver: `foreach` runs the plan distributed and discards rows in the
    * executors, where `collect()` would materialize a full driver copy per
    * tick (a scheduled plain SELECT over a large table must not be a
    * driver OOM). Commands (INSERT/MERGE/...) execute eagerly at build
    * time; this forces the lazy SELECT shapes too.
    */
  private[graft] def force(df: DataFrame): Unit =
    df.foreach((_: org.apache.spark.sql.Row) => ())

  private val CreateR =
    ("""(?is)\s*CREATE\s+SCHEDULED\s+QUERY\s+(\w+)\s+EVERY\s+(\d+)\s+""" +
      """(SECOND|MINUTE|HOUR)S?\s+AS\s+(.+?)\s*;?\s*""").r
  private val AlterToggleR =
    """(?is)\s*ALTER\s+SCHEDULED\s+QUERY\s+(\w+)\s+(ENABLE|DISABLE)\s*;?\s*""".r
  private val AlterExecR =
    """(?is)\s*ALTER\s+SCHEDULED\s+QUERY\s+(\w+)\s+EXECUTE\s*;?\s*""".r
  private val DropR =
    """(?is)\s*DROP\s+SCHEDULED\s+QUERY\s+(\w+)\s*;?\s*""".r
  private val ShowR = """(?is)\s*SHOW\s+SCHEDULED\s+QUERIES\s*;?\s*""".r
  private val ExecDueR = """(?is)\s*EXECUTE\s+SCHEDULED\s+QUERIES\s*;?\s*""".r
  // every verb above contains this token — the cheap gate for hydration
  private val TouchR = """(?is).*\bSCHEDULED\s+QUER.*""".r

  /** Execute `sqlText` if it is a scheduled-query verb (all parse errors
    * to Spark); `runner` is the engine front door the stored statement
    * re-enters (so scheduled DML/INSERT statements execute with full
    * engine semantics). None otherwise.
    */
  def maybeSql(spark: SparkSession, sqlText: String,
      runner: (SparkSession, String) => DataFrame): Option[DataFrame] = {
    import spark.implicits._
    def done(what: String): DataFrame = Seq(what).toDF("result")
    // a scheduled-query verb touches the durable registry first, so a
    // fresh session (or JVM) sees every persisted schedule
    if (TouchR.matches(sqlText)) { bootstrap(spark); hydrate(spark, runner) }
    // mutating schedule verbs are admin-gated when authz enforcement is on
    // (dropping the nightly compaction is sabotage exactly like dropping a
    // resource plan); SHOW + the due tick stay open
    def admin(verb: String): Unit = Authz.requireAdmin(spark, verb)
    sqlText match {
      case CreateR(name, n, unit, stmt) =>
        admin("CREATE SCHEDULED QUERY")
        val ms = n.toLong * (unit.toUpperCase match {
          case "SECOND" => 1000L
          case "MINUTE" => 60L * 1000
          case _ => 3600L * 1000
        })
        val owner = Authz.currentUser(spark)
        create(spark, name, ms, Some(owner))(s => runner(s, stmt))(force)
        stmtsFor(spark).put(name, stmt.trim)
        durable.mutate(_.filterNot(_.name == name) :+
          SchedE(name, ms, stmt.trim, enabled = true, Long.MinValue,
            Some(owner)))
        Some(done(s"created scheduled query $name"))
      case AlterToggleR(name, toggle) =>
        admin("ALTER SCHEDULED QUERY")
        setEnabled(spark, name, toggle.equalsIgnoreCase("ENABLE"))
        Some(done(s"${toggle.toLowerCase}d scheduled query $name"))
      case AlterExecR(name) =>
        admin("ALTER SCHEDULED QUERY ... EXECUTE")
        // run-now, unconditionally (the reference's ALTER ... EXECUTE)
        val r = regFor(spark)
        val s = Option(r.get(name)).getOrElse(
          throw new IllegalArgumentException(s"scheduled query not found: $name"))
        runAs(spark, s.owner)(sess => s.sink(s.query(sess)))
        val now = System.currentTimeMillis()
        r.put(name, s.copy(lastRunAt = now))
        if (stmtsFor(spark).containsKey(name))
          durable.mutate(_.map(e => if (e.name == name) e.copy(lastRunAt = now) else e))
        Some(done(s"executed scheduled query $name"))
      case DropR(name) =>
        admin("DROP SCHEDULED QUERY")
        drop(spark, name)
        Some(done(s"dropped scheduled query $name"))
      case ShowR() =>
        val stmts = stmtsFor(spark)
        Some(list(spark).map(s => (s.name, s.everyMillis, s.enabled,
            if (s.lastRunAt == Long.MinValue) null
            else new java.sql.Timestamp(s.lastRunAt),
            stmts.getOrDefault(s.name, "<programmatic>")))
          .toDF("name", "every_ms", "enabled", "last_run", "statement"))
      case ExecDueR() =>
        // the due tick executes each stored statement under its OWNER's
        // identity (often an admin) — an open front door would let any
        // user trigger owner-privileged side effects on demand. Gate it
        // like ALTER ... EXECUTE; deployment schedulers drive ticks via
        // [[graft.Engine.scheduledTick]], which is not a SQL surface.
        admin("EXECUTE SCHEDULED QUERIES")
        Some(runDue(spark, System.currentTimeMillis()).toDF("executed"))
      case _ => None
    }
  }

  // ------------------------------------------------------- durable store

  /** Serialization row — exactly the reference's metastore ScheduledQuery
    * columns that matter here (schedule_name, schedule, query, enabled,
    * next_execution). Top-level-ish so json4s reflection can construct it.
    */
  private case class SchedE(name: String, everyMillis: Long,
      statement: String, enabled: Boolean, lastRunAt: Long,
      owner: Option[String])

  private implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats

  private val durable = new CasJsonStore.Attached[List[SchedE]](
    this, "_scheduled", Nil,
    l => org.json4s.jackson.Serialization.write(l),
    txt => org.json4s.jackson.Serialization.read[List[SchedE]](txt))

  /** Install the persisted registry when `spark.graft.catalog` is set.
    * Idempotent per path.
    */
  def bootstrap(spark: SparkSession): Unit = durable.attach(spark)(_ => ())

  /** Rebuild this session's registry entries from the durable store
    * (statement text re-binds to the session's front-door `runner`).
    * In-memory entries win per name — they are newer.
    */
  private def hydrate(spark: SparkSession,
      runner: (SparkSession, String) => DataFrame): Unit =
    durable.get.foreach { s =>
      val r = regFor(spark)
      val stmts = stmtsFor(spark)
      s.load()._2.foreach { e =>
        if (!r.containsKey(e.name)) {
          r.put(e.name, Scheduled(e.name, e.everyMillis,
            sess => runner(sess, e.statement), force, e.lastRunAt, e.enabled,
            e.owner))
          stmts.put(e.name, e.statement)
        }
      }
    }

  /** Test hook: detach the durable store, as a JVM restart would. */
  private[graft] def resetStoreForTest(): Unit = durable.detach()

  /** Test hook: forget one session's in-memory registry (hydration then
    * rebuilds it from the durable store), as a fresh session would see.
    */
  private[graft] def forgetSessionForTest(spark: SparkSession): Unit = {
    registry.synchronized(registry.remove(spark))
    statements.synchronized(statements.remove(spark))
  }
}
