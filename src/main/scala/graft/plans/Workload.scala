package graft.plans

import java.util.Locale
import java.util.concurrent.{ConcurrentHashMap, Executors, Semaphore, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Workload management: resource plans, pools, query triggers, mappings —
  * the reference's WLM surface (ref ql/src/java/org/apache/hadoop/hive/ql/
  * ddl/workloadmanagement/ + exec/tez/WorkloadManager.java: a resource
  * plan holds pools with an allocation fraction and query parallelism,
  * triggers fire on runtime counters with KILL / MOVE actions, and user
  * mappings route sessions to pools).
  *
  * Spark-native execution model:
  *
  *   - a POOL maps onto a fair-scheduler pool: [[run]] sets
  *     `spark.scheduler.pool` for the query's jobs, and
  *     [[toFairSchedulerXml]] compiles the active plan into the real
  *     allocation file a cluster deployment hands to
  *     `spark.scheduler.allocation.file` (alloc_fraction → pool weight);
  *   - QUERY_PARALLELISM is a per-pool semaphore: excess queries queue,
  *     exactly the reference's pool admission control;
  *   - TRIGGERS poll live counters (ELAPSED_TIME ms, SHUFFLE_BYTES,
  *     HDFS_BYTES_READ — task metrics aggregated per job group by a
  *     listener) while the query runs. KILL cancels the query's job group
  *     (tasks die cluster-wide — `cancelJobGroup` is Spark's kill switch)
  *     and surfaces [[QueryKilledException]], the analog of the
  *     reference's "Query was cancelled by workload management" path.
  *     MOVE re-routes the session to the target pool: the move takes
  *     effect for the query's subsequent jobs and statements (the
  *     reference likewise moves between DAG scheduling points, not
  *     mid-task);
  *   - USER MAPPINGS pick the pool at session admission, most-recent
  *     definition first, falling back to `default`.
  *
  * Plans are JVM-global (the metastore stand-in, as elsewhere); exactly
  * one plan may be active, matching the reference's ALTER RESOURCE PLAN
  * ... ACTIVATE contract.
  */
object Workload {

  sealed trait Action
  case object Kill extends Action
  final case class MoveTo(pool: String) extends Action

  /** Counter names follow the reference's WM trigger counters. */
  val Counters = Set("ELAPSED_TIME", "SHUFFLE_BYTES", "HDFS_BYTES_READ")

  final case class Trigger(name: String, counter: String, limit: Long,
      action: Action)
  final case class Pool(name: String, allocFraction: Double = 1.0,
      queryParallelism: Int = Int.MaxValue, triggers: Set[String] = Set.empty)
  final case class ResourcePlan(
      name: String,
      pools: Map[String, Pool] = Map("default" -> Pool("default")),
      triggers: Map[String, Trigger] = Map.empty,
      mappings: Seq[(String, String)] = Seq.empty) // (user, pool), latest first

  final class QueryKilledException(val trigger: String, val counter: String,
      val value: Long, val limit: Long)
    extends RuntimeException(
      s"query killed by resource-plan trigger $trigger: $counter=$value exceeded $limit")

  /** The whole WLM database as one immutable value — every mutation is a
    * pure `WState => WState` applied identically to the in-memory copy and
    * (when [[bootstrap]]ed) the durable store, so a JVM restart reloads
    * exactly what admin statements built (the reference stores resource
    * plans in the metastore: standalone-metastore thrift WMResourcePlan/
    * WMPool/WMTrigger/WMMapping tables — a plan that forgets itself on
    * restart defeats its purpose).
    */
  final case class WState(
      plans: Map[String, ResourcePlan] = Map.empty,
      active: Option[String] = None)

  @volatile private var state: WState = WState()
  // session pool overrides written by MOVE triggers: user -> pool
  // (runtime session state, deliberately NOT persisted)
  private val movedTo = new ConcurrentHashMap[String, String]()

  private def mutate(op: WState => WState): Unit = synchronized {
    state = op(state)
    durable.mutate(op)
  }

  private def norm(s: String): String = s.toLowerCase(Locale.ROOT)

  // ------------------------------------------------------------- plan DDL

  def createPlan(name: String): Unit = {
    require(!state.plans.contains(norm(name)), s"resource plan exists: $name")
    val n = norm(name)
    mutate(s => if (s.plans.contains(n)) s
      else s.copy(plans = s.plans + (n -> ResourcePlan(n))))
  }
  def dropPlan(name: String): Unit = {
    require(!state.active.contains(norm(name)), s"cannot drop the active plan: $name")
    val n = norm(name)
    mutate(s => s.copy(plans = s.plans - n))
  }
  def activate(name: String): Unit = {
    require(state.plans.contains(norm(name)), s"resource plan not found: $name")
    val n = norm(name)
    mutate(s => if (s.plans.contains(n)) s.copy(active = Some(n)) else s)
    movedTo.clear(); admission.clear()
  }
  def disable(): Unit = {
    mutate(_.copy(active = None)); movedTo.clear(); admission.clear()
  }
  def activePlan: Option[ResourcePlan] = {
    val s = state; s.active.flatMap(s.plans.get)
  }
  def planNames: Seq[String] = state.plans.keys.toSeq.sorted
  def plan(name: String): Option[ResourcePlan] = state.plans.get(norm(name))

  private def update(name: String)(f: ResourcePlan => ResourcePlan): Unit = {
    val n = norm(name)
    if (!state.plans.contains(n))
      throw new IllegalArgumentException(s"resource plan not found: $name")
    mutate(s => s.plans.get(n) match {
      case Some(p) => s.copy(plans = s.plans + (n -> f(p)))
      case None => s
    })
  }

  def createPool(planName: String, pool: String, allocFraction: Double,
      queryParallelism: Int): Unit = {
    update(planName)(p => p.copy(pools = p.pools +
      (norm(pool) -> Pool(norm(pool), allocFraction, queryParallelism))))
    // re-defining a pool re-sizes its admission semaphore: drop the cached
    // one so the next acquire builds from the CURRENT parallelism.
    // Transition semantics: queries already admitted finish under the
    // admission they hold (they release into the orphaned semaphore); the
    // new limit governs admissions from here on — the reference's plan-swap
    // behaves the same way (running Tez sessions drain, they are not
    // killed by a resize).
    admission.remove(s"${norm(planName)}/${norm(pool)}")
  }
  def dropPool(planName: String, pool: String): Unit = {
    update(planName)(p => p.copy(pools = p.pools - norm(pool)))
    admission.remove(s"${norm(planName)}/${norm(pool)}")
  }

  def createTrigger(planName: String, trigger: String, counter: String,
      limit: Long, action: Action): Unit = {
    val c = counter.toUpperCase(Locale.ROOT)
    require(Counters.contains(c), s"unknown trigger counter: $counter")
    update(planName)(p => p.copy(triggers = p.triggers +
      (norm(trigger) -> Trigger(norm(trigger), c, limit, action))))
  }
  def dropTrigger(planName: String, trigger: String): Unit =
    update(planName) { p =>
      p.copy(triggers = p.triggers - norm(trigger),
        pools = p.pools.map { case (n, pl) =>
          n -> pl.copy(triggers = pl.triggers - norm(trigger)) })
    }
  def addTriggerToPool(planName: String, trigger: String, pool: String): Unit =
    update(planName) { p =>
      require(p.triggers.contains(norm(trigger)), s"trigger not found: $trigger")
      val pl = p.pools.getOrElse(norm(pool),
        throw new IllegalArgumentException(s"pool not found: $pool"))
      p.copy(pools = p.pools + (norm(pool) -> pl.copy(
        triggers = pl.triggers + norm(trigger))))
    }
  def addMapping(planName: String, user: String, pool: String): Unit =
    update(planName)(p => p.copy(mappings =
      (norm(user) -> norm(pool)) +: p.mappings.filterNot(_._1 == norm(user))))
  def dropMapping(planName: String, user: String): Unit =
    update(planName)(p => p.copy(mappings = p.mappings.filterNot(_._1 == norm(user))))

  /** Test/maintenance reset — WLM state is JVM-global. The durable store
    * (if bootstrapped) is detached, NOT wiped: clearAll models a session
    * teardown, not a metastore drop.
    */
  def clearAll(): Unit = synchronized {
    state = WState(); movedTo.clear(); admission.clear()
    durable.detach()
  }

  // ------------------------------------------------------- durable store

  // serializable document shape (json4s-friendly flat lists; the Action
  // ADT flattens to "kill" | "move:<pool>")
  private case class TriggerE(name: String, counter: String, limit: Long,
      action: String)
  private case class PoolE(name: String, allocFraction: Double,
      queryParallelism: Int, triggers: List[String])
  private case class MappingE(user: String, pool: String)
  private case class PlanE(name: String, pools: List[PoolE],
      triggers: List[TriggerE], mappings: List[MappingE])
  private case class WDoc(plans: List[PlanE], active: Option[String])

  private implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats

  private def encAction(a: Action): String = a match {
    case Kill => "kill"
    case MoveTo(p) => s"move:$p"
  }
  private def decAction(s: String): Action =
    if (s == "kill") Kill else MoveTo(s.stripPrefix("move:"))

  private def toDoc(s: WState): WDoc = WDoc(
    s.plans.toList.sortBy(_._1).map { case (_, p) =>
      PlanE(p.name,
        p.pools.toList.sortBy(_._1).map { case (_, pl) =>
          PoolE(pl.name, pl.allocFraction, pl.queryParallelism,
            pl.triggers.toList.sorted) },
        p.triggers.toList.sortBy(_._1).map { case (_, t) =>
          TriggerE(t.name, t.counter, t.limit, encAction(t.action)) },
        p.mappings.toList.map { case (u, pool) => MappingE(u, pool) })
    },
    s.active)

  private def ofDoc(d: WDoc): WState = WState(
    d.plans.map { pe =>
      pe.name -> ResourcePlan(pe.name,
        pe.pools.map(pl => pl.name -> Pool(pl.name, pl.allocFraction,
          pl.queryParallelism, pl.triggers.toSet)).toMap,
        pe.triggers.map(t => t.name -> Trigger(t.name, t.counter, t.limit,
          decAction(t.action))).toMap,
        pe.mappings.map(m => m.user -> m.pool))
    }.toMap,
    d.active)

  private[graft] val durable = new CasJsonStore.Attached[WState](
    this, "_workload", WState(),
    st => org.json4s.jackson.Serialization.write(toDoc(st)),
    txt => ofDoc(org.json4s.jackson.Serialization.read[WDoc](txt)))

  /** Install the persisted WLM database when `spark.graft.catalog` is set
    * (the same conf that makes [[NamedTables]] and [[Authz]] durable):
    * durable state loads under the in-memory state (memory wins per plan —
    * it is newer), and every mutation from here on writes through.
    * Idempotent per path; called from [[graft.Engine.install]].
    */
  def bootstrap(spark: SparkSession): Unit = durable.attach(spark) { s =>
    val d = s.load()._2
    val memPlans = state.plans
    val memActive = state.active
    state = WState(d.plans ++ memPlans, memActive.orElse(d.active))
    // persist pre-bootstrap (memory-only) plans immediately: [[mutate]]
    // replays each later op against the DURABLE state, where a plan that
    // never reached the store would make activate/createPool/createTrigger
    // hit the op's None-guard and silently persist nothing — the plan
    // (and all its edits) would then vanish on restart.
    if (memPlans.nonEmpty || memActive.nonEmpty)
      s.mutate(st => WState(st.plans ++ memPlans,
        memActive.orElse(st.active)))
  }

  /** Compile a plan to the fair-scheduler allocation file a real cluster
    * deployment points `spark.scheduler.allocation.file` at —
    * alloc_fraction becomes the pool weight (Spark's fair scheduler shares
    * by weight; fractions scale to integer weights out of 1000).
    */
  def toFairSchedulerXml(p: ResourcePlan): String = {
    val pools = p.pools.values.toSeq.sortBy(_.name).map { pl =>
      val weight = math.max(1, math.round(pl.allocFraction * 1000).toInt)
      s"""  <pool name="${pl.name}">
         |    <schedulingMode>FAIR</schedulingMode>
         |    <weight>$weight</weight>
         |    <minShare>0</minShare>
         |  </pool>""".stripMargin
    }
    s"<?xml version=\"1.0\"?>\n<allocations>\n${pools.mkString("\n")}\n</allocations>\n"
  }

  // --------------------------------------------------------- counters

  /** Per-job-group runtime counters, fed by one JVM-wide listener (the
    * WM counter source; Spark's task metrics are the Tez counters analog).
    */
  private final class GroupCounters {
    val shuffleBytes = new AtomicLong(0)
    val inputBytes = new AtomicLong(0)
  }
  private val tracked = new ConcurrentHashMap[String, GroupCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val listenerInstalled = new AtomicBoolean(false)

  private object MetricsListener extends SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val group = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
      if (group != null && tracked.containsKey(group))
        js.stageIds.foreach(id => stageGroup.put(id, group))
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val group = stageGroup.get(te.stageId)
      if (group != null) {
        val c = tracked.get(group)
        if (c != null && te.taskMetrics != null) {
          c.shuffleBytes.addAndGet(
            te.taskMetrics.shuffleWriteMetrics.bytesWritten)
          c.inputBytes.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
        }
      }
    }
  }
  private def ensureListener(spark: SparkSession): Unit =
    if (listenerInstalled.compareAndSet(false, true))
      spark.sparkContext.addSparkListener(MetricsListener)

  private val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "graft-wm-watchdog"); t.setDaemon(true); t
  }
  private val groupSeq = new AtomicLong(0)
  // admission semaphores per (plan, pool) — lazily built, bounded state
  private val admission = new ConcurrentHashMap[String, Semaphore]()

  /** The pool a user's queries run in under the active plan (mappings,
    * then MOVE overrides, then `default`).
    */
  def poolFor(user: String): String = {
    val u = norm(user)
    Option(movedTo.get(u)).orElse {
      activePlan.flatMap(_.mappings.collectFirst { case (`u`, pool) => pool })
    }.getOrElse("default")
  }

  /** Run `body` under workload management: pool admission (parallelism
    * semaphore), fair-scheduler pool assignment, and live triggers. With
    * no active plan the body runs unmanaged. The body receives the
    * assigned pool name.
    */
  def run[T](spark: SparkSession, user: String)(body: String => T): T = {
    val planOpt = activePlan
    if (planOpt.isEmpty) return body("default")
    val p = planOpt.get
    ensureListener(spark)
    val poolName = poolFor(user)
    val pool = p.pools.getOrElse(poolName, Pool(poolName))
    val sem = admission.computeIfAbsent(s"${p.name}/$poolName", _ =>
      new Semaphore(math.max(1, pool.queryParallelism), true))
    sem.acquire()
    val sc = spark.sparkContext
    val group = s"wm-${p.name}-$poolName-${groupSeq.incrementAndGet()}"
    val counters = new GroupCounters
    tracked.put(group, counters)
    val startMs = System.currentTimeMillis()
    @volatile var fired: Option[(Trigger, Long)] = None
    val poolTriggers = pool.triggers.toSeq.sorted.flatMap(p.triggers.get)
    val watch = if (poolTriggers.isEmpty) None else Some(
      watchdog.scheduleWithFixedDelay(new Runnable {
        override def run(): Unit = poolTriggers.foreach { t =>
          if (fired.isEmpty) {
            val v = t.counter match {
              case "ELAPSED_TIME" => System.currentTimeMillis() - startMs
              case "SHUFFLE_BYTES" => counters.shuffleBytes.get()
              case "HDFS_BYTES_READ" => counters.inputBytes.get()
            }
            if (v > t.limit) {
              fired = Some((t, v))
              t.action match {
                case Kill => sc.cancelJobGroup(group)
                case MoveTo(target) =>
                  // takes effect at the next scheduling point (the
                  // reference's semantics): subsequent statements of this
                  // user run in the target pool
                  movedTo.put(norm(user), norm(target))
              }
            }
          }
        }
      }, 20, 20, TimeUnit.MILLISECONDS))
    sc.setLocalProperty("spark.scheduler.pool", poolName)
    sc.setJobGroup(group, s"graft wm $user", interruptOnCancel = true)
    try {
      val out = body(poolName)
      fired match {
        case Some((t, v)) if t.action == Kill =>
          throw new QueryKilledException(t.name, t.counter, v, t.limit)
        case _ => out
      }
    } catch {
      case e: Throwable =>
        fired match {
          case Some((t, v)) if t.action == Kill =>
            val k = new QueryKilledException(t.name, t.counter, v, t.limit)
            k.addSuppressed(e); throw k
          case _ => throw e
        }
    } finally {
      watch.foreach(_.cancel(false))
      sc.clearJobGroup()
      sc.setLocalProperty("spark.scheduler.pool", null)
      tracked.remove(group)
      stageGroup.entrySet().removeIf(_.getValue == group)
      sem.release()
    }
  }

  // ------------------------------------------------------------ SQL verbs

  /** Execute `sqlText` if it is a WLM verb (all parse errors to Spark);
    * None otherwise.
    */
  def maybeSql(spark: SparkSession, sqlText: String): Option[DataFrame] = {
    import spark.implicits._
    val c = Cursor(sqlText)
    // mutating WLM verbs are admin-gated when authz enforcement is on
    // (a denied user must not escape KILL triggers by disabling the plan);
    // the SHOW verbs stay open
    def run(verb: String, msg: => String)(act: => Unit) = c.done().map { _ =>
      Authz.requireAdmin(spark, verb); act; Seq(msg).toDF("result")
    }
    def planDot() = c.qparts().collect { case Seq(p, x) => (p, x) }
    def int() = c.num().filter(_.forall(_.isDigit))
    if (c.kw("CREATE", "RESOURCE", "PLAN"))
      c.name().flatMap(p =>
        run("CREATE RESOURCE PLAN", s"created resource plan $p")(createPlan(p)))
    else if (c.kw("DROP", "RESOURCE", "PLAN"))
      c.name().flatMap(p =>
        run("DROP RESOURCE PLAN", s"dropped resource plan $p")(dropPlan(p)))
    else if (c.kw("ALTER", "RESOURCE", "PLAN"))
      c.name().flatMap { p =>
        if (c.kw("ACTIVATE"))
          run("ALTER RESOURCE PLAN ... ACTIVATE",
            s"activated resource plan $p")(activate(p))
        else if (c.kw("DISABLE"))
          run("ALTER RESOURCE PLAN ... DISABLE", s"disabled resource plan $p")(
            if (state.active.contains(norm(p))) disable())
        else None
      }
    else if (c.kw("SHOW", "RESOURCE", "PLANS")) c.done().map { _ =>
      val s = state
      planNames.map(n => (n, s.active.contains(n), s.plans(n).pools.size,
          s.plans(n).triggers.size))
        .toDF("plan", "active", "pools", "triggers")
    }
    else if (c.kw("SHOW", "RESOURCE", "PLAN"))
      for { p <- c.name(); _ <- c.done() } yield {
        val rp = state.plans.getOrElse(norm(p),
          throw new IllegalArgumentException(s"resource plan not found: $p"))
        rp.pools.values.toSeq.sortBy(_.name).map(pl =>
          (pl.name, pl.allocFraction, pl.queryParallelism,
            pl.triggers.toSeq.sorted.mkString(",")))
          .toDF("pool", "alloc_fraction", "query_parallelism", "triggers")
      }
    else if (c.kw("CREATE", "POOL"))
      for {
        (p, pool) <- planDot()
        _ <- c.expect("WITH", "ALLOC_FRACTION", "=")
        frac <- c.num()
        _ <- c.expect(",", "QUERY_PARALLELISM", "=")
        par <- int()
        out <- run("CREATE POOL", s"created pool $p.$pool")(
          createPool(p, pool, frac.toDouble, par.toInt))
      } yield out
    else if (c.kw("DROP", "POOL"))
      planDot().flatMap { case (p, pool) =>
        run("DROP POOL", s"dropped pool $p.$pool")(dropPool(p, pool)) }
    else if (c.kw("CREATE", "TRIGGER"))
      for {
        (p, t) <- planDot()
        _ <- c.expect("WHEN")
        counter <- c.word()
        _ <- c.expect(">")
        limit <- int()
        action <- if (c.kw("DO", "KILL")) Some(Kill)
          else if (c.kw("DO", "MOVE", "TO")) c.name().map(MoveTo)
          else None
        out <- run("CREATE TRIGGER", s"created trigger $p.$t")(
          createTrigger(p, t, counter, limit.toLong, action))
      } yield out
    else if (c.kw("DROP", "TRIGGER"))
      planDot().flatMap { case (p, t) =>
        run("DROP TRIGGER", s"dropped trigger $p.$t")(dropTrigger(p, t)) }
    else if (c.kw("ALTER", "POOL"))
      for {
        (p, pool) <- planDot()
        t <- if (c.kw("ADD", "TRIGGER")) c.name() else None
        out <- run("ALTER POOL ... ADD TRIGGER", s"added trigger $t to $p.$pool")(
          addTriggerToPool(p, t, pool))
      } yield out
    else if (c.kw("CREATE", "USER", "MAPPING"))
      for {
        u <- c.str().filter(_.nonEmpty)
        p <- if (c.kw("IN")) c.name() else None
        pool <- if (c.kw("TO")) c.name() else None
        out <- run("CREATE USER MAPPING", s"mapped $u to $p.$pool")(
          addMapping(p, u, pool))
      } yield out
    else if (c.kw("DROP", "USER", "MAPPING"))
      for {
        u <- c.str().filter(_.nonEmpty)
        p <- if (c.kw("IN")) c.name() else None
        out <- run("DROP USER MAPPING", s"unmapped $u in $p")(dropMapping(p, u))
      } yield out
    else None
  }
}
