package graft.plans

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, InsertIntoStatement, LogicalPlan, MergeIntoTable, SubqueryAlias, UpdateTable}
import org.apache.spark.sql.functions.{col, expr}

/** SQL authorization: privileges, roles, row filters, and column masks.
  *
  * The privilege/role model is the reference's SQL-standard-based
  * authorization (ref ql/src/java/org/apache/hadoop/hive/ql/security/
  * authorization/plugin/sqlstd/SQLStdHiveAuthorizationValidator.java:
  * GRANT/REVOKE per (principal, object, action), roles as privilege
  * bundles, deny-by-default once enforcement is on). Row filters and
  * column masks are the plugin contract the reference exposes to Ranger
  * (ref ql/.../plugin/HiveAuthorizer.java `getRowFilterExpression` /
  * `getCellValueTransformer`): policies attach to a table and rewrite
  * every read BEFORE user expressions see the rows — filter first, then
  * mask, so filters evaluate over unmasked values, exactly the plugin's
  * ordering.
  *
  * Spark-native enforcement: [[graft.Engine.sql]] is the front door (the
  * HS2 analog — the one place every SQL statement passes). After parsing,
  * [[checkStatement]] validates the required action per referenced table
  * and [[applyPolicies]] substitutes each `UnresolvedRelation` that has
  * policies with a wrapped read plan (filter + mask projection under a
  * `SubqueryAlias`, so qualified column references keep working). The
  * DataFrame API is in-process library access and is deliberately not
  * gated, matching the reference (HDFS-level access bypasses HS2 authz
  * too; enforcement belongs to the SQL service surface).
  *
  * Session contract:
  *   - `spark.graft.authz.enabled=true` turns enforcement on (off =
  *     permissive, policies dormant — existing sessions unaffected);
  *   - `spark.graft.user` names the current user (default `anonymous`);
  *   - `spark.graft.authz.admins` (csv) bypass checks and policies —
  *     the superuser list. With enforcement on, ONLY admins may run the
  *     mutating admin verbs (GRANT/REVOKE, roles, policies) or SET the
  *     security confs above through the SQL front door; with enforcement
  *     off the verbs are permissive (the bootstrap phase).
  *
  * State is JVM-global like [[NamedTables]] (the metastore stand-in this
  * library uses throughout); active roles are all granted roles (the
  * reference's default before `SET ROLE` narrows them).
  */
object Authz {

  sealed trait Principal { def key: String }
  final case class User(name: String) extends Principal {
    val key = s"user:${name.toLowerCase(Locale.ROOT)}"
  }
  final case class Role(name: String) extends Principal {
    val key = s"role:${name.toLowerCase(Locale.ROOT)}"
  }
  case object AllUsers extends Principal { val key = "all" }

  val Actions = Set("select", "insert", "update", "delete", "all")

  /** The whole authorization database as one immutable value — every
    * mutation is a pure `State => State` applied identically to the
    * in-memory copy and (when [[bootstrap]]ed) the durable store, so a
    * JVM restart reloads exactly what admin statements built (the
    * metastore's SQL*Privilege/Role tables, ref standalone-metastore/
    * src/main/thrift/hive_metastore.thrift RolePrincipalGrant /
    * HiveObjectPrivilege).
    */
  final case class State(
      roles: Map[String, Set[String]] = Map.empty, // role -> members
      grants: Map[String, Set[(String, String)]] = Map.empty, // table -> (principalKey, action)
      rowFilters: Map[String, Map[String, String]] = Map.empty, // table -> principalKey -> predicate
      columnMasks: Map[String, Map[String, Map[String, String]]] = Map.empty) // table -> column -> principalKey -> expr

  @volatile private var state: State = State()

  private def mutate(op: State => State): Unit = synchronized {
    state = op(state)
    durable.mutate(op)
  }

  private def norm(s: String): String = s.toLowerCase(Locale.ROOT)

  // ------------------------------------------------------------ admin API

  def createRole(role: String): Unit = mutate { s =>
    if (s.roles.contains(norm(role))) s
    else s.copy(roles = s.roles + (norm(role) -> Set.empty))
  }
  def dropRole(role: String): Unit = mutate(s => s.copy(roles = s.roles - norm(role)))
  def roles: Seq[String] = state.roles.keys.toSeq.sorted

  def grantRole(role: String, user: String): Unit = {
    val r = norm(role)
    require(state.roles.contains(r), s"role not found: $role (CREATE ROLE first)")
    mutate(s => s.copy(roles = s.roles +
      (r -> (s.roles.getOrElse(r, Set.empty) + norm(user)))))
  }
  def revokeRole(role: String, user: String): Unit = {
    val r = norm(role)
    mutate(s => s.roles.get(r) match {
      case Some(m) => s.copy(roles = s.roles + (r -> (m - norm(user))))
      case None => s
    })
  }
  def rolesOf(user: String): Seq[String] =
    state.roles.collect { case (r, m) if m.contains(norm(user)) => r }.toSeq.sorted

  def grant(table: String, principal: Principal, actions: Seq[String]): Unit = {
    val bad = actions.map(norm).filterNot(Actions)
    require(bad.isEmpty, s"unknown privilege(s): ${bad.mkString(", ")}")
    val t = norm(table)
    val add = actions.map(a => principal.key -> norm(a))
    mutate(s => s.copy(grants = s.grants +
      (t -> (s.grants.getOrElse(t, Set.empty) ++ add))))
  }
  def revoke(table: String, principal: Principal, actions: Seq[String]): Unit = {
    val t = norm(table)
    val drop = actions.map(norm).toSet
    mutate(s => s.grants.get(t) match {
      case Some(g) => s.copy(grants = s.grants + (t -> g.filterNot { case (p, a) =>
        p == principal.key && (drop.contains(a) || drop.contains("all")) }))
      case None => s
    })
  }
  def grantsOn(table: String): Seq[(String, String)] =
    state.grants.getOrElse(norm(table), Set.empty).toSeq.sorted

  def setRowFilter(table: String, principal: Principal, predicate: String): Unit = {
    val t = norm(table)
    mutate(s => s.copy(rowFilters = s.rowFilters +
      (t -> (s.rowFilters.getOrElse(t, Map.empty) + (principal.key -> predicate)))))
  }
  def dropRowFilter(table: String, principal: Principal): Unit = {
    val t = norm(table)
    mutate(s => s.rowFilters.get(t) match {
      case Some(m) => s.copy(rowFilters = s.rowFilters + (t -> (m - principal.key)))
      case None => s
    })
  }
  def setColumnMask(table: String, column: String, principal: Principal,
      maskExpr: String): Unit = {
    val t = norm(table); val c = norm(column)
    mutate { s =>
      val perCol = s.columnMasks.getOrElse(t, Map.empty)
      s.copy(columnMasks = s.columnMasks + (t -> (perCol +
        (c -> (perCol.getOrElse(c, Map.empty) + (principal.key -> maskExpr))))))
    }
  }
  def dropColumnMask(table: String, column: String, principal: Principal): Unit = {
    val t = norm(table); val c = norm(column)
    mutate { s =>
      (for { perCol <- s.columnMasks.get(t); m <- perCol.get(c) } yield
        s.copy(columnMasks = s.columnMasks +
          (t -> (perCol + (c -> (m - principal.key)))))).getOrElse(s)
    }
  }

  /** Test/maintenance reset — authz state is JVM-global. The durable store
    * (if bootstrapped) is detached, NOT wiped: clearAll models a session
    * teardown, not a metastore drop.
    */
  def clearAll(): Unit = synchronized {
    state = State(); activeRoles.clear(); durable.detach()
  }

  // ------------------------------------------------------- session context

  def enabled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.authz.enabled").contains("true")
  /** Any authorization state at all — roles, grants, policies, or an
    * attached durable store. SET ROLE intercepts when this is true even
    * with enforcement OFF, so a bootstrap script's `SET ROLE NONE/ALL`
    * issued before flipping enforcement updates the active-role selection
    * instead of silently no-opping (authz verbs stay available
    * pre-enforcement for the same reason); a session that never touched
    * authz still falls through to Spark's canonical SET ROLE error.
    */
  def hasState: Boolean = durable.get.nonEmpty || {
    val s = state
    s.roles.nonEmpty || s.grants.nonEmpty || s.rowFilters.nonEmpty ||
      s.columnMasks.nonEmpty
  }
  def currentUser(spark: SparkSession): String =
    norm(spark.conf.getOption("spark.graft.user").getOrElse("anonymous"))
  private def isAdmin(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.authz.admins").toSeq
      .flatMap(_.split(',')).map(norm).contains(currentUser(spark))

  // SET ROLE narrowing: user -> active role subset (None = all granted,
  // the reference's default)
  private val activeRoles =
    scala.collection.concurrent.TrieMap.empty[String, Option[Set[String]]]

  /** Active roles for a user: all granted roles unless SET ROLE narrowed
    * them (ref ql/.../SessionState.java setCurrentRoleNames).
    */
  def currentRoles(user: String): Seq[String] = {
    val granted = rolesOf(user)
    activeRoles.getOrElse(norm(user), None) match {
      case Some(sel) => granted.filter(sel)
      case None => granted
    }
  }

  def setRole(user: String, role: String): Unit = {
    val r = norm(role)
    require(rolesOf(user).contains(r),
      s"user $user has not been granted role $role")
    activeRoles.put(norm(user), Some(Set(r)))
  }
  def setRoleAll(user: String): Unit = activeRoles.remove(norm(user))
  def setRoleNone(user: String): Unit =
    activeRoles.put(norm(user), Some(Set.empty))

  /** Principal keys that match the current user, most specific first. */
  private def principalKeys(user: String): Seq[String] =
    (User(user).key +: currentRoles(user).map(Role(_).key)) :+ AllUsers.key

  // ---------------------------------------------------------- enforcement

  final class AccessDenied(msg: String) extends SecurityException(msg)

  private def requirePrivilege(spark: SparkSession, table: String, action: String): Unit = {
    val user = currentUser(spark)
    val held = state.grants.getOrElse(norm(table), Set.empty)
    val keys = principalKeys(user).toSet
    val ok = held.exists { case (p, a) =>
      keys.contains(p) && (a == norm(action) || a == "all") }
    if (!ok) throw new AccessDenied(
      s"user $user lacks $action privilege on table $table")
  }

  /** Formats whose two-part identifiers address data by PATH. Governance
    * key for such reads: the registered name owning the path when one
    * exists (path access to a governed table enforces that table's grants
    * and policies — no side door), else the literal `fmt.path` (grantable
    * explicitly; deny-by-default otherwise).
    */
  private val PathFormats =
    Set("parquet", "snapshot", "orc", "csv", "json", "text", "avro")
  private def enforcementKey(parts: Seq[String]): String = parts match {
    case Seq(fmt, path) if PathFormats(norm(fmt)) =>
      NamedTables.nameOfRoot(path).map(norm)
        .getOrElse(norm(parts.mkString(".")))
    // branch/tag/refs reads (`t.branch_x`, `t.tag_x`, `t.refs`) govern
    // under the OWNING table — a branch is the same governed data, so a
    // grant or row filter on `t` must cover every ref of it (no side door)
    case _ if NamedTables.refReadOf(parts).isDefined =>
      norm(NamedTables.refReadOf(parts).get._1)
    case _ => norm(parts.mkString("."))
  }

  /** The snapshot TVFs read table data by path — same governance as a
    * path-addressed relation. Returns the enforcement key when `p` is one
    * of them with a literal path argument.
    */
  private def tvfKey(p: LogicalPlan): Option[(String, String)] = p match {
    case tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
        if tvf.name.size == 1 &&
          Set("snapshot_table", "snapshot_changes", "snapshot_history",
            "hive_acid", "hive_acid_ids").contains(norm(tvf.name.head)) =>
      // the hive_acid family reads a raw ORC directory; the snapshot TVFs
      // a manifest root — either way the key is the owning registered name
      // when one exists, else the literal path (deny-by-default)
      val fmt = if (norm(tvf.name.head).startsWith("hive_acid")) "orc"
        else "snapshot"
      tvf.functionArgs.headOption.collect {
        case org.apache.spark.sql.catalyst.expressions.Literal(s, _)
            if s != null =>
          (norm(tvf.name.head), enforcementKey(Seq(fmt, s.toString)))
      }
    case _ => None
  }

  /** The statement's access profile: (input tables needing SELECT, output
    * tables needing `operation`, the operation verb) — exactly what
    * [[checkStatement]] enforces, exposed for EXPLAIN AUTHORIZATION /
    * EXPLAIN DEPENDENCY (ref ql/.../ExplainTask.java outputs the same
    * inputs/outputs/operation triple).
    */
  def statementAccess(plan: LogicalPlan): (Seq[String], Seq[String], String) = {
    def nameOf(p: LogicalPlan): Option[String] = p match {
      case u: UnresolvedRelation =>
        Some(enforcementKey(u.multipartIdentifier))
      case SubqueryAlias(_, child) => nameOf(child)
      case _ => None
    }
    // (target node, required action): only the target RELATION NODE is
    // exempt from the SELECT check — `INSERT INTO t SELECT FROM t` still
    // reads t and still needs SELECT on it
    val (targetNode, action) = plan match {
      case d: DeleteFromTable => (Some(d.table), "delete")
      case u: UpdateTable => (Some(u.table), "update")
      case m: MergeIntoTable => (Some(m.targetTable), "update")
      case i: InsertIntoStatement => (Some(i.table), "insert")
      case _ => (None, "select")
    }
    val outputs = targetNode.flatMap(nameOf).toSeq
    val exempt: Set[LogicalPlan] = targetNode match {
      case Some(t) => t.collect { case u: UnresolvedRelation => u }.toSet
      case None => Set.empty
    }
    val reads = scala.collection.mutable.LinkedHashSet.empty[String]
    // CTE-scope-aware traversal, shared with NamedTables and the policy
    // rewrite: a CTE name in scope shadows the catalog table, so such a
    // reference is neither privilege-checked nor policy-wrapped
    CteScope.walk(plan, Set.empty) { (node, scope) =>
      node match {
        case u: UnresolvedRelation if !exempt.exists(_ eq u) =>
          if (!CteScope.shadowed(u.multipartIdentifier, scope))
            reads += enforcementKey(u.multipartIdentifier)
        case other => tvfKey(other).foreach { case (_, key) => reads += key }
      }
    }
    (reads.toSeq, outputs, action)
  }

  def checkStatement(spark: SparkSession, plan: LogicalPlan): Unit = {
    if (!enabled(spark) || isAdmin(spark)) return
    // object-destroying verbs are OWNER/ADMIN territory in the
    // reference's SQL-standard authorization (ref ql/security/
    // authorization/plugin/sqlstd/Operation2Privilege.java DROPTABLE
    // = OWNER_PRIV; authorization_drop_table.q); this engine has no
    // ownership ledger, so admins only — a granted SELECT/UPDATE must
    // never let a principal destroy the object itself
    plan match {
      case d: org.apache.spark.sql.catalyst.plans.logical.DropTable =>
        throw new AccessDenied(
          s"user ${currentUser(spark)} may not DROP tables " +
            "(admin-only under enforcement)")
      case t: org.apache.spark.sql.catalyst.plans.logical.TruncateTable =>
        throw new AccessDenied(
          s"user ${currentUser(spark)} may not TRUNCATE tables " +
            "(admin-only under enforcement)")
      case _ => ()
    }
    val (inputs, outputs, action) = statementAccess(plan)
    outputs.foreach(t => requirePrivilege(spark, t, action))
    inputs.foreach(t => requirePrivilege(spark, t, "select"))
  }

  /** Parse + privilege-check a query EMBEDDED in a maintenance verb
    * (EXPLAIN family, CREATE/REBUILD MATERIALIZED VIEW): a verb that
    * executes or reveals a query must enforce exactly like the query
    * itself would — otherwise the verb is a side door around
    * deny-by-default. Returns the parsed plan for further use.
    */
  def checkQueryText(spark: SparkSession, sqlText: String): LogicalPlan = {
    val plan = spark.sessionState.sqlParser.parsePlan(sqlText)
    // the embedded text gets the SAME guards as a front-door statement —
    // without this, `EXPLAIN ANALYZE SET spark.graft.user=admin` would
    // execute the SetCommand eagerly (ofRows runs commands) with no
    // restricted-conf check
    guardSetPlan(spark, plan)
    checkStatement(spark, plan)
    plan
  }

  /** Enforce `action` on one relation, for maintenance verbs that act on a
    * TABLE rather than a query (RESTORE/OPTIMIZE/VACUUM rewrite table
    * state — that is an update). No-op when enforcement is off or the
    * user is an admin.
    */
  def requireRelationPrivilege(spark: SparkSession, parts: Seq[String],
      action: String): Unit =
    if (enabled(spark) && !isAdmin(spark))
      requirePrivilege(spark, enforcementKey(parts), action)

  /** True when a row filter or column mask would rewrite this plan for the
    * CURRENT user. Verbs that materialize shared table state (CREATE /
    * REBUILD MATERIALIZED VIEW — one artifact served to every user by the
    * rewrite) must fail closed for policied users: materializing their
    * filtered view would corrupt the MV for everyone else, materializing
    * the raw view would leak to them.
    */
  def policiedFor(spark: SparkSession, plan: LogicalPlan): Boolean =
    enabled(spark) && !isAdmin(spark) && (applyPolicies(spark, plan) ne plan)

  /** Rewrite reads under the active row-filter/column-mask policies.
    * Applies only to SELECT-shaped plans (DML statements route through
    * [[SqlDml]] before this runs). Returns the plan unchanged when no
    * policy matches — callers use reference equality to skip re-planning.
    */
  def applyPolicies(spark: SparkSession, plan: LogicalPlan): LogicalPlan = {
    if (!enabled(spark) || isAdmin(spark)) return plan
    val user = currentUser(spark)
    val keys = principalKeys(user)
    CteScope.transform(plan, Set.empty) { (node, scope) =>
      node match {
        // time travel resolves FIRST (to the requested version), then the
        // policy wraps the resolved read — otherwise the inner relation
        // would rewrite to a current-version read under the wrapper
        case tt @ org.apache.spark.sql.catalyst.analysis.RelationTimeTravel(
            u: UnresolvedRelation, _, _)
            if !CteScope.shadowed(u.multipartIdentifier, scope) &&
              hasPolicy(u.multipartIdentifier, keys) =>
          val resolved = NamedTables.substitute(spark, tt)
          // an UNREGISTERED policied relation under time travel has no
          // plan this layer can secure: rewriting the inner relation would
          // serve the CURRENT version under a time-travel label, and
          // leaving it could let a downstream resolver serve unmasked
          // rows. Fail closed — policied time travel requires the
          // registered (snapshot) form.
          if (resolved eq tt) throw new AccessDenied(
            s"time travel on ${u.multipartIdentifier.mkString(".")} cannot " +
              "be secured: the relation has row-filter/mask policies but " +
              "is not a registered snapshot table")
          else Some(securePlan(spark, u.multipartIdentifier,
            org.apache.spark.sql.GraftShims.ofRows(spark, resolved), keys))
        case u: UnresolvedRelation
            if !CteScope.shadowed(u.multipartIdentifier, scope) &&
              hasPolicy(u.multipartIdentifier, keys) &&
              !isMetaListing(u.multipartIdentifier) =>
          // metadata listings (t.refs/t.history/t.snapshots/t.files/
          // t.partitions) carry no data columns — they stay gated by the
          // SELECT check (enforcementKey maps them to the owning table)
          // but are NOT filter/mask-wrapped, like the snapshot_history
          // TVF; wrapping would apply a data predicate to a schema
          // without those columns and fail every policied metadata read
          Some(securedRead(spark, u.multipartIdentifier, keys))
        // the snapshot TVFs read table DATA by path — a policied table's
        // rows get the same wrap whether addressed by name, by path, or
        // through snapshot_table/snapshot_changes (history is metadata
        // only, gated by the SELECT check, not masked)
        case tvf if tvfKey(tvf).exists { case (fn, key) =>
            fn != "snapshot_history" && hasPolicyKey(key, keys) } =>
          val (_, key) = tvfKey(tvf).get
          Some(securePlanKey(spark, key, key,
            org.apache.spark.sql.GraftShims.ofRows(spark, tvf), keys))
        case _ => None
      }
    }
  }

  /** Policies on the READ side of engine-managed DML: the source subtrees
    * of INSERT ... SELECT and MERGE ... USING rewrite exactly like a
    * SELECT would — without this, a user with INSERT on their own table
    * could copy a masked table's raw values into it ([[SqlDml]] compiles
    * sources itself, after [[graft.Engine.sql]] dispatches to it, so the
    * wrap must happen before dispatch). The DML TARGET is deliberately not
    * wrapped: the post-image computation must see stored rows, and the
    * verb's own privilege gates it.
    */
  def applyPoliciesToDmlSources(spark: SparkSession,
      plan: LogicalPlan): LogicalPlan =
    if (!enabled(spark) || isAdmin(spark)) plan
    else plan match {
      case i: InsertIntoStatement =>
        i.copy(query = applyPolicies(spark, i.query))
      case m: MergeIntoTable =>
        m.copy(sourceTable = applyPolicies(spark, m.sourceTable))
      case other => other
    }

  /** Metadata-only multipart reads: no row data, so policies don't wrap
    * (branch_/tag_ reads DO carry table data and keep the full wrap).
    */
  private def isMetaListing(parts: Seq[String]): Boolean = parts match {
    case Seq(_, sub) =>
      Set("refs", "history", "snapshots", "files", "partitions")
        .contains(norm(sub)) && NamedTables.refReadOf(parts).isDefined
    case _ => false
  }

  private def hasPolicy(parts: Seq[String], keys: Seq[String]): Boolean =
    hasPolicyKey(enforcementKey(parts), keys)

  private def hasPolicyKey(t: String, keys: Seq[String]): Boolean = {
    val keySet = keys.toSet
    state.rowFilters.getOrElse(t, Map.empty).keys.exists(keySet) ||
      state.columnMasks.getOrElse(t, Map.empty).values
        .exists(_.keys.exists(keySet))
  }

  private def securedRead(spark: SparkSession, parts: Seq[String],
      keys: Seq[String]): LogicalPlan = {
    val base: DataFrame = NamedTables.readDfIfRegistered(spark, parts)
      .getOrElse(parts match {
        // path-addressed non-snapshot formats (parquet.`/p` etc.)
        case Seq(fmt, path) if PathFormats(norm(fmt)) =>
          spark.read.format(norm(fmt)).load(path)
        case _ => spark.table(parts.mkString("."))
      })
    securePlan(spark, parts, base, keys)
  }

  private def securePlan(spark: SparkSession, parts: Seq[String],
      base: DataFrame, keys: Seq[String]): LogicalPlan =
    securePlanKey(spark, enforcementKey(parts), parts.last, base, keys)

  private def securePlanKey(spark: SparkSession, t: String, alias: String,
      base: DataFrame, keys: Seq[String]): LogicalPlan = {
    val keySet = keys.toSet
    // every applicable filter ANDs (user + each role + all): the effective
    // row set is the intersection — the conservative composition Ranger uses
    // when several policies match one table
    val filtered = state.rowFilters.getOrElse(t, Map.empty)
      .collect { case (p, pred) if keySet(p) => pred }
      .foldLeft(base)((df, pred) => df.where(expr(pred)))
    // one mask per column: the most specific matching principal wins
    // (user > role > all — `keys` is ordered most-specific-first)
    val masks = state.columnMasks.getOrElse(t, Map.empty).flatMap { case (c, byP) =>
      keys.collectFirst { case k if byP.contains(k) => c -> byP(k) }
    }
    val projected =
      if (masks.isEmpty) filtered
      else {
        val schema = base.schema
        filtered.select(schema.map { f =>
          masks.get(norm(f.name)) match {
            case Some(m) => expr(m).cast(f.dataType).as(f.name)
            case None => col(f.name)
          }
        }: _*)
      }
    SubqueryAlias(alias, projected.queryExecution.logical)
  }

  // ------------------------------------------------------------ SQL verbs

  /** SET ROLE intercepts BEFORE Spark's parser ([[graft.Engine.sql]] calls
    * this first): Spark parses `SET ROLE x` as a conf assignment of the
    * meaningless key "role x", so the reference's verb (HiveParser.g
    * setRole) supersedes it here. `ALL` restores all granted roles, `NONE`
    * deactivates all, a name narrows to that one granted role.
    */
  def maybeSetRole(spark: SparkSession, sqlText: String): Option[DataFrame] = {
    if (!Cursor.leads(sqlText, "SET")) return None
    import spark.implicits._
    val c = Cursor(sqlText)
    for { _ <- c.expect("SET", "ROLE"); r <- c.name(); _ <- c.done() } yield {
      val user = currentUser(spark)
      val what = norm(r) match {
        case "all" => setRoleAll(user); "all"
        case "none" => setRoleNone(user); "none"
        case _ => setRole(user, r); r
      }
      Seq(s"set role $what").toDF("result")
    }
  }

  /** `USER u | ROLE r | ALL | PUBLIC` */
  private def principal(c: Cursor): Option[Principal] =
    if (c.kw("USER")) c.name().map(User)
    else if (c.kw("ROLE")) c.name().map(Role)
    else if (c.kw("ALL") || c.kw("PUBLIC")) Some(AllUsers)
    else None

  /** Administration of the authz database is itself authorized (ref
    * ql/.../sqlstd/SQLStdHiveAccessControllerWrapper — only the admin role
    * may GRANT/REVOKE/administer policies): with enforcement ON, these
    * verbs require the session user to be in `spark.graft.authz.admins`.
    * With enforcement OFF the verbs are permissive — that is the setup
    * phase, where the admin builds the database before flipping it on
    * (deny-by-default would otherwise make bootstrap impossible). Without
    * this gate deny-by-default is self-defeating: any denied user could
    * run `GRANT SELECT ... TO USER me` through the same front door.
    */
  /** Shared by the other admin-verb surfaces too ([[Workload]] resource
    * plans, [[ScheduledQueries]]) — sabotaging enforcement infrastructure
    * (DROP RESOURCE PLAN, DROP SCHEDULED QUERY) is administration exactly
    * like GRANT is, and the reference gates all of them behind the admin
    * role.
    */
  private[plans] def requireAdmin(spark: SparkSession, verb: String): Unit =
    if (enabled(spark) && !isAdmin(spark))
      throw new AccessDenied(s"user ${currentUser(spark)} is not an authz " +
        s"admin: $verb requires membership in spark.graft.authz.admins")

  /** Confs that define the security context itself — the analog of the
    * reference's `hive.conf.restricted.list` (ref common/.../HiveConf.java
    * hive.security.* entries are restricted by default): letting a session
    * SET its own user or admin list through the SQL front door would undo
    * every check. Enforced in [[graft.Engine.sql]] pre-parse; in-process
    * `spark.conf.set` remains library access, like every other Authz
    * bypass line.
    */
  val RestrictedConfs: Set[String] =
    Set("spark.graft.user", "spark.graft.authz.enabled",
      "spark.graft.authz.admins",
      // the catalog dir decides WHICH durable authz/WLM/schedule database
      // bootstraps — pointing it at an attacker-prepared directory would
      // merge a poisoned grant set under the session
      NamedTables.CatalogConfKey)

  /** Deny `SET <restricted conf> = ...` — and its evil twin `RESET`, which
    * UNSETS a conf and would turn enforcement off just as effectively
    * (`RESET spark.graft.authz.enabled`, or bare `RESET` wiping the whole
    * session conf) — for non-admin sessions while enforcement is on.
    * Everything else falls through untouched. This is the pre-parse net,
    * on the [[Cursor]] lexer (comments and backticks cannot hide the key;
    * anything after `=` or after a restricted RESET key still denies);
    * [[guardSetPlan]] is the authoritative check on the PARSED command.
    */
  def guardSetStatement(spark: SparkSession, sqlText: String): Unit = {
    if (!enabled(spark) || isAdmin(spark)) return
    val reset = Cursor.leads(sqlText, "RESET")
    if (!reset && !Cursor.leads(sqlText, "SET")) return
    val c = Cursor(sqlText)
    c.word()
    if (reset && c.end())
      denyConf(spark,
        "RESET the session configuration (it clears the security context)")
    c.qname().filter(k => RestrictedConfs.contains(norm(k))).foreach { k =>
      if (reset) denyConf(spark, s"RESET restricted configuration $k")
      else if (c.kw("=")) denyConf(spark, s"SET restricted configuration $k")
    }
  }

  private def denyConf(spark: SparkSession, what: String): Nothing =
    throw new AccessDenied(
      s"user ${currentUser(spark)} may not $what (authz security context)")

  /** The parsed-plan twin of [[guardSetStatement]], and the authoritative
    * check: whatever text reaches the parser, a `SET`/`RESET` surfaces
    * here as a SetCommand / ResetCommand node.
    */
  def guardSetPlan(spark: SparkSession, plan: LogicalPlan): Unit = {
    if (!enabled(spark) || isAdmin(spark)) return
    plan match {
      case org.apache.spark.sql.execution.command.SetCommand(kv) =>
        // value-less `SET key` is a read (Spark prints the value) — only a
        // MUTATION of a restricted conf is denied
        kv.foreach { case (k, v) =>
          if (v.isDefined && RestrictedConfs.contains(norm(k)))
            denyConf(spark, s"SET restricted configuration $k")
        }
      case org.apache.spark.sql.execution.command.ResetCommand(cfg) =>
        cfg match {
          case Some(k) if RestrictedConfs.contains(norm(k)) =>
            denyConf(spark, s"RESET restricted configuration $k")
          case None => denyConf(spark,
            "RESET the session configuration (it clears the security context)")
          case _ => ()
        }
      case _ => ()
    }
  }

  /** Execute `sqlText` if it is an authz verb (all are parse errors to
    * Spark, so nothing the session parser understands can be shadowed);
    * None otherwise. Mutating verbs are admin-gated via [[requireAdmin]];
    * the SHOW verbs stay open (grants are not secrets in the reference's
    * model either — SHOW GRANT is how a user learns why they were denied).
    */
  def maybeSql(spark: SparkSession, sqlText: String): Option[DataFrame] = {
    import spark.implicits._
    val c = Cursor(sqlText)
    def run(verb: String, msg: => String)(act: => Unit) =
      c.done().map { _ => requireAdmin(spark, verb); act; Seq(msg).toDF("result") }
    def show(df: => DataFrame) = c.done().map(_ => df)
    def privileges(isGrant: Boolean) = for {
      acts <- c.sepBy(",")(c.word())
      _ <- c.expect("ON")
      _ <- Some(c.kw("TABLE"))
      t <- c.qname()
      _ <- c.expect(if (isGrant) "TO" else "FROM")
      p <- principal(c)
      r <- if (isGrant) run("GRANT", s"granted on $t")(grant(t, p, acts))
           else run("REVOKE", s"revoked on $t")(revoke(t, p, acts))
    } yield r
    def policy(t: String) =
      if (c.kw("SET", "ROW", "FILTER"))
        for {
          pred <- c.str(); _ <- c.expect("FOR"); p <- principal(c)
          r <- run("ALTER TABLE ... SET ROW FILTER", s"row filter set on $t")(
            setRowFilter(t, p, pred))
        } yield r
      else if (c.kw("DROP", "ROW", "FILTER", "FOR"))
        principal(c).flatMap(p =>
          run("ALTER TABLE ... DROP ROW FILTER", s"row filter dropped on $t")(
            dropRowFilter(t, p)))
      else if (c.kw("SET", "COLUMN", "MASK"))
        for {
          col <- c.name(); _ <- c.expect("AS"); m <- c.str()
          _ <- c.expect("FOR"); p <- principal(c)
          r <- run("ALTER TABLE ... SET COLUMN MASK", s"column mask set on $t.$col")(
            setColumnMask(t, col, p, m))
        } yield r
      else if (c.kw("DROP", "COLUMN", "MASK"))
        for {
          col <- c.name(); _ <- c.expect("FOR"); p <- principal(c)
          r <- run("ALTER TABLE ... DROP COLUMN MASK",
            s"column mask dropped on $t.$col")(dropColumnMask(t, col, p))
        } yield r
      else None
    if (c.kw("CREATE", "ROLE"))
      c.name().flatMap(r => run("CREATE ROLE", s"created role $r")(createRole(r)))
    else if (c.kw("DROP", "ROLE"))
      c.name().flatMap(r => run("DROP ROLE", s"dropped role $r")(dropRole(r)))
    else if (c.kw("GRANT", "ROLE"))
      for {
        r <- c.name(); _ <- c.expect("TO", "USER"); u <- c.name()
        out <- run("GRANT ROLE", s"granted role $r to $u")(grantRole(r, u))
      } yield out
    else if (c.kw("REVOKE", "ROLE"))
      for {
        r <- c.name(); _ <- c.expect("FROM", "USER"); u <- c.name()
        out <- run("REVOKE ROLE", s"revoked role $r from $u")(revokeRole(r, u))
      } yield out
    else if (c.kw("GRANT")) privileges(isGrant = true)
    else if (c.kw("REVOKE")) privileges(isGrant = false)
    else if (c.kw("SHOW", "GRANT", "ON")) {
      c.kw("TABLE")
      c.qname().flatMap(t =>
        show(grantsOn(t).toDF("principal", "privilege")))
    }
    else if (c.kw("SHOW", "ROLES")) show(roles.toDF("role"))
    else if (c.kw("SHOW", "CURRENT", "ROLES"))
      show(currentRoles(currentUser(spark)).toDF("role"))
    else if (c.kw("ALTER", "TABLE")) c.qname().flatMap(policy)
    else None
  }

  // ------------------------------------------------------- durable store

  // serializable document shape (json4s-friendly flat lists)
  private case class GrantE(table: String, principal: String, action: String)
  private case class RoleE(role: String, members: List[String])
  private case class FilterE(table: String, principal: String, predicate: String)
  private case class MaskE(table: String, column: String, principal: String,
      expr: String)
  private case class Doc(roles: List[RoleE], grants: List[GrantE],
      filters: List[FilterE], masks: List[MaskE])

  private def toDoc(s: State): Doc = Doc(
    s.roles.toList.sortBy(_._1).map { case (r, m) => RoleE(r, m.toList.sorted) },
    s.grants.toList.sortBy(_._1).flatMap { case (t, g) =>
      g.toList.sorted.map { case (p, a) => GrantE(t, p, a) } },
    s.rowFilters.toList.sortBy(_._1).flatMap { case (t, m) =>
      m.toList.sorted.map { case (p, pred) => FilterE(t, p, pred) } },
    s.columnMasks.toList.sortBy(_._1).flatMap { case (t, perCol) =>
      perCol.toList.sortBy(_._1).flatMap { case (c, m) =>
        m.toList.sorted.map { case (p, e) => MaskE(t, c, p, e) } } })

  private def ofDoc(d: Doc): State = State(
    d.roles.map(r => r.role -> r.members.toSet).toMap,
    d.grants.groupBy(_.table).map { case (t, gs) =>
      t -> gs.map(g => (g.principal, g.action)).toSet },
    d.filters.groupBy(_.table).map { case (t, fs) =>
      t -> fs.map(f => f.principal -> f.predicate).toMap },
    d.masks.groupBy(_.table).map { case (t, ms) =>
      t -> ms.groupBy(_.column).map { case (c, cm) =>
        c -> cm.map(m => m.principal -> m.expr).toMap } })

  private implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats

  /** The durable database: a [[CasJsonStore]] under `<catalog>/_authz/`,
    * so concurrent admin JVMs serialize instead of overwriting each
    * other's grants.
    */
  private[graft] val durable = new CasJsonStore.Attached[State](
    this, "_authz", State(),
    s => org.json4s.jackson.Serialization.write(toDoc(s)),
    txt => ofDoc(org.json4s.jackson.Serialization.read[Doc](txt)))

  /** Install the persisted authz database when `spark.graft.catalog` is
    * set (the same conf that makes [[NamedTables]] durable): durable state
    * loads under the in-memory state (memory wins per table/role — it is
    * newer), and every mutation from here on writes through. Idempotent
    * per path; called from [[graft.Engine.install]] alongside the catalog
    * bootstrap.
    */
  def bootstrap(spark: SparkSession): Unit = durable.attach(spark) { s =>
    val d = s.load()._2
    state = State(
      d.roles ++ state.roles,
      d.grants ++ state.grants,
      d.rowFilters ++ state.rowFilters,
      d.columnMasks ++ state.columnMasks)
  }
}
