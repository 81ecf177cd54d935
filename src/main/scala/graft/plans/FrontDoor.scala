package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** The SQL front door, declared once: the ordered, named stages every
  * statement passes (the role of Hive's parse → SemanticAnalyzerFactory →
  * planner sequence, ref ql/.../Compiler.java). Both entries read this
  * registry:
  *
  *   - [[graft.Engine.sql]] folds over every list in order;
  *   - [[graft.GraftExtensions]] (`spark.sql.extensions`) derives its
  *     injections from each stage's [[Ext]] placement.
  *
  * Order: [[preParse]] → [[textRewrites]] → parse → [[onParseFailure]] |
  * [[preAnalysis]] → [[negotiation]] + [[semantics]] (ONE analyzer pass,
  * [[HiveSemantics]]) → [[execution]] → [[resultsCache]]; the
  * [[optimizerRules]] sit on the session itself. Stage names are the
  * record of which rewrites a statement passed.
  */
object FrontDoor {

  /** Re-enter the front door with a rewritten statement. */
  type Reenter = (SparkSession, String) => DataFrame
  type TextStage = Stage[(SparkSession, String, Reenter) => Option[DataFrame]]
  /** Plan stages answer Left when they executed the statement themselves. */
  type PlanStage =
    Stage[(SparkSession, String, LogicalPlan) => Either[DataFrame, LogicalPlan]]

  /** Where the extensions entry runs a stage. */
  sealed trait Ext
  /** In the injected parser, right after the parse — the same point the
    * front door runs it; `viewBodies` also rewrites stored view texts.
    */
  final case class AtParse(viewBodies: Boolean = false) extends Ext
  /** As an analyzer resolution rule, through [[StageRule]]. */
  case object AsResolution extends Ext
  /** As a post-hoc resolution rule (once, after the analyzer's fixpoint —
    * where the front door runs post-analysis stages), through [[StageRule]].
    */
  case object AsPostHoc extends Ext
  /** Through a session-holding rule of its own. */
  final case class Own(inject: SparkSessionExtensions => Unit) extends Ext
  /** Front door only, with the reason. */
  final case class FrontDoorOnly(reason: String) extends Ext

  final case class Stage[F](name: String, ext: Ext, run: F)

  private val RawText = FrontDoorOnly("works on the raw statement text")
  private val Executes = FrontDoorOnly("executes the statement itself")

  private def text(name: String)(
      f: (SparkSession, String, Reenter) => Option[DataFrame]): TextStage =
    Stage(name, RawText, f)
  private def plan(name: String, ext: Ext)(
      f: (SparkSession, LogicalPlan) => LogicalPlan): PlanStage =
    Stage(name, ext, (s, _, p) => Right(f(s, p)))
  private def guard(name: String)(
      f: (SparkSession, LogicalPlan) => Unit): PlanStage =
    plan(name, AtParse())((s, p) => { f(s, p); p })
  private def dispatch(name: String)(
      f: (SparkSession, LogicalPlan) => Option[DataFrame]): PlanStage =
    Stage(name, Executes, (s, _, p) => f(s, p).toLeft(p))
  private def pure(name: String, ext: Ext)(
      f: LogicalPlan => LogicalPlan): PlanStage = plan(name, ext)((_, p) => f(p))

  private def parses(spark: SparkSession, q: String): Boolean =
    try { spark.sessionState.sqlParser.parsePlan(q); true }
    catch { case NonFatal(_) => false }

  /** The one re-entry helper: a Hive spelling Spark's parser rejects is
    * rewritten and re-run through the front door — only when the
    * original failed to parse AND the rewrite parses, so the user
    * otherwise sees the canonical error against THEIR text.
    */
  private def reentry(name: String)(rewrite: String => Option[String]) =
    text(name)((s, q, reenter) =>
      rewrite(q).filter(parses(s, _)).map(reenter(s, _)))

  /** 1. Before the parse, on every statement: guards, and verbs that must
    * intercept the raw text. The security context is not settable by
    * non-admins; `SET hive.<key>` spellings flip their Spark twin; SET ROLE
    * (a Spark parse error) intercepts whenever any authz state exists, so
    * bootstrap scripts can narrow roles before enforcement is on;
    * filter-form and partial-spec DROP PARTITION and the PARTITION COLUMN
    * retype (PartitionDdl gates authz itself). Each verb probe tests the
    * first keyword ([[Cursor.leads]]) before it lexes.
    */
  val preParse: Seq[TextStage] = Seq(
    text("Authz.guardSetStatement")((s, q, _) => {
      Authz.guardSetStatement(s, q); None }),
    text("HiveConfs")((s, q, _) => { HiveConfs.maybeMap(s, q); None }),
    text("Authz.setRole")((s, q, _) =>
      if (Authz.enabled(s) || Authz.hasState) Authz.maybeSetRole(s, q)
      else None),
    text("PartitionDdl")((s, q, _) => PartitionDdl.maybeSql(s, q)))

  /** 2. Text rewrites, in order: spellings the parse loses. Hive's NULL
    * ordering, VARCHAR truncation, `GROUP BY ()`, STORED AS, TEMPORARY
    * tables.
    */
  val textRewrites: Seq[Stage[(SparkSession, String) => String]] = Seq(
    Stage("DefaultNullOrder", RawText, DefaultNullOrder(_, _)),
    Stage("VarcharCasts", RawText, VarcharCasts(_, _)),
    Stage("EmptyGroupBy", RawText, EmptyGroupBy(_, _)),
    Stage("StoredAs", RawText, StoredAs(_, _)),
    Stage("TempTables", RawText, TempTables(_, _)))

  private val CommaLimit = """(?is)^(.*\blimit)\s+(\d+)\s*,\s*(\d+)\s*;?\s*$""".r
  private val LocalTz =
    """(?i)\btimestamp\s+with\s+local\s+time\s+zone\b|\btimestamplocaltz\b""".r
  private val HplsqlHead =
    "(?is)^\\s*(DECLARE|PRINT|WHILE|LOOP|BEGIN|EXIT|CALL|RETURN|" +
      "FOR\\s+\\w+\\s+IN|IF\\b|EXECUTE\\s+IMMEDIATE|" +
      "CREATE\\s+(OR\\s+REPLACE\\s+)?(PROCEDURE|FUNCTION|PROC)\\b).*"

  /** 3. Parse failure, first answer wins; none → Spark's canonical parse
    * error. These verbs are all parse errors to Spark, so nothing the
    * parser understands is shadowed.
    *
    *   - maintenance, authz, workload, macro and scheduled-query verbs and
    *     the CHANGE COLUMN rename, all on the one [[Cursor]] grammar and
    *     its fall-through invariant;
    *   - HPL/SQL scripts: input LEADING with a procedural keyword runs
    *     as a script ([[graft.hplsql.Hplsql]]) whose raw statements
    *     re-enter; the answer is its last row-producing statement, else
    *     its PRINT output;
    *   - re-entering rewrites: CAST ... FORMAT, quantified ANY/SOME/ALL
    *     subqueries, UNIQUEJOIN, TABLESAMPLE (BUCKET ...), Hive's
    *     statement-TAIL `LIMIT offset, count` (a trailing line comment
    *     is dropped first, so comment text never rewrites), and `TIMESTAMP
    *     WITH LOCAL TIME ZONE` / `TIMESTAMPLOCALTZ` → Spark's same
    *     `TIMESTAMP_LTZ`.
    */
  val onParseFailure: Seq[TextStage] = Seq(
    text("SqlMaintenance")((s, q, _) => SqlMaintenance.maybeRun(s, q)),
    text("Authz.verbs")((s, q, _) => Authz.maybeSql(s, q)),
    text("Workload")((s, q, _) => Workload.maybeSql(s, q)),
    text("Macros")((s, q, _) => Macros.maybeSql(s, q)),
    text("ScheduledQueries")(ScheduledQueries.maybeSql(_, _, _)),
    text("Hplsql")((s, q, reenter) =>
      if (!q.matches(HplsqlHead)) None
      else {
        val result = graft.hplsql.Hplsql.run(s, q)(reenter(s, _))
        result.lastResult.orElse {
          import s.implicits._
          Some(result.printed.toDF("printed"))
        }
      }),
    reentry("CastFormat")(CastFormat.rewrite),
    reentry("QuantifiedSubqueries")(QuantifiedSubqueries.rewrite),
    reentry("UniqueJoin")(UniqueJoin.rewrite),
    text("SchemaEvolution.verbs")((s, q, _) => SchemaEvolution.maybeSql(s, q)),
    reentry("BucketSample")(BucketSample.rewrite),
    reentry("CommaLimit")(q =>
      q.replaceAll("""(?s)\s*--[^\n]*\s*$""", "") match {
        case CommaLimit(head, off, cnt) => Some(s"$head $cnt OFFSET $off")
        case _ => None
      }),
    reentry("TypeSpellings")(q =>
      LocalTz.findFirstIn(q).map(_ => LocalTz.replaceAllIn(q, "timestamp_ltz"))))

  /** 4. Pre-analysis, on the parsed plan. CTE forward references reorder
    * FIRST so authz's positional CTE scope, the DML compiler and Spark's
    * substitution all see dependency order; then type limits and the
    * privilege check (deny-by-default under enforcement); v1 schema
    * evolution and engine-managed DML execute here (DML sources get the
    * read policies first); then row filters / column masks on the read
    * path and the Hive plan rewrites.
    */
  val preAnalysis: Seq[PlanStage] = Seq(
    pure("CteForwardRefs", AtParse())(CteForwardRefs(_)),
    guard("TypeLimits")((_, p) => TypeLimits.check(p)),
    guard("Authz.guardSetPlan")(Authz.guardSetPlan),
    guard("Authz.checkStatement")(Authz.checkStatement),
    dispatch("SchemaEvolution")(SchemaEvolution.maybePlan),
    dispatch("SqlDml")((s, p) =>
      SqlDml.maybeRun(s, Authz.applyPoliciesToDmlSources(s, p))),
    plan("Authz.applyPolicies", AtParse())(Authz.applyPolicies),
    plan("NamedTables", Own(_.injectResolutionRule(
      new NamedTables.ResolveNamedTables(_))))(NamedTables.substitute),
    plan("CtePartialAliases", AtParse())(CtePartialAliases(_, _)),
    plan("ViewColumnNames", AtParse())(ViewColumnNames(_, _)),
    plan("LenientInsertCasts", AtParse())(LenientInsertCasts(_, _)),
    pure("GroupingSetsDedup", AsResolution)(GroupingSetsDedup(_)),
    pure("EmptyGroupingSets", AsResolution)(EmptyGroupingSets(_)),
    pure("ProjectedInSubqueries", AtParse())(ProjectedInSubqueries(_)),
    pure("HiveRegex", AsResolution)(HiveRegex(_)),
    plan("DistinctWindows", AtParse())(DistinctWindows(_, _)),
    // the analyzer's ResolveWindowOrder throws on an orderless ranking
    // window before any resolution rule could iterate: parse time only
    pure("OrderlessWindows", AtParse(viewBodies = true))(OrderlessWindows(_)),
    // the front door gates on the statement text; the extension's own
    // rule runs where the analyzer has lifted CTE definitions
    Stage("VirtualColumns", Own(_.injectResolutionRule(
        new VirtualColumns.ResolveVirtualColumns(_))),
      (_, q, p) => Right(VirtualColumns.maybeSubstitute(p, q))),
    // char columns reaching functions see the STRIPPED value (Hive's
    // HiveChar contract); needs analysis to see char metadata
    plan("CharStrippedFunctions", AtParse())(CharStrippedFunctions(_, _)))

  /** 5a. Post-analysis, first: Hive common-category negotiation can turn
    * an analysis-REJECTED shape into a legal one, so [[HiveSemantics]]
    * re-analyzes when it changes anything.
    */
  val negotiation: PlanStage =
    pure("CommonCategories", AsResolution)(CommonCategories.rewriteResolved)

  /** 5b. Post-analysis expression semantics, in order, on the resolved
    * plan of the same analyzer pass.
    */
  val semantics: Seq[PlanStage] = Seq(
    pure("DecimalIntegralCasts", AsResolution)(DecimalIntegralCasts.rewriteResolved),
    pure("TimestampComparisons", AsResolution)(TimestampComparisons.rewriteResolved),
    pure("IntegralTimestampCasts", AsResolution)(IntegralTimestampCasts.rewriteResolved),
    pure("HiveCastRendering", AsResolution)(HiveCastRendering.rewriteResolved),
    pure("BooleanComparisons", AsResolution)(BooleanComparisons.rewriteResolved),
    pure("RollupEmptyInput", AsPostHoc)(RollupEmptyInput.rewriteResolved),
    pure("HiveBooleanFilters", AsResolution)(HiveBooleanFilters.rewriteResolved))

  /** 6. LAST plan stage: CTE materialization EXECUTES definitions, which
    * must only happen after authz adjudicated and policies substituted.
    */
  val execution: Seq[PlanStage] =
    Seq(Stage("CteMaterialize", Executes, (s, _, p) => Right(CteMaterialize(s, p))))

  /** 7. Query-results caching (Hive's QueryResultsCache analog, opt-in
    * per session via `spark.graft.resultsCache.dir`): only row-producing
    * statements are cacheable.
    */
  val resultsCache: Stage[(SparkSession, DataFrame) => DataFrame] =
    Stage("ResultsCache", FrontDoorOnly("executes and stores the result"),
      (spark, df) => spark.conf.getOption("spark.graft.resultsCache.dir") match {
        case Some(dir) if !df.queryExecution.analyzed
            .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Command] =>
          ResultsCache.cachedOrRun(spark, df, dir)._1
        case _ => df
      })

  /** 8. Optimizer rules, installed on the session by both entries
    * (Engine.configure, and the extension's session bootstrap) into the
    * optimizer's final batch, after Spark's own rules — where the MV
    * registry's optimized plans compare: the MV rewrite and the opt-in
    * count(DISTINCT) → sketch rewrite. Both installs are idempotent.
    */
  val optimizerRules: Seq[(String, SparkSession => Unit)] = Seq(
    "MaterializedViews" -> MaterializedViews.install,
    "CountDistinctToSketch" -> SketchRewrite.install)

  /** Every plan stage, in front-door order. */
  def planStages: Seq[PlanStage] =
    preAnalysis ++ (negotiation +: semantics) ++ execution

  /** Fold plan stages; a stage that executed the statement ends the fold. */
  def fold(stages: Seq[PlanStage], spark: SparkSession, text: String,
      plan: LogicalPlan): Either[DataFrame, LogicalPlan] =
    stages.foldLeft[Either[DataFrame, LogicalPlan]](Right(plan)) {
      case (Right(p), st) => st.run(spark, text, p)
      case (done, _) => done
    }

  /** Set on the calling thread while a statement is inside
    * [[graft.Engine.sql]], which runs every stage itself: the extension's
    * parser then parses verbatim.
    */
  private val entered = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  def inFrontDoor[T](body: => T): T = {
    val outer = entered.get
    entered.set(true)
    try body finally entered.set(outer)
  }

  /** The extensions entry's rule form of a stage. */
  final class StageRule(stage: PlanStage, session: SparkSession)
      extends Rule[LogicalPlan] {
    override val ruleName: String = stage.name
    override def apply(plan: LogicalPlan): LogicalPlan =
      stage.run(session, "", plan).getOrElse(plan)
  }

  private lazy val statementStages =
    planStages.filter(_.ext.isInstanceOf[AtParse])
  private lazy val viewBodyStages =
    planStages.filter(_.ext == AtParse(viewBodies = true))

  /** The extensions entry's parser: runs the [[AtParse]] stages on every
    * parsed statement (and the view-body ones on stored view texts).
    */
  final class Parser(session: SparkSession, delegate: ParserInterface)
      extends ParserInterface {
    override def parsePlan(sqlText: String): LogicalPlan = {
      val parsed = delegate.parsePlan(sqlText)
      if (entered.get) parsed
      else fold(statementStages, session, sqlText, parsed).getOrElse(parsed)
    }
    override def parseQuery(sqlText: String): LogicalPlan = {
      val parsed = delegate.parseQuery(sqlText)
      fold(viewBodyStages, session, sqlText, parsed).getOrElse(parsed)
    }
    override def parseExpression(sqlText: String) =
      delegate.parseExpression(sqlText)
    override def parseTableIdentifier(sqlText: String) =
      delegate.parseTableIdentifier(sqlText)
    override def parseFunctionIdentifier(sqlText: String) =
      delegate.parseFunctionIdentifier(sqlText)
    override def parseMultipartIdentifier(sqlText: String) =
      delegate.parseMultipartIdentifier(sqlText)
    override def parseTableSchema(sqlText: String) =
      delegate.parseTableSchema(sqlText)
    override def parseDataType(sqlText: String) =
      delegate.parseDataType(sqlText)
    override def parseRoutineParam(sqlText: String) =
      delegate.parseRoutineParam(sqlText)
  }
}
