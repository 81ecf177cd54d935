package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, Coalesce, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Materialized views with automatic query rewrite — the one optimizer
  * capability SURVEY §4.1 flags as having no Spark equivalent (Hive:
  * HiveMaterializedViewsRegistry.java:83 + the calcite/rules/views package).
  *
  * Rewrites supported:
  *   1. **Exact subtree**: any query subtree that `sameResult`s a registered
  *      MV plan is replaced by a scan of the materialized parquet. Because the
  *      rule runs `transformUp`, filters/sorts/projections *above* the matched
  *      subtree survive untouched — filter-over-MV and project-over-MV come
  *      for free.
  *   2. **Aggregate rollup (containment)**: a query `Aggregate` whose child
  *      matches the MV's aggregate child and whose grouping keys are a subset
  *      of the MV's is answered from the MV by re-aggregating: `sum→sum of
  *      sums`, `count→sum of counts` (coalesced to 0 over an empty MV),
  *      `min/max→min/max of min/maxes` (the Calcite
  *      `AggregateProjectPullUpConstantsRule`-family capability, ref
  *      calcite/rules/views/HiveMaterializedViewRule.java). Aggregates with a
  *      FILTER clause or DISTINCT never match. A residual filter under the
  *      query aggregate is allowed when it touches only MV grouping keys.
  *
  * Freshness: each MV records the (fully-qualified) source paths its plan
  * scans. DML writers ([[Dml]] copy-on-write swaps and appends) invalidate
  * every registered MV over the written path — across all live sessions in
  * the process — so the registry never serves data staler than the last DML
  * through this engine. Out-of-band writes to the files (a foreign job
  * rewriting the parquet directly) are outside the staleness contract — same
  * as Hive's, which gates rewrite on metastore transaction ids it can see.
  *
  * Ownership: each session's [[MvRewriteRule]] owns its registry, and the
  * session itself holds the rule (in `experimental.extraOptimizations`,
  * installed by both SQL entries — see [[FrontDoor.optimizerRules]]). MV
  * plans reference their session, so the whole MV graph is
  * garbage-collected with the session; the only
  * process-wide structure is a weak set of live rules used for cross-session
  * invalidation (keys weak, values primitive — no value→key strong chain).
  */
object MaterializedViews {

  /** `sql` is kept when the MV was declared via SQL text — REBUILD re-parses
    * it so the refresh sees the sources' CURRENT file listing (a stored plan
    * pins the listing captured at creation).
    */
  final case class Mv(name: String, plan: LogicalPlan, path: String,
      sources: Set[String], sql: Option[String] = None)

  private val liveRules =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[MvRewriteRule, java.lang.Boolean]())

  private def rules: Seq[MvRewriteRule] = liveRules.synchronized {
    import scala.jdk.CollectionConverters._
    liveRules.keySet.asScala.toSeq
  }

  /** Fully-qualified URI form (scheme + authority + absolute path) so
    * user-supplied table dirs compare equal to scan rootPaths, and paths on
    * different filesystems never collide.
    */
  private def qualify(spark: SparkSession, p: String): String = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(path).toString
  }

  /** Scan roots are already qualified by the file index. */
  private def sourcePaths(plan: LogicalPlan): Set[String] =
    plan.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Seq.empty[String]
      }
    }.flatten.toSet

  private def ruleFor(spark: SparkSession): MvRewriteRule = {
    val existing = spark.experimental.extraOptimizations
      .collectFirst { case r: MvRewriteRule => r }
    existing.getOrElse {
      val r = new MvRewriteRule(spark)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ r
      r
    }
  }

  /** Install the rewrite rule on a session (idempotent). */
  def install(spark: SparkSession): Unit = { ruleFor(spark); () }

  /** CREATE MATERIALIZED VIEW name AS <df>, stored at `path`. */
  def create(spark: SparkSession, name: String, df: DataFrame, path: String,
      sql: Option[String] = None): Unit = {
    df.write.mode("overwrite").parquet(path)
    val plan = df.queryExecution.optimizedPlan
    ruleFor(spark).registry.put(name,
      Mv(name, plan, qualify(spark, path), sourcePaths(plan), sql))
  }

  def drop(spark: SparkSession, name: String): Unit =
    ruleFor(spark).registry.remove(name)

  def registered(spark: SparkSession): Seq[Mv] = {
    import scala.jdk.CollectionConverters._
    ruleFor(spark).registry.values.asScala.toSeq
  }

  /** Invalidate every MV (in every live session) whose sources include
    * `table` — called by [[Dml]] after any write to that path.
    */
  def invalidateSource(spark: SparkSession, table: String): Unit = {
    val q = qualify(spark, table)
    rules.foreach(_.registry.values.removeIf(mv =>
      mv.sources.contains(q) || mv.path == q))
  }

  /** Rewrite rule: exact-subtree substitution + aggregate-rollup containment. */
  class MvRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {
    private[plans] val registry =
      new java.util.concurrent.ConcurrentHashMap[String, Mv]()
    liveRules.put(this, java.lang.Boolean.TRUE)

    private def mvs: Seq[Mv] = {
      import scala.jdk.CollectionConverters._
      registry.values.asScala.toSeq
    }

    private def mvScan(mv: Mv): LogicalPlan =
      spark.read.parquet(mv.path).queryExecution.analyzed

    /** Re-alias scan output onto the replaced subtree's attribute ids so the
      * surrounding plan resolves unchanged.
      */
    private def remap(orig: Seq[Attribute], scan: LogicalPlan): LogicalPlan =
      Project(orig.zip(scan.output).map { case (o, a) =>
        Alias(if (a.dataType == o.dataType) a else Cast(a, o.dataType), o.name)(exprId = o.exprId)
      }, scan)

    private def exact(p: LogicalPlan): Option[LogicalPlan] =
      mvs.find(_.plan.sameResult(p)).map(mv => remap(p.output, mvScan(mv)))

    /** Peel column-pruning Projects and Filters off an aggregate child,
      * returning the base plan plus the combined filter condition. The
      * optimizer prunes each plan to its own column needs, so MV and query
      * children only compare equal at this base level.
      */
    private def peel(p: LogicalPlan): (LogicalPlan, Option[Expression]) = p match {
      case Project(ps, ch) if ps.forall(_.isInstanceOf[Attribute]) => peel(ch)
      case Filter(c, ch) =>
        val (base, inner) = peel(ch)
        (base, Some(inner.map(org.apache.spark.sql.catalyst.expressions.And(_, c)).getOrElse(c)))
      case other => (other, None)
    }

    /** Aggregate-rollup: answer `Aggregate(gq, aq, [proj/filter] base)` from an
      * MV `Aggregate(gm, am, [proj/filter] base')` with `base sameResult base'`.
      */
    private def rollup(p: LogicalPlan): Option[LogicalPlan] = p match {
      case q @ Aggregate(gq, aq, qbelow, _) =>
        val (baseQ, qcond) = peel(qbelow)
        mvs.iterator.flatMap { mv =>
          mv.plan match {
            case Aggregate(gm, am, mbelow, _) =>
              val (baseM, mcond) = peel(mbelow)
              if (!baseM.sameResult(baseQ) ||
                  baseM.output.length != baseQ.output.length ||
                  baseM.output.zip(baseQ.output).exists { case (m, s) => m.dataType != s.dataType })
                None
              else tryRollup(q, gq, aq, qcond, mcond, gm, am, baseM, baseQ, mv)
            case _ => None
          }
        }.take(1).toList.headOption
      case _ => None
    }

    private def tryRollup(
        q: Aggregate,
        gq: Seq[Expression], aq: Seq[NamedExpression],
        qcond: Option[Expression], mcond: Option[Expression],
        gm: Seq[Expression], am: Seq[NamedExpression],
        mchild: LogicalPlan, qchild: LogicalPlan, mv: Mv): Option[LogicalPlan] = {
      // Attribute correspondence: bases are sameResult, so outputs align
      // positionally — map query-side child attrs into MV-child space.
      val qToM: Map[Long, Attribute] =
        qchild.output.zip(mchild.output).map { case (s, m) => s.exprId.id -> m }.toMap
      def inMvSpace(e: Expression): Option[Expression] = {
        var ok = true
        val mapped = e.transform {
          case a: Attribute => qToM.get(a.exprId.id) match {
            case Some(m) => m
            case None => ok = false; a
          }
        }
        if (ok) Some(mapped) else None
      }
      // Index of an MV *grouping* output whose expression canonical-matches.
      def mvGroupIdx(mapped: Expression): Option[Int] =
        am.zipWithIndex.collectFirst {
          case (Alias(e, _), i)
              if gm.exists(_.canonicalized == e.canonicalized) &&
                e.canonicalized == mapped.canonicalized => i
          case (a: Attribute, i)
              if gm.exists(_.canonicalized == a.canonicalized) &&
                a.canonicalized == mapped.canonicalized => i
        }
      // Index of an MV aggregate output matching an aggregate function
      // (plain aggregates only: no DISTINCT, no FILTER clause).
      def mvAggIdx(f: AggregateFunction => Boolean): Option[Int] =
        am.zipWithIndex.collectFirst {
          case (Alias(AggregateExpression(af, _, false, None, _), _), i) if f(af) => i
        }

      val scan = mvScan(mv)
      if (scan.output.length != am.length) return None
      def scanAttr(i: Int): Attribute = scan.output(i)

      // 1. every query grouping key must be an MV grouping key
      val gIdx: Seq[Option[Int]] = gq.map(g => inMvSpace(g).flatMap(mvGroupIdx))
      if (gIdx.exists(_.isEmpty)) return None
      val newG: Seq[Expression] = gIdx.map(i => scanAttr(i.get))

      // 2. filters must line up: an MV-side filter must be matched exactly by
      // the query's (after attr mapping); any remaining query-side filter may
      // touch only MV grouping keys and is re-evaluated over the MV scan.
      val newCond: Option[Expression] = (qcond, mcond) match {
        case (None, None) => None
        case (None, Some(_)) => return None // MV is a strict subset of the data
        case (Some(c), Some(mc)) =>
          val mapped = inMvSpace(c).getOrElse(return None)
          if (mapped.canonicalized == mc.canonicalized) None else return None
        case (Some(c), None) =>
          var ok = true
          val mapped = inMvSpace(c).getOrElse { return None }
          val rewritten = mapped.transform {
            case a: Attribute =>
              mvGroupIdx(a) match {
                case Some(i) => scanAttr(i)
                case None => ok = false; a
              }
          }
          if (!ok) return None
          Some(rewritten)
      }

      // 3. every query aggregate output must be derivable from MV outputs
      def agg(af: AggregateFunction): Expression =
        AggregateExpression(af, Complete, isDistinct = false)
      val newAggs: Seq[Option[NamedExpression]] = aq.map { ne =>
        val (inner, name, exprId) = ne match {
          case Alias(e, n) => (e, n, ne.exprId)
          case a: Attribute => (a, a.name, a.exprId)
        }
        val derived: Option[Expression] = inner match {
          // plain aggregates only — DISTINCT or FILTER on the query side is
          // not derivable from an unfiltered MV aggregate
          case AggregateExpression(af, _, false, None, _) =>
            af match {
              case Sum(e, _) =>
                inMvSpace(e).flatMap(m => mvAggIdx {
                  case Sum(me, _) => me.canonicalized == m.canonicalized
                  case _ => false
                }).map(i => agg(Sum(scanAttr(i))))
              case Count(es) if es.length <= 1 =>
                // count(*) ≡ count(1); multi-arg count never matches
                val qArg = es.headOption.getOrElse(Literal(1))
                inMvSpace(qArg).flatMap { m =>
                  mvAggIdx {
                    case Count(mes) if mes.length <= 1 =>
                      mes.headOption.getOrElse(Literal(1)).canonicalized == m.canonicalized
                    case _ => false
                  }
                }.map(i =>
                  // sum-of-counts is NULL over an empty MV; count is 0
                  Coalesce(Seq(agg(Sum(scanAttr(i))), Literal(0L))))
              case Min(e) =>
                inMvSpace(e).flatMap(m => mvAggIdx {
                  case Min(me) => me.canonicalized == m.canonicalized
                  case _ => false
                }).map(i => agg(Min(scanAttr(i))))
              case Max(e) =>
                inMvSpace(e).flatMap(m => mvAggIdx {
                  case Max(me) => me.canonicalized == m.canonicalized
                  case _ => false
                }).map(i => agg(Max(scanAttr(i))))
              // avg = sum of sums / sum of counts; requires the MV to carry
              // BOTH sum(e) and count(e) over the same expression (count(e)
              // matches avg's null handling; count(1) only if e never null).
              // Double-typed only: decimal avg has engine-specific
              // precision/rounding the re-derivation would not reproduce.
              case Average(e, _) if inner.dataType == org.apache.spark.sql.types.DoubleType =>
                inMvSpace(e).flatMap { m =>
                  val sumIdx = mvAggIdx {
                    case Sum(me, _) => me.canonicalized == m.canonicalized
                    case _ => false
                  }
                  val cntIdx = mvAggIdx {
                    // count(e) over the same expression matches avg's null
                    // handling; count(1)/count(*) (foldable arg) counts rows,
                    // acceptable only when e can never be null
                    case Count(Seq(me)) if !me.foldable => me.canonicalized == m.canonicalized
                    case Count(Seq(me)) if me.foldable => !m.nullable
                    case _ => false
                  }
                  for (si <- sumIdx; ci <- cntIdx) yield
                    org.apache.spark.sql.catalyst.expressions.Divide(
                      Cast(agg(Sum(scanAttr(si))), org.apache.spark.sql.types.DoubleType),
                      Cast(agg(Sum(scanAttr(ci))), org.apache.spark.sql.types.DoubleType),
                      org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY)
                }
              case _ => None
            }
          case e => // grouping-key output
            inMvSpace(e).flatMap(mvGroupIdx).map(scanAttr)
        }
        derived.map { d =>
          val cast = if (d.dataType == ne.dataType) d else Cast(d, ne.dataType)
          Alias(cast, name)(exprId = exprId)
        }
      }
      if (newAggs.exists(_.isEmpty)) return None

      val base: LogicalPlan = newCond.map(Filter(_, scan)).getOrElse(scan)
      Some(Aggregate(newG, newAggs.map(_.get), base))
    }

    override def apply(plan: LogicalPlan): LogicalPlan = {
      if (registry.isEmpty) return plan
      plan.transformUp {
        case p => exact(p).orElse(rollup(p)).getOrElse(p)
      }
    }
  }
}
