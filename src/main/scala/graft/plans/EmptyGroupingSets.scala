package graft.plans

import java.util.Locale

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedHaving}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Grouping, GroupingID, GroupingSets, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Sort, Union}

/** Hive (and DuckDB, and PostgreSQL) answer the EXPLICIT empty
  * grouping set's global row even when the input is EMPTY —
  * `GROUP BY a, b GROUPING SETS ((), ...)` over zero rows yields one
  * row with NULL aggregates and grouping() = 1 (ref
  * groupby_rollup_empty.q's pinned `NULL, 1`) — where Spark's
  * Expand+Aggregate lowering yields zero rows (no input, no groups).
  *
  * The rewrite splits the EXPLICIT `()` out of the set list and
  * computes it as a key-less global Aggregate — the one plan shape
  * whose empty-input answer is a single row by SQL semantics — unioned
  * under the remaining sets. On non-empty input the result is
  * identical (the `()` row IS the global aggregate); on empty input
  * the global leg supplies the missing row. In the global leg,
  * `grouping(x)` folds to TINYINT 1 and `grouping_id()`/GROUPING__ID
  * to the BIGINT full mask (typed exactly as Spark's Grouping /
  * GroupingID so Union widening cannot shift the output type);
  * select-list occurrences of the grouping expressions fold to NULL
  * except inside aggregate calls (sum(a) with a also a group key
  * aggregates the raw column, per Hive). Aggregate calls are detected
  * through the session FunctionRegistry (the builder's result node),
  * not a name whitelist, so max_by/median/mode/any_value/percentile_
  * cont-class aggregates keep their raw arguments too; a static set
  * remains only as the no-active-session fallback. Grouping-expression
  * matching strips attribute qualifiers and compares case-insensitively
  * (`t.a` in the select list matches group key `a`) — sound because in
  * a valid query every bare non-aggregate select item must BE a
  * grouping expression.
  *
  * Both resolved and unresolved spellings are matched: the front door
  * runs pre-analysis (UnresolvedFunction nodes), while the extensions
  * entry's resolution rule ([[FrontDoor]]) shares the analyzer's
  * fixpoint with ResolveGroupingAnalytics/ResolveFunctions and can see
  * grouping()/grouping_id() already resolved to Grouping/GroupingID.
  *
  * ROLLUP/CUBE spellings have the SAME empty-input gap for their
  * IMPLICIT total row (ref groupby_rollup_empty2.q.out pins `1` for a
  * rollup over an empty filtered join; r17 find) — those are handled
  * POST-analysis by [[RollupEmptyInput]] on the resolved Expand, where
  * ORDER BY/HAVING references to GROUPING__ID have already resolved
  * (splitting them here, pre-analysis, would strand such references
  * above the Union).
  *
  * Scale note: the global leg re-scans the child once, but as a
  * key-less partial aggregate over only the aggregated columns — the
  * cheapest possible second pass (partial aggregation reduces each
  * partition to one row map-side; the shuffle moves N_partitions
  * rows).
  */
object EmptyGroupingSets {

  /** Fallback aggregate-name set, used only when no active session's
    * registry is reachable (bare rule application in tests).
    */
  private val AggNames = Set("sum", "count", "avg", "mean", "min", "max",
    "first", "last", "first_value", "last_value", "collect_list",
    "collect_set", "stddev", "stddev_pop", "stddev_samp", "std",
    "variance", "var_pop", "var_samp", "corr", "covar_pop", "covar_samp",
    "percentile", "percentile_approx", "approx_count_distinct",
    "count_if", "any", "some", "every", "bool_and", "bool_or", "bit_and",
    "bit_or", "bit_xor", "histogram_numeric", "skewness", "kurtosis",
    "max_by", "min_by", "any_value", "array_agg", "median", "mode",
    "percentile_cont", "percentile_disc", "listagg", "string_agg",
    "regr_count", "regr_avgx", "regr_avgy", "regr_sxx", "regr_syy",
    "regr_sxy", "regr_slope", "regr_intercept", "regr_r2")

  private def fnName(f: UnresolvedFunction): String =
    f.nameParts.last.toLowerCase(Locale.ROOT)

  /** Is this call an aggregate? Ask the session FunctionRegistry to
    * BUILD it and key off the result node class — the authoritative
    * answer for builtins, Hive-gap registrations, and overrides alike.
    * Builder failures (arg-shape checks, special parse-only forms)
    * fall back to the static name set.
    */
  private def isAggregate(f: UnresolvedFunction): Boolean = {
    val name = fnName(f)
    val viaRegistry =
      try {
        SparkSession.getActiveSession.map { spark =>
          spark.sessionState.functionRegistry
            .lookupFunction(FunctionIdentifier(name), f.arguments) match {
            case _: AggregateFunction => true
            case _: AggregateExpression => true
            case e => e.exists {
              case _: AggregateFunction => true
              case _ => false
            }
          }
        }
      } catch { case NonFatal(_) => None }
    viaRegistry.getOrElse(AggNames(name))
  }

  /** Qualifier-stripped, case-folded key for grouping-expression
    * matching: `t.a`, `T.A`, and `a` all normalize to `a`; non-attribute
    * expressions normalize their embedded attributes the same way.
    */
  private def norm(e: Expression): String = {
    val stripped = e.transformUp {
      case a: UnresolvedAttribute =>
        UnresolvedAttribute(Seq(a.nameParts.last.toLowerCase(Locale.ROOT)))
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        UnresolvedAttribute(Seq(a.name.toLowerCase(Locale.ROOT)))
    }
    stripped.sql.toLowerCase(Locale.ROOT)
  }

  private def globalize(ne: NamedExpression, groupExprs: Seq[Expression],
      fullMask: Int): NamedExpression = {
    val groupKeys = groupExprs.map(norm).toSet
    def walk(e: Expression): Expression = e match {
      // unresolved spellings (front-door path)
      case f: UnresolvedFunction if fnName(f) == "grouping" =>
        Literal(((1 << f.arguments.size) - 1).toByte)
      case f: UnresolvedFunction if fnName(f) == "grouping_id" =>
        Literal(fullMask.toLong)
      case a: UnresolvedAttribute
          if a.name.toLowerCase(Locale.ROOT) == "grouping__id" =>
        Literal(fullMask.toLong)
      // resolved spellings (extension rule sharing the analyzer
      // fixpoint with ResolveGroupingAnalytics/ResolveFunctions)
      case _: Grouping => Literal(1.toByte)
      case _: GroupingID => Literal(fullMask.toLong)
      case f: UnresolvedFunction if isAggregate(f) => f // raw args
      case ae: AggregateExpression => ae // raw args
      case af: AggregateFunction => af // raw args
      case e if groupKeys(norm(e)) => Literal(null)
      case other => other.mapChildren(walk)
    }
    walk(ne) match {
      case n: NamedExpression => n
      case e => Alias(e, ne.name)()
    }
  }

  /** Does this parent-node expression reference grouping metadata
    * (GROUPING__ID, grouping(), grouping_id())? A pre-analysis split
    * would strand such references above the Union — those plans defer
    * to the post-analysis [[RollupEmptyInput]], which runs after the
    * analyzer has resolved them into the Aggregate.
    */
  private def groupingRef(e: Expression): Boolean = e.exists {
    case a: UnresolvedAttribute =>
      val n = a.nameParts.last.toLowerCase(Locale.ROOT)
      n == "grouping__id" || n == "spark_grouping_id"
    case f: UnresolvedFunction =>
      val n = fnName(f); n == "grouping" || n == "grouping_id"
    case _: Grouping | _: GroupingID => true
    case _ => false
  }

  private def strands(plan: LogicalPlan): Boolean = plan.exists {
    // HAVING always resolves INTO its aggregate (aggregate calls,
    // non-projected columns) — any split below it strands it
    case _: UnresolvedHaving => true
    // ORDER BY resolves missing references into the aggregate too:
    // grouping metadata or any function call defers
    case s: Sort => s.order.exists(o => groupingRef(o) || o.exists {
      case _: UnresolvedFunction => true
      case ae: org.apache.spark.sql.catalyst.expressions.aggregate
          .AggregateExpression => ae != null
      case _ => false
    })
    case f: Filter => groupingRef(f.condition)
    case _ => false
  }

  def apply(plan: LogicalPlan): LogicalPlan =
    if (strands(plan)) plan
    else plan.transformUpWithSubqueries {
      case p => p.transformUp {
        case agg @ Aggregate(Seq(gs: GroupingSets), aggExprs, child, _)
            if gs.groupingSets.exists(_.isEmpty) =>
          val nonEmpty = gs.groupingSets.filterNot(_.isEmpty)
          val mask = (1 << gs.userGivenGroupByExprs.size) - 1
          val globalLeg = Aggregate(Nil,
            aggExprs.map(globalize(_, gs.userGivenGroupByExprs, mask)),
            child)
          if (nonEmpty.isEmpty) globalLeg
          else Union(Seq(
            agg.copy(groupingExpressions =
              Seq(GroupingSets(nonEmpty, gs.userGivenGroupByExprs))),
            globalLeg))
      }
    }
}
