package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, GroupingSets}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Hive dedups IDENTICAL grouping sets: `GROUP BY a GROUPING SETS ((a),
  * (a))` answers each group ONCE (ref qtest groupby_grouping_sets1.q
  * expected output — the set list normalizes), where stock Spark expands
  * every listed set and answers duplicated sets twice. Surfaced by
  * QtestConformanceSpec case gs4. The rewrite removes only sets whose
  * expression lists render identically pre-resolution — provably the
  * same set, never a semantic guess.
  */
object GroupingSetsDedup {

  // the separator is load-bearing: unquoted attribute renderings
  // concatenated bare would make (a, bc) and (ab, c) collide and the
  // dedup silently DROP a distinct set; U+0001 cannot appear in an
  // identifier rendering, so the join is injective per set
  private def render(set: Seq[Expression]): String =
    set.map(_.sql).mkString("\u0001")

  def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case gs: GroupingSets
          if gs.groupingSets.map(render).distinct.size <
            gs.groupingSets.size =>
        val seen = scala.collection.mutable.LinkedHashMap
          .empty[String, Seq[Expression]]
        gs.groupingSets.foreach(s => seen.getOrElseUpdate(render(s), s))
        GroupingSets(seen.values.toSeq, gs.userGivenGroupByExprs)
    }
}
