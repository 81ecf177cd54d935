package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The FUSED post-analysis Hive-semantics pass: one analyzer run, then
  * the registry's [[FrontDoor.negotiation]] and [[FrontDoor.semantics]]
  * stages in order on the resolved plan. The per-statement cost stays
  * ONE analyzer pass (the expensive part) plus a constant number of
  * cheap expression walks no matter how many semantics accumulate; new
  * post-analysis semantics join [[FrontDoor.semantics]] rather than
  * adding analyzer passes.
  */
object HiveSemantics {

  def apply(spark: SparkSession, plan: LogicalPlan): LogicalPlan = {
    val analyzed =
      if (plan.resolved) plan
      else try spark.sessionState.analyzer.execute(plan)
      catch { case NonFatal(_) => return plan }
    // negotiation first: anything it changes re-analyzes before the
    // expression-level fixes run (surrounding extractions resolve
    // against the negotiated type)
    val negotiated = FrontDoor.fold(Seq(FrontDoor.negotiation), spark, "",
      analyzed).getOrElse(analyzed)
    val base =
      if (negotiated.fastEquals(analyzed)) analyzed
      else try spark.sessionState.analyzer.execute(negotiated)
      catch { case NonFatal(_) => analyzed }
    val out = FrontDoor.fold(FrontDoor.semantics, spark, "", base)
      .getOrElse(base)
    if (out.fastEquals(analyzed)) plan else out
  }
}
