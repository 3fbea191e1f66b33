package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** The one physical-plan walk of the plan-shape specs. */
object PlanWalk {

  /** Every node of `p`, `p` first. The walk descends through the AQE
    * wrapper into its current plan and through each query stage into its
    * plan (a stage's own children are empty), and, with `intoCache`, from
    * an InMemoryTableScan into the plan that produced the cached rows (a
    * `Tables.materialize` boundary). */
  def nodes(p: SparkPlan, intoCache: Boolean = false): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case im: InMemoryTableScanExec if intoCache => Seq(im.relation.cachedPlan)
      case other => other.children
    }
    p +: kids.flatMap(nodes(_, intoCache))
  }

  /** Run `df`, then return its final plan: the AQE wrapper's plan once
    * execution has fixed it, or the executed plan if AQE did not apply. */
  def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    val root = df.queryExecution.executedPlan
    root.collectFirst { case a: AdaptiveSparkPlanExec => a.executedPlan }.getOrElse(root)
  }
}
