package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Every node of executed plans, through AQE wrappers and into the
  * cached plans under `InMemoryRelation`s — each cached plan walked
  * once however many scans (or plans) read it, and a reused exchange
  * counted as its reuse marker only.
  */
object PlanNodes {
  def apply(plans: SparkPlan*): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => q +: walk(q.plan)
      case m: InMemoryTableScanExec =>
        m +: (if (seen.add(m.relation.cachedPlan)) walk(m.relation.cachedPlan) else Nil)
      case r: ReusedExchangeExec => Seq(r)
      case o => o +: o.children.flatMap(walk)
    }
    plans.flatMap(walk)
  }
}
