package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Reads [[SortedRunPairs.RunPairsExec]]'s SQL metrics from a frame's
  * executed plan, looking through adaptive query stages. Call it after
  * an action on the SAME frame: the values live on that frame's plan.
  */
object RunPairsMetrics {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** (candidateBuckets, droppedBuckets, droppedIds) of the one
    * RunPairsExec in `df`'s executed plan, or None when the plan holds
    * none.
    */
  def of(df: DataFrame): Option[(Long, Long, Long)] = {
    val execs = nodes(df.queryExecution.executedPlan)
      .collect { case e: SortedRunPairs.RunPairsExec => e }
    assert(execs.size <= 1, s"${execs.size} RunPairsExec nodes in the plan")
    execs.headOption.map(e => (e.metrics("candidateBuckets").value,
      e.metrics("droppedBuckets").value, e.metrics("droppedIds").value))
  }
}
