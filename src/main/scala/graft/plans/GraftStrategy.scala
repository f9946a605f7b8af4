package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** graft's one planner strategy: plans each custom logical node into
  * its physical operator.
  *
  * Registered in one place: [[ensure]] adds it to the session's
  * `spark.experimental.extraStrategies`, and the three entry points
  * that build these nodes ([[TopKPerKey.topK]],
  * [[Bm25TopK.scoreTopK]], [[SortedRunPairs.pairs]]) call it. That
  * list is updated read-then-write, so two threads registering at once
  * (two async aggregates on one session) can lose one write; with a
  * single strategy object both write the same list, and every node
  * still plans.
  */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    // final-over-partial; Spark inserts the key exchange to satisfy
    // the final's required distribution
    case TopKPerKey.TopKPerKeyNode(keys, order, k, child) =>
      TopKPerKey.TopKExec(keys, order, k, partial = false,
        TopKPerKey.TopKExec(keys, order, k, partial = true, planLater(child))) :: Nil
    case Bm25TopK.ScoreTopKNode(qs, k, child, out) =>
      Bm25TopK.ScoreTopKExec(qs, k, out, planLater(child)) :: Nil
    case SortedRunPairs.RunPairsNode(maxBucket, child, out) =>
      SortedRunPairs.RunPairsExec(maxBucket, out, planLater(child)) :: Nil
    case _ => Nil
  }

  /** Make `spark` plan graft's nodes; a no-op when it already does. */
  def ensure(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(this))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ this
}
