package graft.examples

import graft.SparkEntry

/** Prints formatted physical plans for the headline queries so scan
  * pruning (ReadSchema), predicate pushdown (PushedFilters),
  * join strategies (BroadcastHashJoin vs SortMergeJoin) and
  * whole-stage-codegen spans can be audited.
  *
  *   sbt "runMain graft.examples.PlanAudit [queryName ...]"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.builder(4, "graft-plan-audit").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_tpch_q1", "q_join_broadcast", "q_join_multi", "q_tpch_q5",
        "q_dedup_exact", "q_ann_bruteforce", "q_filter",
        "q_topk_per_group", "q_ntile", "q_pack")
    names.foreach { n =>
      println(s"\n=============== $n ===============")
      SparkEntry.queries(n)(spark, sf).explain("formatted")
    }
    spark.stop()
  }
}
