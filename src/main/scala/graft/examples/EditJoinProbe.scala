package graft.examples

import org.apache.spark.sql.functions._

/** Measurement probe for the q_linkage candidate pipeline: times the
  * deletion keys alone, the keys grouped into collect_list buckets,
  * the candidate pairs (the SortedRunPairs operator) and the full
  * self-join separately (noop sink, warm + min-of-rest), so the CPU
  * can be attributed to the variant kernel vs the bucket grouping vs
  * the pair machinery vs the verify. Pure measurement — not a
  * declared query.
  * Args: sfDir [iters]
  */
object EditJoinProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/repo/tmp/sf1"
    val iters = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.builder(cpus.toInt, "graft-edit-join-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val c = graft.Tables.customer(spark, sfDir)
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")

    def time(name: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      val ts = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        mk.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] $name%-18s iters=${ts.map(t => f"$t%.2f").mkString("[", ",", "]")} min_warm=${ts.drop(1).min}%.2f")
    }

    val keyed = graft.operators.EditDistanceJoin.deletionKeys(
      c, "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"))
    time("keys_only")(keyed)
    time("keys_grouped") {
      keyed.groupBy("band", "bkey")
        .agg(collect_list(col("id")).as("ms"))
        .filter(size(col("ms")) >= 2)
    }
    time("pairs_operator")(graft.operators.EditDistanceJoin.candidatePairs(keyed, 10000))
    time("full_selfjoin")(graft.operators.EditDistanceJoin.selfJoin(
      c, "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"), 2))
    spark.stop()
  }
}
