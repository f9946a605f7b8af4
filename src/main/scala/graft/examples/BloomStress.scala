package graft.examples

import graft.Tables
import graft.operators.BloomJoin
import org.apache.spark.sql.functions._

/** Measures what the bloom prefilter actually saves on a SHUFFLE join
  * — the scenario it exists for (dim too big/contested to broadcast).
  * Broadcast joins are disabled so both sides shuffle, then the same
  * join runs plain vs bloom-prefiltered and the task-metrics totals
  * are compared: the bloom should cut the fact side's shuffle bytes
  * by ~the dim's key selectivity while producing identical results.
  *
  *   sbt "runMain graft.examples.BloomStress"
  */
object BloomStress {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.builder(32, "graft-bloom-stress")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle joins
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    val pk = Tables.part(spark, sf).filter(col("p_size") === 15)
      .select("p_partkey", "p_brand")
    val li = Tables.lineitem(spark, sf).select("l_partkey", "l_extendedprice")

    def agg(joined: org.apache.spark.sql.DataFrame) = joined
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("revenue"))

    def measure(label: String)(df: => org.apache.spark.sql.DataFrame): Set[String] = {
      df.write.mode("overwrite").format("noop").save() // warm
      val l = new graft.Bench.TaskTotals
      spark.sparkContext.addSparkListener(l)
      val t0 = System.nanoTime()
      val out = df
      out.write.mode("overwrite").format("noop").save()
      val secs = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graftbridge.Bridge.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
      println(f"$label%-18s shufW ${l.shuffleWrite.get / 1024.0 / 1024.0}%7.2f MB  " +
        f"shufR ${l.shuffleRead.get / 1024.0 / 1024.0}%7.2f MB  $secs%5.2f s")
      out.collect().map(_.toString).toSet
    }

    val plain = measure("plain SMJ") {
      agg(li.join(pk, col("l_partkey") === col("p_partkey")))
    }
    val bloomed = measure("bloom-prefiltered") {
      agg(BloomJoin.innerJoin(li, "l_partkey", pk, "p_partkey",
        expectedItems = 4096, fpp = 0.01))
    }
    println(s"results identical: ${plain == bloomed}")
    require(plain == bloomed, "bloom prefilter changed the join result")
    spark.stop()
  }
}
