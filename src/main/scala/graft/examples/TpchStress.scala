package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational-path stress: the two join-heavy headliner shapes
  * (q_join_multi / TPC-H Q3, q_tpch_q5 5-way) plus Q1 and a window,
  * at 1× (sf0.1) and 10× (6M lineitem / 1.5M orders, multi-row-group
  * parquet — the shape a real multi-file table has, so scans
  * parallelize naturally, no Tables.spread needed). Dimensions stay
  * 1× (facts grow, dims don't — the realistic scale-up).
  *
  * A task-duration listener prints per-stage median/max so task skew
  * under AQE is a measured number, not a claim.
  *
  *   sbt "runMain graft.examples.TpchStress"
  */
object TpchStress {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.builder(32, "graft-tpch-stress").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // per-stage task durations → skew = max/median of the widest stage
    val durs = new scala.collection.mutable.HashMap[Int, scala.collection.mutable.ArrayBuffer[Long]]
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        durs.synchronized {
          durs.getOrElseUpdate(t.stageId,
            new scala.collection.mutable.ArrayBuffer[Long]) += t.taskInfo.duration
        }
    })
    def skewReport(label: String): Unit = durs.synchronized {
      val wide = durs.toSeq.filter(_._2.size >= 8)
        .map { case (sid, ds) =>
          val s = ds.toSeq.sorted
          (sid, s.size, s(s.size / 2), s.last)
        }
        .sortBy(-_._4).take(2)
      wide.foreach { case (sid, n, med, mx) =>
        println(f"  [skew] $label stage $sid: $n tasks, median ${med}ms, " +
          f"max ${mx}ms, ratio ${mx.toDouble / math.max(med, 1)}%.1f×")
      }
      durs.clear()
    }

    val sf = "/root/testdata/sf0.1"
    val li1 = graft.Tables.lineitem(spark, sf)
    val ord1 = graft.Tables.orders(spark, sf)
    val li10 = spark.read.parquet(sys.env.getOrElse("STRESS_LI", "/tmp/stress_li.parquet"))
    val ord10 = spark.read.parquet(sys.env.getOrElse("STRESS_ORD", "/tmp/stress_ord.parquet"))
    // dims (1×, broadcast side)
    val cust = graft.Tables.customer(spark, sf)
    val supp = graft.Tables.supplier(spark, sf)
    val nation = graft.Tables.nation(spark, sf)
    val region = graft.Tables.region(spark, sf)
    println(s"lineitem 1×: ${li1.count()}, 10×: ${li10.count()}; " +
      s"orders 1×: ${ord1.count()}, 10×: ${ord10.count()}")

    def time[A](label: String, skew: Boolean = false)(f: => A): A = {
      durs.synchronized(durs.clear())
      val t0 = System.nanoTime()
      val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      if (skew) skewReport(label)
      r
    }

    def q1(li: DataFrame) =
      li.filter(col("l_shipdate") <= expr("TIMESTAMP '2000-09-02 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity"), sum("l_extendedprice"),
          sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
          avg("l_quantity"), count(lit(1)))

    // q_join_multi shape: broadcast filtered customer, shuffle li⋈ord
    def q3(li: DataFrame, ord: DataFrame) =
      cust.filter(col("c_mktsegment") === "BUILDING")
        .join(ord, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey")
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey")).limit(20)

    // q_tpch_q5 shape: one fact-fact shuffle, every dim broadcast
    def q5(li: DataFrame, ord: DataFrame) =
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_orderdate") >= expr("TIMESTAMP '1996-01-01 00:00:00'") &&
          col("o_orderdate") < expr("TIMESTAMP '1999-01-01 00:00:00'"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))

    // warm-up
    li1.agg(count(lit(1))).head(); li10.agg(count(lit(1))).head()

    (1 to 2).foreach { i =>
      time(s"Q1 1× (run $i)")(q1(li1).collect())
      time(s"Q1 10× (run $i)")(q1(li10).collect())
      time(s"Q3/join_multi 1× (run $i)")(q3(li1, ord1).collect())
      time(s"Q3/join_multi 10× (run $i)", skew = i == 2)(q3(li10, ord10).collect())
      time(s"Q5 5-way 1× (run $i)")(q5(li1, ord1).collect())
      time(s"Q5 5-way 10× (run $i)", skew = i == 2)(q5(li10, ord10).collect())
      time(s"window top-3 per cust 10× (run $i)") {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc)
        ord10.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
          .agg(count(lit(1))).head()
      }
    }
    spark.stop()
  }
}
