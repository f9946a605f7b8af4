package graft.examples

import graft.pipeline._

/** Throughput of the typed pipeline API (the pippin-parity surface)
  * over N in-memory elements: filter → map → sum, and the same chain
  * through the column API for comparison. Both start from the same
  * `Pipeline.fromSeq` source, so the pair compares chains, not
  * sources. The session uses every host core.
  *
  *   sbt "runMain graft.examples.PipelineBench [n]"
  */
object PipelineBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(600000)
    val spark = graft.Sessions.builder(appName = "graft-pipeline-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$label: $s%.2f s  (${n / s / 1e6}%.1f M elem/s)")
      r
    }

    val data = (1 to n).toSeq
    // warm-up
    Aggregate.sum(Pipeline.fromSeq(spark, data.take(1000)).initStage)

    // distributed source: engine throughput without driver-side
    // materialization (the scale-relevant number)
    (1 to 3).foreach { i =>
      time(s"range source   filter->map->sum (run $i)") {
        val p = Pipeline.fromDataset(spark.range(n.toLong))
        val st = p.initStage.filter(_ % 2 == 0).map(_ * 2L)
        Aggregate.sum(st).get
      }
    }

    (1 to 3).foreach { i =>
      time(s"typed pipeline filter->map->sum (run $i)") {
        val p = Pipeline.fromSeq(spark, data)
        val st = p.initStage.filter(_ % 2 == 0).map(_ * 2L)
        Aggregate.sum(st).get
      }
      time(s"column API   filter->map->sum (run $i)") {
        import org.apache.spark.sql.functions._
        Pipeline.fromSeq(spark, data).toDF("v")
          .filter(col("v") % 2 === 0)
          .select((col("v") * 2L).as("v2"))
          .agg(sum("v2")).head()
      }
    }
    spark.stop()
  }
}
