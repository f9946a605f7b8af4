package graft.examples

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import scala.collection.mutable

/** Per-stage profile of one gated query: stage wall / task-time sum /
  * shuffle bytes / row counts, name-tagged — the "which phase is the
  * 14 seconds" companion to ShuffleAudit's whole-query totals.
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.examples.StageProfile q_dedup_embedding"
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.builder(32, "graft-stage-profile").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val name = if (args.nonEmpty) args(0) else "q_dedup_embedding"

    final case class Row(id: Int, name: String, wallMs: Long, taskSumMs: Long,
                         cpuMs: Long, gcMs: Long, tasks: Int, shufWMb: Double, records: Long)
    val rows = mutable.ArrayBuffer.empty[Row]
    val l = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        val wall = (for {a <- s.completionTime; b <- s.submissionTime} yield a - b).getOrElse(-1L)
        rows += Row(s.stageId, s.name.takeWhile(_ != '\n').take(60), wall,
          s.taskMetrics.executorRunTime, s.taskMetrics.executorCpuTime / 1000000,
          s.taskMetrics.jvmGCTime, s.numTasks,
          s.taskMetrics.shuffleWriteMetrics.bytesWritten / 1048576.0,
          s.taskMetrics.outputMetrics.recordsWritten +
            s.taskMetrics.shuffleWriteMetrics.recordsWritten)
      }
    }
    // warm run first (parquet footers, codegen)
    graft.SparkEntry.queries(name)(spark, sf).write.mode("overwrite").format("noop").save()
    spark.sparkContext.addSparkListener(l)
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(name)(spark, sf).write.mode("overwrite").format("noop").save()
    val total = (System.nanoTime() - t0) / 1e6
    org.apache.spark.sql.graftbridge.Bridge.drainListeners(spark.sparkContext)
    println(f"== $name @ $sf: total ${total}%.0f ms ==")
    println(f"${"stage"}%-6s ${"wall ms"}%8s ${"run ms"}%9s ${"cpu ms"}%9s ${"gc ms"}%7s ${"tasks"}%6s ${"shufW MB"}%9s ${"recs"}%10s  name")
    rows.sortBy(_.id).foreach { r =>
      println(f"${r.id}%-6d ${r.wallMs}%8d ${r.taskSumMs}%9d ${r.cpuMs}%9d ${r.gcMs}%7d ${r.tasks}%6d ${r.shufWMb}%9.2f ${r.records}%10d  ${r.name}")
    }
    spark.stop()
  }
}
