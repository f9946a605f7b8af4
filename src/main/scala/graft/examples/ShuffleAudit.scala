package graft.examples

import graft.SparkEntry
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import java.util.concurrent.atomic.AtomicLong

/** Per-query shuffle/spill audit: runs each named query through the
  * noop sink with a task-metrics listener attached and prints the
  * totals — the "measure, don't guess" companion to PlanAudit. A
  * query whose shuffle volume is a large multiple of its output is
  * carrying payload through an exchange it should have projected
  * away first; nonzero spill at test scale means partitions are
  * mis-sized at any scale.
  *
  *   sbt "runMain graft.examples.ShuffleAudit [queryName ...]"
  */
object ShuffleAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.builder(32, "graft-shuffle-audit").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_tpch_q1", "q_tpch_q5", "q_tpch_q10", "q_tpch_q18",
        "q_join_multi", "q_dedup_minhash", "q_dedup_clusters",
        "q_ann_bruteforce", "q_ann_ivfpq", "q_percentile", "q_linkage",
        "q_resample", "q_topk_per_group", "q_window", "q_bloom_join",
        "q_inverted_index", "q_cooccur", "q_anomaly")

    final class Metrics extends SparkListener {
      val shuffleRead = new AtomicLong
      val shuffleWrite = new AtomicLong
      val memSpill = new AtomicLong
      val diskSpill = new AtomicLong
      val tasks = new AtomicLong
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          memSpill.addAndGet(m.memoryBytesSpilled)
          diskSpill.addAndGet(m.diskBytesSpilled)
          tasks.incrementAndGet()
        }
      }
    }

    def mb(b: Long): String = f"${b / 1024.0 / 1024.0}%8.1f"
    println(f"${"query"}%-22s ${"tasks"}%6s ${"shufW MB"}%9s ${"shufR MB"}%9s ${"spill MB"}%9s")
    names.foreach { n =>
      // warm once so codegen/footer costs don't pollute the metrics
      SparkEntry.queries(n)(spark, sf).write.mode("overwrite").format("noop").save()
      val l = new Metrics
      spark.sparkContext.addSparkListener(l)
      try SparkEntry.queries(n)(spark, sf).write.mode("overwrite").format("noop").save()
      finally {
        // listener events are posted asynchronously — drain before reading
        org.apache.spark.sql.graftbridge.Bridge.drainListeners(spark.sparkContext)
        spark.sparkContext.removeSparkListener(l)
      }
      println(f"$n%-22s ${l.tasks.get()}%6d ${mb(l.shuffleWrite.get())}%9s ${mb(l.shuffleRead.get())}%9s ${mb(l.memSpill.get() + l.diskSpill.get())}%9s")
    }
    spark.stop()
  }
}
