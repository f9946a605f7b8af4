package graft.examples

import org.apache.spark.sql.functions._

/** Measures the bucketed lexical index's SERVING cost in isolation
  * (build excluded): wall + shuffle of bm25TopKIndexed for a point
  * query workload vs the full src0 workload — the numbers behind the
  * PERF.md round-11 bucket-pruning entry.
  */
object LexProbe {
  def main(args: Array[String]): Unit = {
    val d = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = graft.Sessions.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-lex-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = graft.Tables.documents(spark, d)
    val root = java.nio.file.Files.createTempDirectory("graft_lexprobe").toString
    val t0 = System.nanoTime()
    val vdir = graft.functions.Retrieval.writeLexicalIndex(
      docs.filter(col("source") =!= "src0"), "doc_id", "text", root)
    println(f"[lexprobe] build ${(System.nanoTime() - t0) / 1e9}%.2f s")
    // the pruning lever is SCAN input (files/bytes read), not shuffle:
    // tf never shuffles (broadcast probe) — record bytesRead per serve
    final class InputTotals extends org.apache.spark.scheduler.SparkListener {
      val bytes = new java.util.concurrent.atomic.AtomicLong
      val records = new java.util.concurrent.atomic.AtomicLong
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          bytes.addAndGet(m.inputMetrics.bytesRead)
          records.addAndGet(m.inputMetrics.recordsRead)
          ()
        }
      }
    }
    def serve(label: String, queries: org.apache.spark.sql.DataFrame,
              prune: Boolean = true): Unit = {
      // warm-up outside the listener, then one measured run
      graft.functions.Retrieval
        .bm25TopKIndexed(spark, vdir, queries, "doc_id", "text", topK = 5,
          prune = prune)
        .write.mode("overwrite").format("noop").save()
      val l = new InputTotals
      spark.sparkContext.addSparkListener(l)
      try {
        val t = System.nanoTime()
        graft.functions.Retrieval
          .bm25TopKIndexed(spark, vdir, queries, "doc_id", "text", topK = 5,
            prune = prune)
          .write.mode("overwrite").format("noop").save()
        org.apache.spark.sql.graftbridge.Bridge.drainListeners(spark.sparkContext)
        println(f"[lexprobe] $label wall ${(System.nanoTime() - t) / 1e9}%.2f s " +
          f"input ${l.bytes.get / 1048576.0}%.1f MB / ${l.records.get} rows read")
      } finally {
        spark.sparkContext.removeSparkListener(l)
      }
    }
    serve("full-workload", docs.filter(col("source") === "src0"))
    serve("full-workload-unpruned", docs.filter(col("source") === "src0"), prune = false)
    serve("point-query", docs.filter(col("source") === "src0").limit(1))
    serve("point-query-unpruned", docs.filter(col("source") === "src0").limit(1),
      prune = false)
    // a SHORT query (the real point-retrieval shape: a few search
    // terms, not a whole document) — where bucket pruning actually bites
    import spark.implicits._
    val short = Seq((900001L, "alpha beta")).toDF("doc_id", "text")
    serve("short-query", short)
    serve("short-query-unpruned", short, prune = false)
    spark.stop()
  }
}
