package graft.examples

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Focused per-query timer: runs the named SparkEntry queries with the
  * Bench methodology (noop materialization, warm + timed iters,
  * first-iteration shuffle listener) without paying for the whole
  * suite — the clean-box re-measure tool for perf-weak flags. Per
  * query it prints the iteration walls, the first iteration's shuffle
  * write, and codegen compiles as `first+warm` with their Janino ms.
  * Args: sfDir q1,q2,... [iters]
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val names = (if (args.length > 1) args(1) else "q_bigram_lm")
      .split(",").toSeq
    val iters = if (args.length > 2) args(2).toInt else 4
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.builder(cpus.toInt, "graft-qtime").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // fail fast on a typo'd query name — a raw NoSuchElementException
    // halfway through a measurement session is the worse experience
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[qtime] unknown queries: ${unknown.mkString(", ")} — " +
        s"known names: ${graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      spark.stop()
      sys.exit(2)
    }
    // JVM/codegen/parquet-footer warmup: any cheap known query works,
    // so fall back to the first inventory entry if the usual one is
    // ever renamed — and LOG a warmup failure (a silently cold JVM
    // inflates the first measured query)
    val warmup = if (graft.SparkEntry.queries.contains("q_groupby")) "q_groupby"
      else graft.SparkEntry.queries.keys.toSeq.sorted.head
    try graft.SparkEntry.queries(warmup)(spark, sfDir)
      .write.mode("overwrite").format("noop").save()
    catch { case e: Throwable =>
      System.err.println(s"[qtime] warmup $warmup FAILED (${e.getMessage}) — " +
        "first measured iteration includes JVM/codegen startup") }
    // codegen compiles (first iteration + the warm ones) and Janino
    // compile ms over the query's iterations: warm compiles mean the
    // generated-code cache no longer holds the query's working set
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    names.foreach { name =>
      val l = new graft.Bench.TaskTotals
      spark.sparkContext.addSparkListener(l)
      val c0 = compiles.getCount
      val ns0 = CodeGenerator.compileTime
      var cFirst = 0L
      val times = (1 to iters).map { i =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        val dt = (System.nanoTime() - t0) / 1e9
        if (i == 1) {
          org.apache.spark.sql.graftbridge.Bridge.drainListeners(spark.sparkContext)
          spark.sparkContext.removeSparkListener(l)
          cFirst = compiles.getCount - c0
        }
        dt
      }
      val cWarm = compiles.getCount - c0 - cFirst
      val compileMs = (CodeGenerator.compileTime - ns0) / 1e6
      try { graft.plans.CacheHandles.releaseAllBlocking(); () } catch { case _: Throwable => () }
      val warm = if (times.length > 1) times.drop(1) else times
      println(f"[qtime] $name%-18s iters=${times.map(t => f"$t%.2f").mkString("[", ",", "]")} " +
        f"min_warm=${warm.min}%.2f shufW=${l.shuffleWrite.get / 1048576.0}%.1fMB " +
        f"compiles=$cFirst+$cWarm compileMs=$compileMs%.0f " +
        f"load=${java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage}%.1f")
    }
    spark.stop()
  }
}
