package graft.examples

/** Boilerplate-skew stress for the span/dedup/decontam family
  * (VERDICT r9 ask #5): runs the family's gated queries against a
  * SKEWED corpus — [[ScaleUp]]'s skew mode plants one license-header
  * span in p% of documents and makes source sizes Zipfian — and
  * reports, per query, wall time plus the widest stage's task-time
  * distribution (n, median, max, max/median). The generator's
  * near-uniform span df is why the r9 window-skew family was never
  * caught by the growth pins; this main measures the corpus shape
  * those operators exist for.
  *
  * The family is skew-safe by construction ([[graft.functions.Dedup
  * .joinKeyStats]]: map-side-combinable groupBy + merge-join back, so
  * a span in millions of docs collapses on the mappers), and this
  * harness turns that claim into a measured max/median task ratio.
  *
  *   sbt "runMain graft.examples.ScaleUp /root/testdata/sf0.1 tmp/sf0.1skew 1 60"
  *   sbt "runMain graft.examples.SkewStress tmp/sf0.1skew"
  */
object SkewStress {
  /** The gated queries whose plans touch span/shingle/segment document
    * frequency — the shapes boilerplate skew attacks.
    */
  val Family: Seq[String] = Seq(
    "q_span_dedup", "q_span_dup_frac", "q_span_trim", "q_span_max_run",
    "q_source_leakage", "q_decontam_overlap", "q_dedup_segments",
    "q_ngram_jaccard", "q_containment", "q_curate_e2e",
    // wave-10 arrivals whose plans touch shingle df: the planted
    // boilerplate span's shingles are the HIGHEST-df keys, which
    // rare-first prefix ordering pushes out of q_simjoin's prefixes
    // (the PPJoin scale story, measured); q_triangles rides the
    // df-banded edge machinery, so the planted span must be excluded
    // by the maxDf guard rather than densify the graph
    "q_simjoin", "q_triangles",
    // wave-11 arrivals: the planted span makes its eight tokens the
    // corpus's mega-count vocabulary entries — q_vocab_coverage's
    // count aggregation must collapse them map-side and the prefix
    // scan must spread the vocab rows; q_novelty and
    // q_clustering_coef ride the same shingle-df machinery as
    // jaccard/triangles; q_phrase_search's probe IS the planted span's
    // top shingle under skew — the per-position match must stay
    // hash-vs-broadcast with doc-bounded aggregation
    "q_vocab_coverage", "q_novelty", "q_clustering_coef", "q_phrase_search")

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/repo/tmp/sf0.1skew"
    val runs = if (args.length > 1) args(1).toInt else 2
    val spark = graft.Sessions.builder(
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-skew-stress")
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val durs = new scala.collection.mutable.HashMap[
      Int, scala.collection.mutable.ArrayBuffer[Long]]
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        durs.synchronized {
          durs.getOrElseUpdate(t.stageId,
            new scala.collection.mutable.ArrayBuffer[Long]) += t.taskInfo.duration
        }
    })

    Family.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      var wall = Double.MaxValue
      (1 to runs).foreach { _ =>
        durs.synchronized(durs.clear())
        val t0 = System.nanoTime()
        fn(spark, dir).collect()
        wall = math.min(wall, (System.nanoTime() - t0) / 1e9)
      }
      // widest stage of the LAST (warm) run: the one a straggler hides in
      val wide = durs.synchronized {
        durs.toSeq.filter(_._2.size >= 8).map { case (sid, ds) =>
          val s = ds.toSeq.sorted
          (sid, s.size, s(s.size / 2), s.last)
        }.sortBy(-_._4).take(2)
      }
      println(f"[skewstress] $name%-20s ${wall}%6.2f s")
      wide.foreach { case (sid, n, med, mx) =>
        println(f"  stage $sid%4d: $n%3d tasks, med ${med}%5d ms, " +
          f"max ${mx}%6d ms, ratio ${mx.toDouble / math.max(med, 1)}%5.1f x")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
