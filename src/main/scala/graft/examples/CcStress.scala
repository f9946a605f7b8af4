package graft.examples

import graft.functions.Dedup
import graft.operators.ConnectedComponents
import org.apache.spark.sql.functions._

/** Stress/timing harness for the near-dup clustering path: edges →
  * connected components → clusters, over an arbitrary documents
  * parquet. Edge rule selectable:
  *
  *  - `shingle` (default): exact shared-shingle edges — right for
  *    natural-vocabulary corpora, where duplicate-shared shingles
  *    are globally rare and the df band separates them.
  *  - `minhash`: LSH candidates (est_jaccard ≥ 0.8) — the scale
  *    path, and the right tool for tiny-vocabulary corpora (the
  *    100k stress corpus draws from ~30 words, so EVERY shingle
  *    appears in hundreds of docs and the exact rule's df band
  *    correctly rejects all of them).
  *
  *   sbt "runMain graft.examples.CcStress [docs.parquet] [shingle|minhash]"
  */
object CcStress {
  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse("/root/testdata/sf0.1/documents.parquet")
    val mode = args.drop(1).headOption.getOrElse("shingle")
    val spark = graft.Sessions.builder(32, "graft-cc-stress").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(path)
    println(s"docs: ${docs.count()}")

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    (1 to 2).foreach { i =>
      val edges =
        if (mode == "minhash")
          Dedup.minhashCandidates(docs, "doc_id", "text")
            .filter(col("est_jaccard") >= 0.8)
            .select(col("id_a"), col("id_b"))
        else Dedup.sharedShingleEdges(docs, "doc_id", "text",
          shingleK = 3, minShared = 5, minDf = 2, maxDf = 20)
      val nEdges = time(s"edge generation (run $i)")(edges.count())
      val comps = time(s"label propagation (run $i)") {
        ConnectedComponents.labelPropagation(
          docs.select(col("doc_id").as("id")), edges)
      }
      val nClusters = time(s"cluster agg (run $i)") {
        val n = comps.groupBy("comp")
          .agg(count(lit(1)).as("n_docs"))
          .filter(col("n_docs") > 1).count()
        comps.unpersist()
        n
      }
      println(s"  edges: $nEdges, non-trivial clusters: $nClusters")
    }
    spark.stop()
  }
}
