package graft.examples

import graft.functions.{Ivf, Similarity}
import org.apache.spark.sql.functions._

/** Scale-stress harness for the similarity-search path over an
  * arbitrary embeddings parquet: brute-force vs LSH vs IVF top-k,
  * plus near-dup pairs.
  *
  *   sbt "runMain graft.examples.AnnStress /tmp/stress_emb.parquet"
  */
object AnnStress {
  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse("/root/testdata/sf0.1/embeddings.parquet")
    val spark = graft.Sessions.builder(32, "graft-ann-stress").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val emb = spark.read.parquet(path)
    val queries = emb.filter(col("vec_id") < 20)
    println(s"corpus: ${emb.count()} vectors, 20 queries")

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    val bf = time("brute-force top-10")(
      Similarity.bruteForceTopK(emb, queries, k = 10).collect())
    println(s"  rows: ${bf.length}")

    val lsh = time("LSH top-10 (8 planes)")(
      Similarity.lshTopK(emb, queries, k = 10, planes = 8).collect())
    println(s"  rows: ${lsh.length}")

    val cents = time("IVF train (k=32)")(
      Ivf.trainCentroids(emb, "vec_id", "embedding", k = 32))
    val ivf = time("IVF top-10 (nprobe=4)")(
      Ivf.ivfTopK(emb, queries, k = 10, cents, nprobe = 4).collect())
    println(s"  rows: ${ivf.length}")

    val cbs = time("PQ train (m=8, ksub=64)")(
      graft.functions.Pq.trainCodebooks(emb, "vec_id", "embedding", m = 8, ksub = 64))
    val pq = time("PQ top-10 (ADC + rerank 8)")(
      graft.functions.Pq.pqTopK(emb, queries, k = 10, cbs, rerankFactor = 8).collect())
    println(s"  rows: ${pq.length}")
    val ivfpq = time("IVF+PQ top-10 (nprobe=4, rerank 8)")(
      graft.functions.Pq.ivfPqTopK(emb, queries, k = 10, cents, cbs,
        nprobe = 4, rerankFactor = 8).collect())
    println(s"  rows: ${ivfpq.length}")

    // recall vs brute force (the ground truth)
    def neighborSets(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val truth = neighborSets(bf)
    def recall(rows: Array[org.apache.spark.sql.Row]): Double = {
      val got = neighborSets(rows)
      val per = truth.map { case (q, t) => got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
      per.sum / per.size
    }
    println(f"LSH recall@10: ${recall(lsh)}%.2f   IVF recall@10: ${recall(ivf)}%.2f   " +
      f"PQ recall@10: ${recall(pq)}%.2f   IVF+PQ recall@10: ${recall(ivfpq)}%.2f")

    val nd = time("near-dup pairs (sim>=0.999, 16 planes)")(
      Similarity.embeddingNearDups(emb, minSim = 0.999, planes = 16).count())
    println(s"  pairs: $nd")
    spark.stop()
  }
}
