package graft.examples

import graft.functions.Dedup
import org.apache.spark.sql.functions._

/** Scale-stress harness for the dedup path: run minhash candidates +
  * exact-jaccard verify over an arbitrary documents parquet and print
  * timings/counts. Used to check the scaling curve beyond the driver
  * test sizes (e.g. a 10× corpus in /tmp).
  *
  *   sbt "runMain graft.examples.DedupStress /tmp/stress_docs.parquet"
  */
object DedupStress {
  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse("/root/testdata/sf0.1/documents.parquet")
    val spark = graft.Sessions.builder(32, "graft-dedup-stress").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(path)
    println(s"docs: ${docs.count()}")

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    val cands = Dedup.minhashCandidates(docs, "doc_id", "text")
    val nCands = time("minhash candidates")(cands.filter(col("est_jaccard") >= 0.5).count())
    println(s"candidate pairs (est>=0.5): $nCands")

    val verified = Dedup.ngramJaccard(docs, cands, "doc_id", "text")
      .filter(col("jaccard") >= 0.8)
    val nVer = time("exact jaccard verify")(verified.count())
    println(s"verified near-dups (jaccard>=0.8): $nVer")

    val nSim = time("simhash pairs")(
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3).count())
    println(s"simhash pairs (hamming<=3): $nSim")
    spark.stop()
  }
}
