package graft.examples

import graft.functions.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling curve for the fourth-wave text operators (inverted index,
  * bigram PMI, token entropy) plus PageRank's edge build: runs each at
  * 1× and N× (replicated corpus with shifted ids) and prints both
  * times. Near-linear growth means the plans are shuffle-proportional
  * with no quadratic step hiding at test scale.
  *
  *   sbt "runMain graft.examples.TextStress [replication]"
  */
object TextStress {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val spark = graft.Sessions.builder(32, "graft-text-stress").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs1 = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source")
    val n1 = docs1.count()
    // replicate with shifted ids and per-copy source suffix: same text
    // distribution, disjoint doc ids, `mult`× the token volume
    val docsN = (0 until mult).map { i =>
      docs1.select((col("doc_id") + lit(i.toLong * 1000000L)).as("doc_id"),
        col("text"), concat(col("source"), lit(s"_$i")).as("source"))
    }.reduce(_ union _).repartition(32).persist()
    println(s"docs 1x: $n1, ${mult}x: ${docsN.count()}")

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%6.1f s  (rows=$n)")
    }

    def invertedIndex(docs: DataFrame): Long = {
      val pairs = docs
        .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("tok"))
        .distinct()
      val dfc = pairs.groupBy("tok").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 5)
      val top = graft.plans.TopKPerKey.topK(pairs, Seq("tok"),
        Seq("doc_id" -> false), k = 20)
      dfc.join(top.groupBy("tok")
          .agg(count(lit(1)).as("np")), "tok").count()
    }

    def pmi(docs: DataFrame): Long = {
      val ts = Dedup.tokens(col("text"))
      val pairs = docs.select(ts.as("ts")).filter(size(col("ts")) >= 2)
        .select(explode(zip_with(
          slice(col("ts"), lit(1), size(col("ts")) - 1),
          slice(col("ts"), lit(2), size(col("ts")) - 1),
          (x, y) => struct(x.as("a"), y.as("b")))).as("pr"))
        .select(col("pr.a").as("a"), col("pr.b").as("b"))
      pairs.groupBy("a", "b").agg(count(lit(1)).as("n")).count()
    }

    def entropy(docs: DataFrame): Long =
      docs.select(col("source"), explode(Dedup.tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
        .groupBy("source").agg(sum("c"), count(lit(1)))
        .count()

    // maxDf must scale with replication: every shingle's df is
    // multiplied by `mult` (the copies are literal duplicates), so a
    // fixed ceiling would discard every shingle and report 0 edges.
    // Note the replicated corpus makes edge COUNT inherently
    // super-linear — each doc gains mult−1 exact clones, so clone
    // pairs alone are ~C(mult,2)·docs. The operator's bucket caps are
    // what keep that from being all-pairs over the corpus.
    def edges(maxDf: Int)(docs: DataFrame): Long =
      Dedup.sharedShingleEdges(docs, "doc_id", "text",
        shingleK = 3, minShared = 5, minDf = 2, maxDf = maxDf).count()

    for ((label, f1, fN) <- Seq[(String, DataFrame => Long, DataFrame => Long)](
        ("inverted index", invertedIndex, invertedIndex),
        ("bigram pmi", pmi, pmi),
        ("entropy", entropy, entropy),
        ("shingle edges", edges(20), edges(20 * mult)))) {
      f1(docs1.limit(100)) // warm codegen
      time(f"$label%-15s 1x")(f1(docs1))
      time(f"$label%-15s ${mult}x")(fN(docsN))
    }
    spark.stop()
  }
}
