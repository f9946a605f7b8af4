package graft.examples

/** Convergence probe for the h-index coreness iteration: wall time,
  * round count, and coreness histogram on the gated near-dup graph.
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.examples.KCoreProbe"
  */
object KCoreProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.builder(32, "graft-kcore-probe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val edges = graft.functions.Dedup.sharedShingleEdges(
        graft.Tables.documents(spark, sf), "doc_id", "text",
        shingleK = 3, minShared = 5, minDf = 2, maxDf = 20)
      .select("id_a", "id_b")
      .localCheckpoint(true) // isolate the iteration from the edge build
    val nEdges = edges.count()
    val t0 = System.nanoTime()
    val cor = graft.operators.KCore.coreness(edges)
    val hist = cor.groupBy("coreness").count()
      .orderBy("coreness").collect()
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"edges=$nEdges rounds=${graft.operators.KCore.lastRounds} " +
      f"wall=${wall}%.2fs (iteration only, edge build excluded)")
    hist.foreach(r => println(s"  coreness=${r.get(0)} n=${r.get(1)}"))
    spark.stop()
  }
}
