package graft.examples

import org.apache.spark.sql.functions._

/** Sub-phase timing of the IVF train/assign/probe pipeline at an SF
  * dir — the "which piece is the 14 seconds" drill-down used when a
  * whole-query StageProfile shows an unexplained hot stage.
  *
  * Found round 8: the probe equi-join's inferred IsNotNull(ivf_cell)
  * was pushed below the spread exchange, re-computing the whole
  * argmax assignment per row in the single-task scan stage (14 s of
  * q_ann_ivf's 15.8 s at sf1). Fixed by making the cell id
  * non-nullable in [[graft.functions.Ivf.assignCells]]; this harness
  * is the regression lens (ivfTopK ≈ assign + probes + scoring, no
  * 10× residue).
  */
object IvfProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.builder(32, "graft-ivf-probe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/tmp/sf1")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[ivfprobe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val emb = graft.Tables.embeddings(spark, sf)
    t("count")(emb.count())
    val centroids = t("trainCentroids") {
      graft.functions.Ivf.trainCentroids(emb, "vec_id", "embedding", k = 16)
    }
    t("assignCells forced") {
      graft.functions.Ivf.assignCells(emb.repartition(32), "embedding", centroids)
        .agg(sum("ivf_cell")).collect()
    }
    t("ivfTopK full") {
      graft.functions.Ivf.ivfTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
        centroids, nprobe = 4).write.mode("overwrite").format("noop").save()
    }
    t("ivfTopK again") {
      graft.functions.Ivf.ivfTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
        centroids, nprobe = 4).write.mode("overwrite").format("noop").save()
    }
    spark.stop()
  }
}
