package graft.functions

import graft.plans.ArrayDot.array_dot
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization ANN: each unit-normalized vector is split
  * into `m` subvectors, each encoded as the index of its nearest
  * per-subspace centroid — compressing a dim-double vector to `m`
  * small ints (64 dims × 8 bytes → 8 codes, a 64× memory cut). A
  * query scores candidates by Asymmetric Distance Computation: one
  * m×ksub table of subspace dots per query, then each candidate's
  * approximate similarity is `m` table lookups instead of a full
  * dot product.
  *
  * Scale design: codebooks train on the same deterministic
  * hash-ordered sample as IVF and broadcast (m × ksub × dim/m
  * doubles — tiny); encoding is per-row column work inside the scan
  * stage; the ADC scan shuffles nothing and the top-k rides the
  * native bounded-heap operator; optional exact reranking touches
  * only `rerankFactor·k` candidates per query. At 100 TB the codes
  * table IS the index you keep hot — the raw vectors page in only
  * for the rerank join. Compose with [[Ivf]] cells when candidate
  * pruning (not just compression) is needed.
  */
object Pq {

  /** Per-subspace k-means codebooks on a deterministic sample:
    * `codebooks(s)(c)` is centroid `c` of subspace `s` (length
    * dim/m). Subvectors are NOT re-normalized — PQ approximates the
    * full dot as the sum of subspace dots, which only holds in the
    * original coordinates.
    */
  def trainCodebooks(df: DataFrame, idCol: String, vecCol: String,
                     m: Int, ksub: Int, iters: Int = 5,
                     sampleN: Int = 4096): Array[Array[Array[Double]]] = {
    val sample: Array[Array[Double]] = Similarity
      .normalized(df.orderBy(xxhash64(col(idCol))).limit(sampleN), vecCol)
      .select(col(vecCol))
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "empty training sample")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    require(sample.length >= ksub, s"need ≥ $ksub sample vectors, got ${sample.length}")
    val sub = dim / m
    Array.tabulate(m) { s =>
      val vs = sample.map(v => java.util.Arrays.copyOfRange(v, s * sub, (s + 1) * sub))
      var cents = Array.tabulate(ksub)(c => vs(c * vs.length / ksub).clone())
      for (_ <- 0 until iters) {
        val sums = Array.fill(ksub, sub)(0.0)
        val counts = Array.fill(ksub)(0)
        vs.foreach { v =>
          val best = nearest(v, cents)
          var j = 0
          while (j < sub) { sums(best)(j) += v(j); j += 1 }
          counts(best) += 1
        }
        cents = Array.tabulate(ksub) { c =>
          if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c))
        }
      }
      cents
    }
  }

  /** Nearest centroid by L2 (the PQ training metric — minimizing
    * subspace reconstruction error, which bounds the ADC dot error).
    */
  private def nearest(v: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var d = 0.0; var j = 0
      while (j < v.length) { val t = v(j) - cents(c)(j); d += t * t; j += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Adds `pq_code` (array<int>, length m): per-subspace nearest
    * codebook index by L2 — argmax of `dot − ‖c‖²/2` (equivalent
    * ordering) inside the single codegen'd [[graft.plans.PqEncode]]
    * loop nest. Leaves vecCol unit-normalized.
    */
  def encode(df: DataFrame, vecCol: String,
             codebooks: Array[Array[Array[Double]]]): DataFrame =
    // one custom expression, not m×ksub composed array_dots: the
    // composed form's several-thousand-node tree cost ~2 s of
    // analysis/optimization per query before any data moved
    Similarity.normalized(df, vecCol)
      .withColumn("pq_code",
        graft.plans.PqEncode.pq_encode(col(vecCol), codebooks))

  /** IVF+PQ: coarse cells prune candidates to ~nprobe/cells of the
    * corpus (the [[Ivf]] equi-join), PQ codes score the survivors by
    * ADC, and the shortlist reranks exactly — the standard
    * two-level ANN index shape: at 100 TB the cell-partitioned codes
    * table is the hot index (codes are ~1% of the raw vectors) and
    * raw vectors page in only for the rerank.
    */
  /** Broadcast probe table for IVF+PQ queries: one row per
    * (query, probed cell), carrying the normalized query vector and
    * its ADC lookup table.
    */
  private def ivfPqProbes(queries: DataFrame,
                          centroids: Array[Array[Double]],
                          codebooks: Array[Array[Array[Double]]],
                          nprobe: Int, idCol: String, vecCol: String): DataFrame = {
    val qn = Similarity.normalized(queries, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("cd", array(centroids.map(c =>
        array_dot(col("qvec"), typedLit(c.toSeq))): _*))
      .withColumn("qt", graft.plans.PqAdcTable.pq_adc_table(col("qvec"), codebooks))
    broadcast(qn
      .select(col("query_id"), col("qvec"), col("qt"),
        explode(slice(reverse(array_sort(zip_with(
          col("cd"), sequence(lit(0), lit(centroids.length - 1)),
          (d, i) => struct(d.as("d"), i.as("cell"))))), 1, nprobe)).as("probe"))
      .select(col("query_id"), col("qvec"), col("qt"),
        col("probe.cell").as("ivf_cell")))
  }

  /** `Σ_s qt[s][code[s]]` — unrolled ADC lookups, no HOF. */
  private def adcSim(m: Int): Column =
    (0 until m).map(s =>
      element_at(element_at(col("qt"), s + 1),
        element_at(col("pq_code"), s + 1) + 1)).reduce(_ + _)

  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                centroids: Array[Array[Double]],
                codebooks: Array[Array[Array[Double]]],
                nprobe: Int = 4, rerankFactor: Int = 4,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spread = corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    // cell-assign + PQ-encode the corpus in one pass over the scan
    val coded = encode(Ivf.assignCells(spread, vecCol, centroids), vecCol, codebooks)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
        col("ivf_cell"), col("pq_code"))
    // per query: top-nprobe cells (like Ivf.ivfTopK) + the ADC table
    val probes = ivfPqProbes(queries, centroids, codebooks, nprobe, idCol, vecCol)
    val scored = coded.join(probes, "ivf_cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cvec"), col("qvec"),
        adcSim(codebooks.length).as("adc_sim"))
    val shortlist = graft.plans.TopKPerKey.topK(scored, Seq("query_id"),
      Seq("adc_sim" -> true, "neighbor_id" -> false), k = rerankFactor * k)
    val exact = shortlist.select(col("query_id"), col("neighbor_id"),
      EngineNeutral.r4(array_dot(col("qvec"), col("cvec"))).as("sim"))
    Similarity.topKPerKey(exact, "query_id", k)
  }

  /** Persist a trained IVF+PQ index under a committed version dir
    * ([[graft.operators.Versioned]] — crash-safe, reader-safe):
    *
    *  - `codebooks`: (subspace, cell, centroid) — m×ksub tiny rows
    *  - `centroids`: the coarse IVF centroids (cell, centroid)
    *  - `codes/`  : (neighbor_id, pq_code) partitioned by `ivf_cell` —
    *    the HOT index: ~1% of the raw vectors, what a 100 TB
    *    deployment keeps on fast storage
    *  - `vectors/`: (neighbor_id, cvec unit-normalized) partitioned by
    *    `ivf_cell` — the cold rerank side, read only for shortlist
    *    rows in probed cells
    *
    * One assignment+encode pass over the corpus feeds both tables.
    */
  def writeIndex(corpus: DataFrame, path: String,
                 centroids: Array[Array[Double]],
                 codebooks: Array[Array[Array[Double]]],
                 idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    graft.operators.Versioned.commitNew(spark, path) { v =>
      codebooks.zipWithIndex.flatMap { case (cb, s) =>
        cb.zipWithIndex.map { case (c, i) => (s, i, c.toSeq) }
      }.toSeq.toDF("subspace", "cell", "centroid")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$v/codebooks")
      centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$v/centroids")
      // spread to full parallelism like every query path does:
      // assignCells+encode is the expensive part of index build and
      // must not serialize on a single-row-group source
      val spread = corpus.repartition(
        corpus.sparkSession.sparkContext.defaultParallelism)
      val coded = encode(Ivf.assignCells(spread, vecCol, centroids), vecCol, codebooks)
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
          col("ivf_cell"), col("pq_code"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        coded.select("neighbor_id", "pq_code", "ivf_cell")
          .write.mode("overwrite").partitionBy("ivf_cell").parquet(s"$v/codes")
        coded.select("neighbor_id", "cvec", "ivf_cell")
          .write.mode("overwrite").partitionBy("ivf_cell").parquet(s"$v/vectors")
      } finally coded.unpersist()
    }
  }

  /** Grow a persisted IVF+PQ index in O(batch): assign + encode the
    * batch with the EXISTING centroids/codebooks, drop ids already in
    * the index (broadcast semi/anti joins — the index's id column is
    * scanned but never shuffled), and commit the new rows' codes AND
    * rerank vectors under ONE atomically-renamed `delta_N` dir
    * ([[graft.operators.Versioned.commitDelta]]), so a crash can never
    * land codes without their rerank vectors. Replays are idempotent —
    * first delivery of an id wins, deterministically; vector updates
    * are a rebuild ([[writeIndex]]), not an append. Same single-writer
    * `_LOCK` contract as every Versioned mutation.
    */
  def appendToIndex(batch: DataFrame, path: String,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): Unit = {
    val spark = batch.sparkSession
    val dir = Ivf.indexDir(spark, path)
    val centroids = Ivf.readCentroidsFrom(spark, dir)
    val codebooks = readCodebooksFrom(spark, dir)
    val add = encode(Ivf.assignCells(
      batch.repartition(spark.sparkContext.defaultParallelism),
      vecCol, centroids), vecCol, codebooks)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
        col("ivf_cell"), col("pq_code"))
    val hits = readCodesFrom(spark, dir).select(col("neighbor_id"))
      .join(broadcast(add.select(col("neighbor_id"))), Seq("neighbor_id"), "left_semi")
    val fresh = add.join(broadcast(hits), Seq("neighbor_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (!fresh.isEmpty)
        graft.operators.Versioned.commitDelta(spark, path, dir) { d =>
          fresh.select("neighbor_id", "pq_code", "ivf_cell")
            .write.mode("overwrite").partitionBy("ivf_cell").parquet(s"$d/codes")
          fresh.select("neighbor_id", "cvec", "ivf_cell")
            .write.mode("overwrite").partitionBy("ivf_cell").parquet(s"$d/vectors")
        }
    } finally { fresh.unpersist(); () }
  }

  /** Fold base + deltas into a fresh single-base version (codes and
    * vectors together — one commit). O(index); compaction cadence.
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    import spark.implicits._
    graft.operators.Versioned.commitNew(spark, path) { v =>
      // resolved and listed INSIDE commitNew's write callback (under
      // the writer _LOCK, which appendToIndex's commitDelta also
      // takes): a delta committed between planning the fold and taking
      // the lock would otherwise be silently dropped (Ivf.compactIndex)
      val dir = Ivf.indexDir(spark, path)
      val centroids = Ivf.readCentroidsFrom(spark, dir)
      val codebooks = readCodebooksFrom(spark, dir)
      codebooks.zipWithIndex.flatMap { case (cb, s) =>
        cb.zipWithIndex.map { case (c, i) => (s, i, c.toSeq) }
      }.toSeq.toDF("subspace", "cell", "centroid")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$v/codebooks")
      centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$v/centroids")
      readCodesFrom(spark, dir)
        .write.mode("overwrite").partitionBy("ivf_cell").parquet(s"$v/codes")
      readVectorsFrom(spark, dir)
        .write.mode("overwrite").partitionBy("ivf_cell").parquet(s"$v/vectors")
    }
  }

  /** Codes table of a resolved version: base ∪ appended deltas, cell
    * partition pruning intact (see [[Ivf.readCellsFrom]]).
    */
  private def readCodesFrom(spark: org.apache.spark.sql.SparkSession,
                            dir: String): DataFrame =
    graft.operators.Versioned.readTable(spark, dir, "codes")

  /** Rerank-vectors table of a resolved version: base ∪ deltas. */
  private def readVectorsFrom(spark: org.apache.spark.sql.SparkSession,
                              dir: String): DataFrame =
    graft.operators.Versioned.readTable(spark, dir, "vectors")

  /** Reload a persisted index's codebooks bit-exactly. */
  def readCodebooks(spark: org.apache.spark.sql.SparkSession,
                    path: String): Array[Array[Array[Double]]] =
    readCodebooksFrom(spark, Ivf.indexDir(spark, path))

  private def readCodebooksFrom(spark: org.apache.spark.sql.SparkSession,
                                dir: String): Array[Array[Array[Double]]] =
    spark.read.parquet(s"$dir/codebooks")
      .orderBy("subspace", "cell")
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(_._2))
      .toArray

  /** IVF+PQ top-k over a prebuilt index at `path` — no training, no
    * corpus re-encode. The codes scan prunes to probed cells; the
    * rerank joins the tiny broadcast shortlist back to the vectors
    * table (also cell-pruned), so raw vectors are read only where a
    * shortlist row might live.
    */
  def ivfPqTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                       queries: DataFrame, k: Int, nprobe: Int = 4,
                       rerankFactor: Int = 4, idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    // resolve ONCE so centroids/codebooks/codes/vectors come from the
    // same committed version even if a writer commits mid-query
    val dir = Ivf.indexDir(spark, path)
    val centroids = Ivf.readCentroidsFrom(spark, dir)
    val codebooks = readCodebooksFrom(spark, dir)
    val probes = ivfPqProbes(queries, centroids, codebooks, nprobe, idCol, vecCol)
    val scored = readCodesFrom(spark, dir).join(probes, "ivf_cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("ivf_cell"), col("query_id"), col("neighbor_id"),
        col("qvec"), adcSim(codebooks.length).as("adc_sim"))
    val shortlist = graft.plans.TopKPerKey.topK(scored, Seq("query_id"),
      Seq("adc_sim" -> true, "neighbor_id" -> false), k = rerankFactor * k)
    val exact = readVectorsFrom(spark, dir)
      .join(broadcast(shortlist), Seq("ivf_cell", "neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        EngineNeutral.r4(array_dot(col("qvec"), col("cvec"))).as("sim"))
    Similarity.topKPerKey(exact, "query_id", k)
  }

  /** PQ top-k with ADC scoring: every corpus row costs m table
    * lookups; `rerankFactor·k` ADC survivors per query are reranked
    * with exact dots so reported sims are exact (and recall recovers
    * the quantization loss).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             codebooks: Array[Array[Array[Double]]], rerankFactor: Int = 4,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spread = corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    val coded = encode(spread, vecCol, codebooks)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"), col("pq_code"))
    // per query: the ADC table — qt(s)(c) = dot(q_s, codebook_s[c])
    val qs = broadcast(Similarity.normalized(queries, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        graft.plans.PqAdcTable.pq_adc_table(col(vecCol), codebooks).as("qt")))
    val scored = coded.crossJoin(qs)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cvec"), col("qvec"),
        adcSim(codebooks.length).as("adc_sim"))
    val shortlist = graft.plans.TopKPerKey.topK(scored, Seq("query_id"),
      Seq("adc_sim" -> true, "neighbor_id" -> false), k = rerankFactor * k)
    val exact = shortlist.select(col("query_id"), col("neighbor_id"),
      EngineNeutral.r4(array_dot(col("qvec"), col("cvec"))).as("sim"))
    Similarity.topKPerKey(exact, "query_id", k)
  }
}
