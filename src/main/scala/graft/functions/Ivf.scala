package graft.functions

import graft.plans.ArrayDot.array_dot
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor: a coarse
  * quantizer partitions the corpus into cells; queries probe only the
  * `nprobe` nearest cells and rerank candidates exactly.
  *
  * Scale design: centroids are trained with Lloyd iterations on a
  * deterministic driver-side sample (centroid table is tiny — k ×
  * dim doubles — and broadcast everywhere it is used); cell
  * assignment is one codegen'd argmax over k dot products per row;
  * the probe join is an equi-join on cell id, so candidate volume is
  * ~nprobe/k of the corpus. All vectors are unit-normalized up front
  * → cosine ≡ dot.
  */
object Ivf {


  /** Deterministic k-means on a driver-side sample (hash-ordered, so
    * it is spread across the corpus rather than its head): seeds are k
    * stride-spaced sample vectors, then `iters` Lloyd steps. Returns
    * unit-normalized centroids.
    */
  def trainCentroids(df: DataFrame, idCol: String, vecCol: String,
                     k: Int, iters: Int = 5, sampleN: Int = 4096): Array[Array[Double]] = {
    // deterministic pseudo-random sample: order by a hash of the id
    // (NOT by id — the head of the corpus may be content-correlated,
    // e.g. one ingest batch, which would train head-biased centroids).
    // Similarity.normalized materializes the norm once per vector (a
    // naive transform-lambda normalization re-evaluates the dot per
    // element, O(dim^2)).
    val sample: Array[Array[Double]] = Similarity
      .normalized(df.orderBy(xxhash64(col(idCol))).limit(sampleN), vecCol)
      .select(col(vecCol))
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.length >= k, s"need ≥ $k sample vectors, got ${sample.length}")
    val dim = sample.head.length
    var centroids = Array.tabulate(k)(c => sample(c * sample.length / k).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k, dim)(0.0)
      val counts = Array.fill(k)(0)
      sample.foreach { v =>
        var best = 0; var bestDot = Double.MinValue
        var c = 0
        while (c < k) {
          var d = 0.0; var j = 0
          while (j < dim) { d += v(j) * centroids(c)(j); j += 1 }
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
        counts(best) += 1
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c)
        else {
          val m = sums(c).map(_ / counts(c))
          val n = math.sqrt(m.map(x => x * x).sum)
          if (n == 0) centroids(c) else m.map(_ / n)
        }
      }
    }
    centroids
  }

  /** Per-centroid dot products as an unrolled column array (k is a
    * plan-time constant; each element is one codegen'd array_dot).
    */
  private def centroidDots(vecN: Column, centroids: Array[Array[Double]]): Column =
    array(centroids.map(c => array_dot(vecN, typedLit(c.toSeq))): _*)

  /** Nearest-cell assignment (argmax of centroid dots). Replaces
    * `vecCol` with its unit-normalized double form (norm computed
    * once per vector) and materializes the dots array in its own
    * column so argmax doesn't evaluate the k dot products twice
    * (array_position + array_max would each re-evaluate a shared
    * subtree).
    *
    * Zero-norm vectors get cell −1 (no direction → never matches a
    * probe; probes themselves are 0..k−1). The `coalesce` is
    * ALSO a load-bearing plan property: it makes `ivf_cell`
    * non-nullable, so the `IsNotNull(ivf_cell)` an equi-join on the
    * cell infers constant-folds away instead of being pushed below
    * the spread exchange — pushed, it re-computes this whole argmax
    * (with the normalization inlined per dot, ~2k FLOPs × k) per row
    * inside the often single-task scan stage of a small source file:
    * measured 14 s of the old 15.8 s q_ann_ivf total at sf1.
    */
  def assignCells(df: DataFrame, vecCol: String,
                  centroids: Array[Array[Double]]): DataFrame =
    Similarity.normalized(df, vecCol)
      .withColumn("_dots", centroidDots(col(vecCol), centroids))
      .withColumn("ivf_cell",
        coalesce((array_position(col("_dots"), array_max(col("_dots"))) - 1)
          .cast("int"), lit(-1)))
      .drop("_dots")

  /** IVF top-k: probe the `nprobe` nearest cells per query, rerank
    * candidates with exact dot products, keep top k.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              centroids: Array[Array[Double]], nprobe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spread = corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    // assignCells already leaves vecCol unit-normalized
    val cells = assignCells(spread, vecCol, centroids)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
        col("ivf_cell"))
    probeCells(cells, queries, k, centroids, nprobe, idCol, vecCol)
  }

  /** The probe step over an already-assigned cells table
    * (`neighbor_id`, `cvec` unit-normalized, `ivf_cell`) — shared by
    * the train-and-query path and the prebuilt-index path.
    */
  private def probeCells(cells: DataFrame, queries: DataFrame, k: Int,
                         centroids: Array[Array[Double]], nprobe: Int,
                         idCol: String, vecCol: String): DataFrame = {
    // per query: rank cells by centroid dot, explode the top nprobe.
    // Round 19: the probes broadcast is GROUPED per cell (≤ #centroids
    // rows of array<struct<query_id, qvec>>), the cells join becomes
    // 1:1 on ivf_cell (DPP partition pruning unchanged — same equi-
    // join key from the same broadcast subtree), and the per-pair
    // scoring runs inside the DotAgainstSet kernel: one tight loop per
    // corpus vector instead of a row-multiplying join whose per-pair
    // machinery measured ~150 µs/pair (37.7 CPU-s on the
    // q_rrf_fusion_ann dense leg at sf0.1). Same scored multiset: sims
    // are ArrayDot's exact fold (kernel-pinned), r4 applied to the
    // exploded column as before, the self-pair filter moves after the
    // explode (same surviving rows), and topKPerKey's (sim desc, id)
    // tie-break never depended on input order.
    val probeSets = broadcast(Similarity.normalized(queries, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        centroidDots(col(vecCol), centroids).as("cd"))
      .select(col("query_id"), col("qvec"),
        explode(slice(reverse(array_sort(zip_with(
          col("cd"), sequence(lit(0), lit(centroids.length - 1)),
          (d, i) => struct(d.as("d"), i.as("cell"))))), 1, nprobe)).as("probe"))
      .select(col("probe.cell").as("ivf_cell"), col("query_id"), col("qvec"))
      .groupBy("ivf_cell")
      .agg(collect_list(struct(col("query_id"), col("qvec"))).as("qs")))
    val scored = cells.join(probeSets, "ivf_cell")
      .select(col("neighbor_id"),
        explode(graft.plans.ArrayPairsCols.dotAgainstSet(
          col("cvec"), col("qs"))).as("p"))
      .select(col("p.query_id").as("query_id"), col("neighbor_id"),
        EngineNeutral.r4(col("p.sim")).as("sim"))
      .filter(col("query_id") =!= col("neighbor_id"))
    Similarity.topKPerKey(scored, "query_id", k)
  }

  /** Persist a trained index under a committed [[graft.operators.Versioned]]
    * version: `<version>/centroids` (cell → vector) and
    * `<version>/cells` — the corpus with unit-normalized vectors and
    * cell assignments, written `partitionBy(ivf_cell)` so a probe's
    * equi-join on cell id becomes PARTITION PRUNING at the scan: a
    * query touching `nprobe` of `k` cells reads ~nprobe/k of the
    * index files and the rest never leave disk.
    *
    * Layout contract: `path` is a Versioned ROOT — readers must
    * resolve the committed version via [[ivfTopKIndexed]] /
    * [[readCentroids]] (or [[graft.operators.Versioned.resolve]]),
    * never read `path/cells` directly: the live data sits under
    * `path/_v=N/{centroids,cells,delta_*}` and the un-resolved root
    * also holds superseded versions and in-progress writes.
    * [[appendToIndex]] adds `delta_N/cells` dirs inside the current
    * version; every reader in this object unions base + deltas.
    *
    * A 100 TB corpus builds this once (one assignment pass, one
    * write) and every later query/ingest round reads it — the verdict
    * on retrain-per-session was that it re-pays the corpus scan on
    * every call. Vectors are stored normalized so readers skip the
    * norm pass too.
    */
  def writeIndex(corpus: DataFrame, path: String,
                 centroids: Array[Array[Double]],
                 idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // both parts land inside ONE committed version (graft.operators
    // .Versioned): a crash mid-write leaves an unresolvable orphan,
    // never new centroids probing old cell assignments, and concurrent
    // readers keep resolving the previous complete version mid-rebuild
    graft.operators.Versioned.commitNew(spark, path) { v =>
      centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .repartition(1) // k rows — one tiny file
        .write.mode("overwrite").parquet(s"$v/centroids")
      assignCells(corpus, vecCol, centroids)
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
          col("ivf_cell"))
        .write.mode("overwrite").partitionBy("ivf_cell")
        .parquet(s"$v/cells")
    }
  }

  /** Grow a persisted index with a new batch in O(batch), not
    * O(index): the batch is assigned with the EXISTING centroids (the
    * quantizer must not move under an index, or old cell assignments
    * go stale), already-present ids are dropped, and ONLY the new rows
    * land as an atomically-renamed `delta_N/cells` dir (partitioned by
    * `ivf_cell`, same pruning as the base) inside the current version
    * — [[graft.operators.Versioned.commitDelta]]. An hourly 0.1%
    * append costs 0.1% write, not a full-index rewrite; [[compactIndex]]
    * periodically folds deltas back into one base.
    *
    * Shuffle cost is batch-proportional: the dedup is a broadcast
    * semi-join of the (small) batch against the index's id column —
    * the index side is a column-pruned scan that never enters an
    * exchange (IvfSpec pins append shuffle bytes independent of index
    * size). Replayed micro-batches are idempotent via that same
    * anti-join: an id already in the index (base or any delta) is
    * dropped DETERMINISTICALLY — first delivery wins. A re-delivered
    * id carrying a CHANGED embedding is therefore ignored, never
    * half-applied; vector updates are a rebuild/retrain
    * ([[writeIndex]]), not an append.
    *
    * Single-writer like all Versioned mutations (enforced by the root
    * `_LOCK`): don't overlap appends with a rebuild or compaction.
    */
  def appendToIndex(batch: DataFrame, path: String,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): Unit = {
    val spark = batch.sparkSession
    val dir = indexDir(spark, path)
    val centroids = readCentroidsFrom(spark, dir)
    val add = assignCells(
      batch.repartition(spark.sparkContext.defaultParallelism),
      vecCol, centroids)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
        col("ivf_cell"))
    // ids already present: index-side column-pruned scan, batch side
    // broadcast — the hit set is bounded by the batch, so the second
    // (anti) join broadcasts too; the index never shuffles
    val hits = readCellsFrom(spark, dir).select(col("neighbor_id"))
      .join(broadcast(add.select(col("neighbor_id"))), Seq("neighbor_id"), "left_semi")
    val fresh = add.join(broadcast(hits), Seq("neighbor_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // an all-duplicates replay appends nothing (an empty partitioned
      // dir would also fail schema inference on read)
      if (!fresh.isEmpty)
        graft.operators.Versioned.commitDelta(spark, path, dir) { d =>
          fresh.write.mode("overwrite").partitionBy("ivf_cell")
            .parquet(s"$d/cells")
        }
    } finally { fresh.unpersist(); () }
  }

  /** Fold a version's base + appended deltas back into a single
    * `cells` table in a NEW committed version — the periodic
    * maintenance that keeps [[appendToIndex]]'s read-side union (and
    * its per-delta file overhead) bounded. O(index) by definition;
    * run it at compaction cadence, not per append. Readers mid-fold
    * keep resolving the old version.
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    import spark.implicits._
    graft.operators.Versioned.commitNew(spark, path) { v =>
      // resolved INSIDE commitNew's write callback (under the writer
      // _LOCK, which appendToIndex's commitDelta also takes): a delta
      // committed between planning the fold and taking the lock would
      // otherwise be silently dropped from the compacted version
      val dir = indexDir(spark, path)
      val centroids = readCentroidsFrom(spark, dir)
      val cells = readCellsFrom(spark, dir)
      centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$v/centroids")
      cells.write.mode("overwrite").partitionBy("ivf_cell")
        .parquet(s"$v/cells")
    }
  }

  /** Re-train the coarse quantizer on the GROWN index and rewrite it
    * as a fresh deltaless version: new centroids (`k` may change —
    * more cells as the index grows keeps probe selectivity constant),
    * every stored vector re-assigned and re-partitioned under its NEW
    * cell. The stored vectors are already unit-normalized, so the
    * retrain reads the index, never the source corpus — an O(index)
    * maintenance pass, the answer to quantizer drift that
    * [[appendToIndex]]'s frozen-centroid contract defers.
    *
    * Compaction discipline: the cell set resolves and reads INSIDE
    * commitNew's locked callback (appends racing the retrain are
    * never dropped — commitDelta takes the same root `_LOCK`); the
    * version publishes atomically, so readers mid-retrain keep
    * resolving the old one. Post-retrain probes are exactly
    * [[writeIndex]]-over-the-same-vectors probes (IvfSpec pins the
    * equality). Returns the committed version dir.
    */
  def retrainIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                   k: Int, idCol: String = "vec_id",
                   vecCol: String = "embedding"): String = {
    import spark.implicits._
    graft.operators.Versioned.commitNew(spark, path) { v =>
      val dir = indexDir(spark, path)
      val members = readCellsFrom(spark, dir)
        .select(col("neighbor_id").as(idCol), col("cvec").as(vecCol))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val centroids = trainCentroids(members, idCol, vecCol, k)
        centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
          .toDF("cell", "centroid")
          .repartition(1)
          .write.mode("overwrite").parquet(s"$v/centroids")
        assignCells(members, vecCol, centroids)
          .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
            col("ivf_cell"))
          .write.mode("overwrite").partitionBy("ivf_cell")
          .parquet(s"$v/cells")
      } finally { members.unpersist(); () }
    }
  }

  /** The committed version dir of a persisted index at `path`. */
  private[functions] def indexDir(spark: org.apache.spark.sql.SparkSession,
                                  path: String): String =
    graft.operators.Versioned.committed(spark, path,
      "index (Ivf.writeIndex or Pq.writeIndex)")

  /** Reload a persisted index's centroids (tiny: k × dim doubles). */
  def readCentroids(spark: org.apache.spark.sql.SparkSession,
                    path: String): Array[Array[Double]] =
    readCentroidsFrom(spark, indexDir(spark, path))

  /** The load from an already-resolved version dir — shared by every
    * path that must read multiple index parts from ONE version.
    */
  private[functions] def readCentroidsFrom(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): Array[Array[Double]] =
    spark.read.parquet(s"$dir/centroids")
      .orderBy("cell")
      .collect()
      .map(_.getSeq[Double](1).toArray)

  /** The full cells table of a resolved version: base ∪ committed
    * appended deltas, one typed scan per dir (no schema-inference
    * job; see [[graft.operators.Versioned.scan]] for why partitioned
    * tables keep a branch per dir). Filters on `ivf_cell` push into
    * every branch's scan, so partition pruning survives — each delta
    * is partitioned by cell exactly like the base. Plan size grows
    * linearly in delta count; [[compactIndex]] bounds it.
    */
  private[functions] def readCellsFrom(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.operators.Versioned.readTable(spark, dir, "cells")

  /** IVF top-k over a prebuilt index at `path` — no training, no
    * assignment pass; the cells scan (base + deltas) is pruned to the
    * probed partitions.
    */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                     queries: DataFrame, k: Int, nprobe: Int = 4,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val dir = indexDir(spark, path)
    val centroids = readCentroidsFrom(spark, dir)
    probeCells(readCellsFrom(spark, dir), queries, k, centroids, nprobe, idCol, vecCol)
  }
}
