package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Persisted-index lifecycle for semantic deduplication (the SemDeDup
  * recipe behind `q_semdedup`, Abbas et al. 2023): build the cluster
  * index once, then deduplicate arriving batches against it in
  * O(batch) — the same build/probe/append/compact split the IVF, BM25
  * and importance-model families use ([[Ivf]], [[Retrieval]],
  * [[Selection]]).
  *
  * Index layout under a [[graft.operators.Versioned]] root:
  * `centroids` (trained coarse quantizer — [[Ivf.trainCentroids]]'s
  * deterministic k-means; the quantizer must not move under an index)
  * and `members` — EVERY ingested vector (id, unit vector), written
  * `partitionBy(cluster)` so a batch's within-cluster probe join
  * prunes to the clusters the batch actually touches. Members include
  * vectors that were themselves judged duplicates: the gated batch
  * rule drops a vector iff sim ≥ τ to ANY smaller-id vector in its
  * cluster (kept or not), and keeping the full member set is what
  * makes the incremental verdicts EQUAL a batch rebuild over the
  * union (SemdedupSpec pins it) instead of drifting into
  * greedy-survivor semantics.
  *
  * Scale shape: centroids are a bounded broadcast (k × dim); the
  * member probe is a per-cluster equi-join the batch side enters
  * broadcast-sized (members never shuffle — partition pruning +
  * column-pruned scan); appends commit only ids the index lacks as
  * atomic `delta_N/members` dirs, so checkpoint replays are
  * idempotent (first delivery wins, [[Ivf.appendToIndex]]'s
  * convention). τ is a query-time parameter — the index stores
  * vectors, not verdicts.
  */
object Semdedup {

  /** Assign unit-normalized vectors to their nearest centroid.
    * Returns (idCol, `cluster`, `u` unit vector); zero-norm vectors
    * (no direction) are dropped, mirroring the gated query.
    */
  def assignClusters(vecs: DataFrame, centroids: Array[Array[Double]],
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame =
    Ivf.assignCells(
        vecs.repartition(vecs.sparkSession.sparkContext.defaultParallelism),
        vecCol, centroids)
      .filter(col(vecCol).isNotNull && col("ivf_cell") >= 0)
      .select(col(idCol), col("ivf_cell").as("cluster"), col(vecCol).as("u"))

  /** Train centroids and commit centroids + the full member set as one
    * atomic version. Returns the committed version dir.
    */
  def writeIndex(corpus: DataFrame, path: String, k: Int = 16,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): String = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = Ivf.trainCentroids(corpus, idCol, vecCol, k)
    graft.operators.Versioned.commitNew(spark, path) { v =>
      centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$v/centroids")
      assignClusters(corpus, centroids, idCol, vecCol)
        .write.mode("overwrite").partitionBy("cluster")
        .parquet(s"$v/members")
    }
  }

  /** Centroids of a resolved version dir (tiny: k × dim doubles). */
  def readCentroidsFrom(spark: SparkSession, dir: String): Array[Array[Double]] =
    spark.read.parquet(s"$dir/centroids")
      .orderBy("cell").collect().map(_.getSeq[Double](1).toArray)

  /** Member table of a resolved version: base ∪ committed deltas.
    * Cluster filters push into every dir's pruned scan
    * ([[Ivf.readCellsFrom]]'s property).
    */
  def readMembersFrom(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Versioned.readTable(spark, dir, "members")

  /** Deduplicate one batch against the index: (idCol, cluster,
    * dropped) where dropped ⇔ some SMALLER-id vector — indexed or
    * earlier in this batch — shares the cluster with r4-rounded
    * cosine ≥ τ. With the full member set in the index this is
    * EXACTLY the gated batch rule evaluated on (index ∪ batch),
    * restricted to batch rows; batch rows whose id is already indexed
    * score against the OTHER members only (a replay must not drop a
    * vector for matching itself).
    *
    * The index side arrives cluster-pruned and column-pruned; the
    * batch side is broadcast (bounded); within-batch pairs join on
    * the cluster id.
    */
  /** Rows above which [[dedupIncrement]] stops force-broadcasting the
    * batch and merge-joins instead. Micro-batches are not inherently
    * bounded — the FIRST batch over a large backlog with no trigger
    * limit can be the whole backlog, and a forced broadcast of it
    * OOMs executors/driver. Override per session with
    * `spark.graft.semdedup.maxBroadcastBatchRows`.
    */
  val DefaultMaxBroadcastBatchRows: Long = 1000000L

  def dedupIncrement(batch: DataFrame, members: DataFrame, tau: Double,
                     centroids: Array[Array[Double]],
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val spark = batch.sparkSession
    val b = assignClusters(batch, centroids, idCol, vecCol)
      .persist(StorageLevel.MEMORY_ONLY)
    try {
      // the count doubles as cache materialization; an oversized batch
      // (backlog-sized first trigger) falls back to a merge join — the
      // broadcast is an optimization for the steady state, never a
      // correctness requirement
      val small = b.count() <= spark.conf
        .get("spark.graft.semdedup.maxBroadcastBatchRows",
          DefaultMaxBroadcastBatchRows.toString).toLong
      val probe = b.select(col("cluster"), col(idCol).as("_bid"), col("u").as("_bu"))
      val vsIndex = members
        .join(if (small) broadcast(probe) else probe.hint("merge"), Seq("cluster"))
        .filter(col(idCol) < col("_bid"))
        .filter(EngineNeutral.r4(Similarity.dot(col("u"), col("_bu"))) >= tau)
        .select(col("_bid").as(idCol)).distinct()
      val a = b.select(col("cluster"), col(idCol).as("_aid"), col("u").as("_au"))
      val vsBatch = a.join(probe, Seq("cluster"))
        .filter(col("_aid") < col("_bid"))
        .filter(EngineNeutral.r4(Similarity.dot(col("_au"), col("_bu"))) >= tau)
        .select(col("_bid").as(idCol)).distinct()
      val dropped = vsIndex.unionByName(vsBatch).distinct()
        .withColumn("_dropped", lit(true))
      b.select(col(idCol), col("cluster"))
        .join(dropped, Seq(idCol), "left")
        .select(col(idCol), col("cluster"),
          coalesce(col("_dropped"), lit(false)).as("dropped"))
        // materialize before the caller unpersists b
        .localCheckpoint(true)
    } finally { b.unpersist(); () }
  }

  /** Grow the member set by O(batch): assign with the EXISTING
    * centroids, drop already-present ids (first delivery wins —
    * replays append nothing), commit the rest as an atomic delta.
    */
  def appendIndex(batch: DataFrame, path: String,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): Unit = {
    val spark = batch.sparkSession
    val dir = graft.operators.Versioned.resolve(spark, path)
      .getOrElse(sys.error(s"no committed semdedup index at $path"))
    val centroids = readCentroidsFrom(spark, dir)
    val add = assignClusters(batch, centroids, idCol, vecCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // oversized batches (backlog-sized first trigger) merge-join
      // instead of broadcasting — same guard as dedupIncrement; `hits`
      // is bounded by the batch, so one verdict covers both joins
      val small = add.count() <= spark.conf
        .get("spark.graft.semdedup.maxBroadcastBatchRows",
          DefaultMaxBroadcastBatchRows.toString).toLong
      val addIds = add.select(col(idCol))
      val hits = readMembersFrom(spark, dir).select(col(idCol))
        .join(if (small) broadcast(addIds) else addIds.hint("merge"),
          Seq(idCol), "left_semi")
      val fresh = add
        .join(if (small) broadcast(hits) else hits.hint("merge"),
          Seq(idCol), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        if (!fresh.isEmpty)
          graft.operators.Versioned.commitDelta(spark, path, dir) { d =>
            fresh.write.mode("overwrite").partitionBy("cluster")
              .parquet(s"$d/members")
          }
      } finally { fresh.unpersist(); () }
    } finally { add.unpersist(); () }
  }

  /** Fold base + deltas into a fresh deltaless version (periodic
    * maintenance; readers mid-fold resolve the old version). The
    * member set is re-read INSIDE commitNew's write callback — under
    * the writer lock — so a delta committed while the fold was being
    * planned is included, never silently dropped.
    */
  def compactIndex(spark: SparkSession, path: String): Unit =
    graft.operators.Versioned.commitNew(spark, path) { v =>
      val dir = graft.operators.Versioned.resolve(spark, path)
        .getOrElse(sys.error(s"no committed semdedup index at $path"))
      spark.read.parquet(s"$dir/centroids")
        .repartition(1).write.mode("overwrite").parquet(s"$v/centroids")
      readMembersFrom(spark, dir)
        .write.mode("overwrite").partitionBy("cluster")
        .parquet(s"$v/members")
    }

  /** Re-train the coarse quantizer on the GROWN member set and rewrite
    * the index as a fresh deltaless version: new centroids (`k` may
    * grow with the index — SemDeDup's k ≈ √n guidance), every member
    * re-assigned and re-partitioned under its NEW cluster. A
    * long-lived index whose ingest distribution drifted away from the
    * original training sample gets its cluster balance back without
    * replaying the corpus — members already store the unit vectors,
    * so the retrain reads the index, not the source tables.
    *
    * Compaction discipline throughout: the member set resolves and
    * reads INSIDE commitNew's locked callback, so an append racing
    * the retrain is never silently dropped; the new version publishes
    * atomically and readers mid-retrain keep resolving the old one.
    * Post-retrain verdicts are exactly [[writeIndex]]-over-the-same-
    * member-set verdicts (SemdedupSpec pins the equality). Returns
    * the committed version dir.
    */
  def retrainIndex(spark: SparkSession, path: String, k: Int = 16,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): String =
    graft.operators.Versioned.commitNew(spark, path) { v =>
      import spark.implicits._
      val dir = graft.operators.Versioned.resolve(spark, path)
        .getOrElse(sys.error(s"no committed semdedup index at $path"))
      val members = readMembersFrom(spark, dir)
        .select(col(idCol), col("u").as(vecCol))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val centroids = Ivf.trainCentroids(members, idCol, vecCol, k)
        centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
          .toDF("cell", "centroid")
          .repartition(1)
          .write.mode("overwrite").parquet(s"$v/centroids")
        assignClusters(members, centroids, idCol, vecCol)
          .write.mode("overwrite").partitionBy("cluster")
          .parquet(s"$v/members")
      } finally { members.unpersist(); () }
    }
}
