package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-selection scoring (the DSIR family, Xie et al. 2023): rank
  * raw-pool documents by how target-like their token distribution is,
  * avg over tokens of ln p̂_target − ln p̂_raw with Laplace smoothing
  * over the shared vocabulary.
  *
  * The model is keyed on a FIXED bucket count, not the raw token
  * hash — Xie et al.'s actual recipe (hashed n-gram features): tokens
  * hash into `nBuckets` cells (default 2²⁰), so the (bucket → counts)
  * and (bucket → log-ratio) tables are bounded at ~8-16 MB at ANY
  * corpus size. Without the bound, Heaps' law puts a crawl-scale
  * vocabulary at 10⁸-10⁹ distinct tokens and the score-time broadcast
  * of the log-ratio table dies at exactly the scale this operator
  * exists for. Bucket collisions merge token statistics — the
  * standard hashing-trick trade, shared by the reference recipe.
  *
  * Two faces, the decontamination discipline: [[tokenLogRatios]] +
  * [[scoreAgainst]] compute model and scores in one job (the gated
  * `q_importance` shape), while [[writeImportanceModel]] persists the
  * model under a [[graft.operators.Versioned]] root so ingest rounds
  * score against a FIXED, versioned selection model
  * ([[scoreImportanceIndexed]], `Streams.importanceIngest`) — train
  * the model once on the curated target + raw pools, then score every
  * incoming crawl batch without re-aggregating the training corpora.
  *
  * Persisted layout (the mergeable-partials discipline the lexical
  * index uses): `ids/` (every training doc id — append dedup),
  * `counts/` (h → ct, cr — the additive source of truth), plus the
  * DERIVED `lr/` and `defaults/` caches the deltaless fast path
  * serves. [[appendImportanceModel]] grows the pools by O(batch)
  * count deltas; readers with deltas re-derive from merged counts at
  * BUCKET scale (≤ nBuckets rows); [[compactImportanceModel]] folds
  * deltas and refreshes the caches.
  *
  * Scale shape: one corpus tokenization feeds a single (bucket →
  * target-count, raw-count) aggregate whose exchange the scalar stats
  * row reuses; the log-ratio table is ≤ nBuckets rows and broadcasts
  * at score time; the per-doc aggregation shuffles (id, partial)
  * pairs only. Batch documents may contain tokens in NEITHER training
  * pool — those take the model's `lr_unseen` scalar (both Laplace
  * branches at count 0), carried in the defaults table.
  */
object Selection {

  /** Default model width: 2²⁰ buckets ≈ 8 MB of (bucket, lr) pairs —
    * comfortably under any broadcast threshold, at any corpus size.
    */
  val DefaultBuckets: Int = 1 << 20

  /** Engine-neutral bounded bucket of a token: the low 60 bits of its
    * md5 (15 hex chars — within a signed long) mod `nBuckets`.
    * md5-derived rather than xxhash64 so the DuckDB oracle computes
    * the IDENTICAL bucket: `('0x' || substr(md5(t),1,15))::BIGINT %
    * n`. md5 and conv are codegen'd Catalyst expressions — the cost
    * over xxhash64 is per-token constant, paid once per aggregate.
    */
  def tokenBucket(t: Column, nBuckets: Int): Column =
    pmod(EngineNeutral.md5Long60(t), lit(nBuckets.toLong))

  /** The additive (h → ct, cr) aggregate both faces derive from
    * (h = bounded token bucket, ≤ nBuckets distinct values).
    * Persisted (MEMORY_ONLY, bucket-bounded): within one job the
    * exchange is reused, but the model writer consumes it in SEVERAL
    * write actions, where cross-action exchange reuse does not apply
    * and an unpersisted counts would re-tokenize the corpus per
    * write. The lazily-returned face (tokenLogRatios) follows the
    * family's can't-unpersist-here convention (ngramJaccard's sh);
    * the model writer/appender consume fully inside their commit
    * callbacks and unpersist there. CAVEAT for sessions mixing the
    * two faces on the SAME corpus/args: Spark's cache is keyed by
    * analyzed plan, so the writer's unpersist would also evict a
    * live tokenLogRatios cache of the identical plan — write the
    * model FIRST and derive in-job ratios from readImportanceModel
    * (bit-identical by contract) instead of holding both.
    */
  private def tokenCounts(corpus: DataFrame, textCol: String,
                          isTarget: Column, nBuckets: Int): DataFrame =
    graft.plans.CacheHandles.track("selection.tokenCounts", corpus
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .select(isTarget.as("is_tgt"), explode(Dedup.tokens(col(textCol))).as("t"))
      .select(col("is_tgt"), tokenBucket(col("t"), nBuckets).as("h"))
      .groupBy("h").agg(
        sum(when(col("is_tgt"), 1L).otherwise(0L)).as("ct"),
        sum(when(!col("is_tgt"), 1L).otherwise(0L)).as("cr"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY))

  /** Derive the (lr, defaults) pair from a counts table — the same
    * closed forms whichever face computes them, so indexed scoring is
    * bit-identical to in-job scoring.
    */
  private def lrFromCounts(counts: DataFrame,
                           nBuckets: Int): (DataFrame, DataFrame) = {
    // v = OCCUPIED buckets (the smoothing support), same closed form
    // as the unbucketed model; n_buckets rides the defaults row so a
    // persisted model self-describes its hash space to every reader
    val stats = counts.agg(count(lit(1)).as("v"),
      sum("ct").as("nt"), sum("cr").as("nr"))
    val lr = counts.crossJoin(broadcast(stats))
      .select(col("h"),
        (log((col("ct") + lit(1.0)) / (col("nt") + col("v"))) -
          log((col("cr") + lit(1.0)) / (col("nr") + col("v")))).as("lr"))
    val defaults = stats.select(
      (log(lit(1.0) / (col("nt") + col("v"))) -
        log(lit(1.0) / (col("nr") + col("v")))).as("lr_unseen"),
      col("v"), col("nt"), col("nr"), lit(nBuckets).as("n_buckets"))
    (lr, defaults)
  }

  /** The committed model's bucket count, from its stored defaults row
    * (one-row pruned parquet read — metadata-cheap, delta-independent:
    * deltas inherit the base version's hash space by construction).
    */
  private def storedBuckets(spark: SparkSession, versionDir: String): Int =
    spark.read.parquet(s"$versionDir/defaults")
      .select("n_buckets").first().getInt(0)

  /** (lr, defaults): the per-token log-ratio table
    * (h = xxhash64(token), lr) over the training corpus's vocabulary,
    * and a one-row defaults table (lr_unseen, v, nt, nr) for tokens
    * outside it. `isTarget` splits the corpus into the target
    * distribution (true) and the raw pool (false).
    */
  def tokenLogRatios(corpus: DataFrame, textCol: String,
                     isTarget: Column,
                     nBuckets: Int = DefaultBuckets): (DataFrame, DataFrame) =
    lrFromCounts(tokenCounts(corpus, textCol, isTarget, nBuckets), nBuckets)

  /** Score documents against a log-ratio model: per doc, token count
    * and the r6-rounded mean log-ratio (out-of-vocabulary tokens take
    * `lr_unseen`). The model tables broadcast — ALWAYS legal, because
    * the lr table is bounded by `nBuckets` rows; only the per-doc
    * aggregation shuffles. `nBuckets` must match the model that
    * produced `lr` ([[scoreImportanceIndexed]] reads it from the
    * stored defaults row).
    */
  def scoreAgainst(docs: DataFrame, idCol: String, textCol: String,
                   lr: DataFrame, defaults: DataFrame,
                   nBuckets: Int = DefaultBuckets): DataFrame =
    docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), explode(Dedup.tokens(col(textCol))).as("t"))
      .select(col(idCol), tokenBucket(col("t"), nBuckets).as("h"))
      .join(broadcast(lr), Seq("h"), "left")
      .crossJoin(broadcast(defaults.select("lr_unseen")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        EngineNeutral.roundHalfUp(
          avg(coalesce(col("lr"), col("lr_unseen"))), 6).as("avg_logratio"))

  /** Persist (or atomically refresh) the selection model. Returns the
    * committed version dir. One corpus tokenization total (the counts
    * aggregate is cached across the write actions); `ids/` additionally
    * costs a pruned id-column scan.
    */
  def writeImportanceModel(corpus: DataFrame, idCol: String, textCol: String,
                           isTarget: Column, modelPath: String,
                           nBuckets: Int = DefaultBuckets): String =
    graft.operators.Versioned.commitNew(corpus.sparkSession, modelPath) { dir =>
      corpus.select(col(idCol).as("id")).write.parquet(s"$dir/ids")
      val counts = tokenCounts(corpus, textCol, isTarget, nBuckets)
      try {
        counts.write.parquet(s"$dir/counts")
        val (lr, defaults) = lrFromCounts(counts, nBuckets)
        lr.write.parquet(s"$dir/lr")
        defaults.write.parquet(s"$dir/defaults")
      } finally {
        // unlike the lazy-return faces, every consumer completed above
        // — holding the vocabulary-sized cache past this write would
        // pin one more table per model build in a long-lived session
        counts.unpersist(); ()
      }
    }

  /** Grow the training pools by O(batch): already-trained ids are
    * dropped (semi-then-anti broadcast — the model never shuffles),
    * the surviving docs' (h → ct, cr) counts and ids land as an
    * atomic `delta_N` under the CURRENT version. An all-duplicates
    * replay appends nothing and commits nothing — idempotent on
    * retry. Returns the delta dir, or None when nothing was new.
    */
  def appendImportanceModel(newDocs: DataFrame, idCol: String, textCol: String,
                            isTarget: Column, modelPath: String): Option[String] = {
    val spark = newDocs.sparkSession
    val vdir = graft.operators.Versioned.committed(spark, modelPath,
      "importance model (Selection.writeImportanceModel)")
    val hits = graft.operators.Versioned.readTable(spark, vdir, "ids")
      .join(broadcast(newDocs.select(col(idCol).as("id"))), Seq("id"), "left_semi")
      .distinct()
    val fresh = newDocs
      .join(broadcast(hits.select(col("id").as(idCol))), Seq(idCol), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    try {
      if (fresh.isEmpty) None
      else Some(graft.operators.Versioned.commitDelta(spark, modelPath, vdir) { d =>
        fresh.select(col(idCol).as("id")).write.parquet(s"$d/ids")
        // deltas MUST hash into the base version's bucket space —
        // additive count merges are only meaningful on shared keys
        val counts = tokenCounts(fresh, textCol, isTarget,
          storedBuckets(spark, vdir))
        try counts.write.parquet(s"$d/counts")
        finally { counts.unpersist(); () } // single consumer — see writeImportanceModel
      })
    } finally { fresh.unpersist(); () }
  }

  /** The committed model's (lr, defaults): the stored caches when no
    * deltas exist (the common state — two cheap reads, no
    * aggregation), else re-derived from the merged additive counts at
    * vocabulary scale. Count sums are exact integers either way, so
    * both paths produce bit-identical log-ratios.
    */
  def readImportanceModel(spark: SparkSession,
                          versionDir: String): (DataFrame, DataFrame) = {
    val deltas = graft.operators.Versioned.listDeltas(spark, versionDir)
    if (deltas.isEmpty)
      (spark.read.parquet(s"$versionDir/lr"),
        spark.read.parquet(s"$versionDir/defaults"))
    else {
      val merged = graft.operators.Versioned.readTable(spark, versionDir, "counts")
        .groupBy("h").agg(sum("ct").as("ct"), sum("cr").as("cr"))
      lrFromCounts(merged, storedBuckets(spark, versionDir))
    }
  }

  /** Fold base + deltas into a fresh deltaless version and refresh
    * the lr/defaults caches — O(model), run at compaction cadence.
    * The version and delta list resolve INSIDE commitNew's locked
    * callback ([[appendImportanceModel]]'s commitDelta takes the same
    * lock), so a delta committed while the fold was being planned
    * cannot be silently dropped.
    */
  def compactImportanceModel(spark: SparkSession, modelPath: String): String =
    graft.operators.Versioned.commitNew(spark, modelPath) { dir =>
      val vdir = graft.operators.Versioned.committed(spark, modelPath,
        "importance model (Selection.writeImportanceModel)")
      graft.operators.Versioned.readTable(spark, vdir, "ids")
        .write.parquet(s"$dir/ids")
      // fold once to disk; the lr/defaults caches then derive from the
      // WRITTEN counts parquet (plain reads, no re-aggregation)
      graft.operators.Versioned.readTable(spark, vdir, "counts")
        .groupBy("h").agg(sum("ct").as("ct"), sum("cr").as("cr"))
        .write.parquet(s"$dir/counts")
      val (lr, defaults) = lrFromCounts(spark.read.parquet(s"$dir/counts"),
        storedBuckets(spark, vdir))
      lr.write.parquet(s"$dir/lr")
      defaults.write.parquet(s"$dir/defaults")
    }

  /** Score a batch against a committed model version dir — identical
    * per-token arithmetic to the in-job path (spec-pinned).
    */
  def scoreImportanceIndexed(spark: SparkSession, versionDir: String,
                             batch: DataFrame, idCol: String,
                             textCol: String): DataFrame = {
    val (lr, defaults) = readImportanceModel(spark, versionDir)
    scoreAgainst(batch, idCol, textCol, lr, defaults,
      storedBuckets(spark, versionDir))
  }
}
