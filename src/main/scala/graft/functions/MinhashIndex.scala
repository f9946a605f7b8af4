package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH signature index — the incremental face of
  * q_dedup_minhash (the 14th index family, round 18).
  *
  * The 100 TB workflow this exists for: near-dup screening of each
  * new crawl batch must not re-shingle, re-hash, or re-band the
  * corpus. Signatures are corpus-derived once (write/append), the
  * band table IS the LSH bucket structure, and a batch probe costs
  * O(batch signatures + matched buckets): the batch's bands join the
  * PERSISTED band table, candidates verify by signature agreement —
  * the corpus text is never touched again.
  *
  * Portability: signatures are the round-17 Kirsch–Mitzenmacher
  * md5 double hashes ([[Dedup.minhashSignatures]]), so the batch-vs-
  * corpus candidate set and every est_jaccard are reproducible by the
  * DuckDB oracle (q_dedup_minhash_inc is a full hash-gated row, not a
  * rows-only one — the first INDEXED near-dup face with a hard gate).
  *
  * Layout under a [[graft.operators.Versioned]] root:
  *   `_v=N/sigs/`   (id, sig: array<long>[64])     — the sketch state
  *   `_v=N/bands/`  (id, band: int, bkey: long)    — the LSH buckets
  * Deltas (O(batch) appends) carry the same two tables; readers fold
  * base + deltas (the [[Dedup.readHashIndex]] convention).
  *
  * Parameters are FROZEN constants: an index mixing signature widths
  * or band counts would silently produce garbage candidates, so
  * appends reuse these, never caller-supplied values.
  */
object MinhashIndex {
  val ShingleK = 3
  val NumHashes = 64
  val Bands = 16
  /** Corpus-side buckets larger than this are boilerplate (a license
    * header's band), quadratic to probe, and dropped — the
    * [[Dedup.minhashCandidates]] cap on the bipartite shape.
    */
  val MaxBucket = 1000

  private def rowsPerBand = NumHashes / Bands

  /** (id, band, bkey) — band b's key is xxhash64 of signature rows
    * [b·R, (b+1)·R). The ORACLE groups by the band VALUE instead
    * (identical buckets modulo 2⁻⁶⁴ collisions — the q_dedup_minhash
    * precedent); the 8-byte hash is what shuffles and persists.
    */
  private def bandRows(sigs: DataFrame): DataFrame = {
    val bandHashes = (0 until Bands).map { b =>
      xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand), lit(b))
    }
    sigs.select(col("id"), posexplode(array(bandHashes: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
  }

  /** Build (or atomically refresh) the index from `docs`. The corpus
    * is scanned ONCE (signatures); bands derive from the just-written
    * signature table, not a second text pass. Returns the committed
    * version dir.
    */
  def writeIndex(docs: DataFrame, idCol: String, textCol: String,
                 indexPath: String): String = {
    val spark = docs.sparkSession
    graft.operators.Versioned.commitNew(spark, indexPath) { dir =>
      Dedup.minhashSignatures(docs, idCol, textCol, ShingleK, NumHashes)
        .write.parquet(s"$dir/sigs")
      bandRows(spark.read.parquet(s"$dir/sigs")).write.parquet(s"$dir/bands")
    }
  }

  /** Signature table of a committed version (base + deltas).
    * `excludeTag` is the streaming-replay exclusion — see
    * [[graft.operators.Versioned.liveDeltas]].
    */
  def readSigs(spark: SparkSession, versionDir: String,
               excludeTag: Option[String] = None): DataFrame =
    graft.operators.Versioned.readTable(spark, versionDir, "sigs", excludeTag)

  /** Band table of a committed version (base + deltas). */
  def readBands(spark: SparkSession, versionDir: String,
                excludeTag: Option[String] = None): DataFrame =
    graft.operators.Versioned.readTable(spark, versionDir, "bands", excludeTag)

  /** O(batch) append: signatures + bands for the ids of `docs` not
    * already indexed land as one delta under the CURRENT version —
    * no rebuild, readers fold it in on next resolve. Re-appending an
    * already-indexed id is a no-op (duplicate signature rows would
    * double-count in the verify join). `tag` marks the delta for
    * [[readSigs]]' streaming replay exclusion.
    */
  def appendIndex(spark: SparkSession, indexPath: String, versionDir: String,
                  docs: DataFrame, idCol: String, textCol: String,
                  tag: Option[String] = None): Unit = {
    val known = readSigs(spark, versionDir).select(col("id"))
    val fresh = graft.plans.CacheHandles.track("minhashindex.append.sigs",
      Dedup.minhashSignatures(docs, idCol, textCol, ShingleK, NumHashes)
        // corpus-side anti join merge-hinted: the index is unbounded,
        // a stats-broadcast of it is the q_linkage sf10 failure class
        .join(known.hint("merge"), Seq("id"), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY))
    try {
      if (!fresh.isEmpty)
        graft.operators.Versioned.commitDelta(spark, indexPath, versionDir) { d =>
          fresh.write.parquet(s"$d/sigs")
          bandRows(fresh).write.parquet(s"$d/bands")
          tag.foreach(graft.operators.TagHeal.mark(spark, d, _))
        }
    } finally { fresh.unpersist(); () }
  }

  /** Fold deltas into a fresh base version — the shared tag-carry
    * compaction ([[IndexDeltas.compactTabular]]): per streaming query
    * id, only the highest-batch tagged delta carries over (it can
    * still replay); everything else folds.
    */
  def compactIndex(spark: SparkSession, indexPath: String): String =
    IndexDeltas.compactTabular(spark, indexPath, Seq("sigs", "bands"),
      "minhash index (MinhashIndex.writeIndex)")

  /** Batch-vs-corpus near-dup candidates through the persisted index:
    * (id_a = indexed doc, id_b = batch doc, est_jaccard), est ≥
    * `minEstJaccard`. The batch is shingled/signed once; the index
    * side is the persisted tables only. Corpus-side joins are
    * merge-hinted throughout (never a stats-broadcast of an unbounded
    * table); buckets whose CORPUS population exceeds [[MaxBucket]]
    * are dropped before pairing.
    */
  def candidates(spark: SparkSession, versionDir: String, batch: DataFrame,
                 idCol: String, textCol: String,
                 minEstJaccard: Double,
                 excludeTag: Option[String] = None): DataFrame = {
    val batchSigs = graft.plans.CacheHandles.track("minhashindex.batch.sigs",
      Dedup.minhashSignatures(batch, idCol, textCol, ShingleK, NumHashes)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY))
    val batchBands = bandRows(batchSigs)
      .select(col("id").as("id_b"), col("band"), col("bkey"))
    val idxBands = readBands(spark, versionDir, excludeTag)
    val keepBuckets = idxBands.groupBy("band", "bkey")
      .agg(count(lit(1)).as("nb")).filter(col("nb") <= MaxBucket)
      .select("band", "bkey")
    val idxCapped = idxBands
      .join(keepBuckets.hint("merge"), Seq("band", "bkey"), "left_semi")
      .select(col("id").as("id_a"), col("band"), col("bkey"))
    val cand = batchBands
      .join(idxCapped.hint("merge"), Seq("band", "bkey"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    cand
      .join(readSigs(spark, versionDir, excludeTag)
        .select(col("id").as("id_a"), col("sig").as("sig_a")).hint("merge"), "id_a")
      .join(batchSigs
        .select(col("id").as("id_b"), col("sig").as("sig_b")).hint("merge"), "id_b")
      .select(col("id_a"), col("id_b"),
        // round-18: codegen equal-position count (ArrayPairsSpec)
        (graft.plans.ArrayPairsCols.arrayEqCount(col("sig_a"), col("sig_b"))
          .cast("double") / NumHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
  }
}
