package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted SimHash signature index — the incremental face of
  * q_dedup_simhash (the 15th index family, round 18), completing the
  * near-dup pair: every signature scheme the engine screens with
  * (minhash bands, simhash pigeonholes) now has a build-once /
  * probe-forever persisted form plus a streaming ingest loop.
  *
  * The 100 TB workflow: simhash screening of each new crawl batch
  * must not re-tokenize or re-hash the corpus. One 60-bit simhash per
  * corpus doc persists once (8 bytes of sketch state — the cheapest
  * index in the fleet); the band table IS the pigeonhole bucket
  * structure; a batch probe costs O(batch hashes + matched buckets):
  * the batch's band keys join the persisted band table and the
  * hamming verify is one XOR+popcount on the pair — corpus text is
  * never touched again.
  *
  * Portability: simhashes are the round-17 60-bit md5-derived hashes
  * ([[Dedup.simhashes]]), so the batch-vs-corpus candidate set and
  * every hamming distance are reproducible by the DuckDB oracle —
  * q_dedup_simhash_inc is a full hash-gated row (the
  * q_dedup_minhash_inc precedent).
  *
  * Layout under a [[graft.operators.Versioned]] root:
  *   `_v=N/sims/`   (id, sh: long)                 — the sketch state
  *   `_v=N/sbands/` (id, band: int, bkey: long, sh: long) — buckets
  * The 8-byte simhash RIDES IN the band rows (the
  * [[Dedup.simhashPairs]] convention): the hamming verify runs inside
  * the bucket join projection with no second signature join — worth
  * the 4× duplication of one long. Deltas carry the same two tables;
  * readers fold base + deltas (the [[Dedup.readHashIndex]]
  * convention).
  *
  * Parameters are FROZEN constants: an index mixing band widths or
  * hamming radii would silently produce garbage candidates, so
  * appends reuse these, never caller-supplied values.
  */
object SimhashIndex {
  /** Pigeonhole radius: a pair within hamming distance d differs in
    * at most d of d+1 bands, so one band always matches exactly.
    */
  val MaxHamming = 3
  val Bands = MaxHamming + 1
  /** 60 bits / 4 bands — each band key is 15 bits. */
  val BandBits = Dedup.SimhashBits / Bands
  /** Corpus-side buckets larger than this are boilerplate (every
    * near-identical license header shares all four bands), quadratic
    * to probe, and dropped — the [[MinhashIndex.MaxBucket]] cap on
    * the bipartite shape.
    */
  val MaxBucket = 1000

  /** (id, band, bkey, sh) — band b's key is bits [b·15, (b+1)·15) of
    * the simhash itself (no hashing: 15 bits already fit a long, and
    * the raw value is what the oracle reproduces).
    */
  private def bandRows(sims: DataFrame): DataFrame = {
    val mask = (1L << BandBits) - 1L
    val bandKeys = (0 until Bands).map { b =>
      shiftright(col("sh"), b * BandBits).bitwiseAND(lit(mask))
    }
    sims.select(col("id"), col("sh"), posexplode(array(bandKeys: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
      .select("id", "band", "bkey", "sh")
  }

  /** Build (or atomically refresh) the index from `docs`. The corpus
    * is scanned ONCE (simhashes); bands derive from the just-written
    * signature table, not a second text pass. Returns the committed
    * version dir.
    */
  def writeIndex(docs: DataFrame, idCol: String, textCol: String,
                 indexPath: String): String = {
    val spark = docs.sparkSession
    graft.operators.Versioned.commitNew(spark, indexPath) { dir =>
      Dedup.simhashes(docs, idCol, textCol).write.parquet(s"$dir/sims")
      bandRows(spark.read.parquet(s"$dir/sims")).write.parquet(s"$dir/sbands")
    }
  }

  /** Simhash table of a committed version (base + deltas).
    * `excludeTag` is the streaming-replay exclusion — see
    * [[graft.operators.Versioned.liveDeltas]].
    */
  def readSims(spark: SparkSession, versionDir: String,
               excludeTag: Option[String] = None): DataFrame =
    graft.operators.Versioned.readTable(spark, versionDir, "sims", excludeTag)

  /** Band table of a committed version (base + deltas). */
  def readBands(spark: SparkSession, versionDir: String,
                excludeTag: Option[String] = None): DataFrame =
    graft.operators.Versioned.readTable(spark, versionDir, "sbands", excludeTag)

  /** O(batch) append: simhashes + bands for the ids of `docs` not
    * already indexed land as one delta under the CURRENT version —
    * no rebuild, readers fold it in on next resolve. Re-appending an
    * already-indexed id is a no-op. `tag` marks the delta for
    * [[readSims]]' streaming replay exclusion.
    */
  def appendIndex(spark: SparkSession, indexPath: String, versionDir: String,
                  docs: DataFrame, idCol: String, textCol: String,
                  tag: Option[String] = None): Unit = {
    val known = readSims(spark, versionDir).select(col("id"))
    val fresh = graft.plans.CacheHandles.track("simhashindex.append.sims",
      Dedup.simhashes(docs, idCol, textCol)
        // corpus-side anti join merge-hinted: the index is unbounded,
        // a stats-broadcast of it is the q_linkage sf10 failure class
        .join(known.hint("merge"), Seq("id"), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY))
    try {
      if (!fresh.isEmpty)
        graft.operators.Versioned.commitDelta(spark, indexPath, versionDir) { d =>
          fresh.write.parquet(s"$d/sims")
          bandRows(fresh).write.parquet(s"$d/sbands")
          tag.foreach(graft.operators.TagHeal.mark(spark, d, _))
        }
    } finally { fresh.unpersist(); () }
  }

  /** Fold deltas into a fresh base version — the shared tag-carry
    * compaction ([[IndexDeltas.compactTabular]]).
    */
  def compactIndex(spark: SparkSession, indexPath: String): String =
    IndexDeltas.compactTabular(spark, indexPath, Seq("sims", "sbands"),
      "simhash")

  /** Batch-vs-corpus near-dup candidates through the persisted index:
    * (id_a = indexed doc, id_b = batch doc, hamming ≤ [[MaxHamming]]).
    * The batch is tokenized/hashed once; the index side is the
    * persisted tables only. Corpus-side joins are merge-hinted
    * throughout (never a stats-broadcast of an unbounded table);
    * buckets whose CORPUS population exceeds [[MaxBucket]] are
    * dropped before pairing. The hamming verify runs in the bucket
    * join's projection — the simhash rides in the band rows, so no
    * pair survives to a second join.
    */
  def candidates(spark: SparkSession, versionDir: String, batch: DataFrame,
                 idCol: String, textCol: String,
                 excludeTag: Option[String] = None): DataFrame = {
    val batchBands = bandRows(Dedup.simhashes(batch, idCol, textCol))
      .select(col("id").as("id_b"), col("band"), col("bkey"),
        col("sh").as("sh_b"))
    val idxBands = readBands(spark, versionDir, excludeTag)
    val keepBuckets = idxBands.groupBy("band", "bkey")
      .agg(count(lit(1)).as("nb")).filter(col("nb") <= MaxBucket)
      .select("band", "bkey")
    val idxCapped = idxBands
      .join(keepBuckets.hint("merge"), Seq("band", "bkey"), "left_semi")
      .select(col("id").as("id_a"), col("band"), col("bkey"),
        col("sh").as("sh_a"))
    batchBands
      .join(idxCapped.hint("merge"), Seq("band", "bkey"))
      .filter(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= MaxHamming)
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int")
          .as("hamming"))
      .dropDuplicates("id_a", "id_b")
  }
}
