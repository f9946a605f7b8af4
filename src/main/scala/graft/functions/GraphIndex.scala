package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted near-dup GRAPH index with exact O(touched) incremental
  * maintenance — the build-once substrate for the whole graph family
  * (connected components, PageRank, triangles, clustering coefficient,
  * k-core, two-hop): at 100 TB the shared-shingle edge construction
  * (tokenize → shingle → df-band → posting self-join) dominates every
  * graph query, and it is the SAME work each time — pay it once per
  * corpus version, append new documents in O(batch + touched), and let
  * every graph analytic read the committed edge set.
  *
  * Layout under a [[graft.operators.Versioned]] root (atomic pointer,
  * writer `_LOCK`, crash-safe deltas — the IVF/lexical-index
  * discipline):
  * {{{
  *   _v=N/params/     shingle_k, min_shared, min_df, max_df
  *   _v=N/postings/   distinct (id, h) shingle-hash postings
  *   _v=N/dfs/        (h, c) document-frequency count partials
  *   _v=N/edges/      (id_a, id_b, shared) — the df-banded edge set
  *   _v=N/delta_K/    postings/ dfs/ affected/ edges/ per append
  * }}}
  *
  * THE HARD PART — exact incremental edges. Document frequency is a
  * CORPUS-GLOBAL statistic: a new batch can push a shingle's df across
  * the [min_df, max_df] band in either direction, which silently
  * creates edges between two OLD documents (df reached min_df) or
  * deletes support under OLD edges (df crossed max_df). Appends handle
  * both exactly, touching only what the batch touched:
  *
  *  1. `relevant` shingles = batch shingles whose band membership can
  *     matter (old df in band, or merged df in band). Each has ≤
  *     max_df + batch-occurrences postings — BOUNDED per shingle, so
  *     the affected set is batch-proportional, never corpus-sized.
  *  2. `affected` docs A = every doc holding a relevant shingle. Any
  *     pair whose shared-band count can change has BOTH endpoints in A
  *     (a pair's count changes only through a shingle both hold — that
  *     shingle is relevant, putting both docs in A), so edges with at
  *     most one endpoint in A are PROVABLY unchanged.
  *  3. Recompute edges among A only, under the merged dfs, and commit
  *     {new postings, df partials, A, edgesA} as one atomic delta.
  *
  * Readers fold deltas in commit order: an edge written by base/delta
  * k is dead iff some LATER delta's affected set contains both its
  * endpoints (that delta re-judged the pair under newer dfs — its
  * edges/ holds the pair's current truth, or its absence). The fold is
  * two merge joins against the (delta, id) affected table — delta
  * metadata, not corpus data. GraphIndexSpec pins append ≡ rebuild
  * bit-identically through band crossings in both directions, replay
  * idempotence, and compaction equality.
  */
object GraphIndex {

  private val postingsSchema = StructType(Seq(
    StructField("id", LongType), StructField("h", LongType)))
  private val dfsSchema = StructType(Seq(
    StructField("h", LongType), StructField("c", LongType)))
  private val affectedSchema = StructType(Seq(StructField("id", LongType)))
  private val edgesSchema = StructType(Seq(
    StructField("id_a", LongType), StructField("id_b", LongType),
    StructField("shared", LongType)))

  final case class Params(shingleK: Int, minShared: Int, minDf: Int, maxDf: Int)

  /** Spark writes no part files for an all-empty frame — read with the
    * declared schema so an empty delta component is an empty frame,
    * not a schema-inference error.
    */
  private def readOrEmpty(spark: SparkSession, dir: String,
                          schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Build and commit a fresh index version from the full corpus. */
  def writeIndex(docs: DataFrame, idCol: String, textCol: String, path: String,
                 shingleK: Int = 3, minShared: Int = 5,
                 minDf: Int = 2, maxDf: Int = 20): String = {
    val spark = docs.sparkSession
    graft.operators.Versioned.commitNew(spark, path) { dir =>
      import spark.implicits._
      Seq((shingleK, minShared, minDf, maxDf))
        .toDF("shingle_k", "min_shared", "min_df", "max_df")
        .coalesce(1).write.parquet(s"$dir/params")
      val postings = Dedup.shingleHashes(docs, idCol, textCol, shingleK)
        .dropDuplicates("id", "h")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        postings.write.parquet(s"$dir/postings")
        val dfs = postings.groupBy("h").agg(count(lit(1)).as("c"))
        dfs.write.parquet(s"$dir/dfs")
        edgesFrom(postings, dfs, minShared, minDf, maxDf)
          .write.parquet(s"$dir/edges")
      } finally { postings.unpersist(); () }
    }
  }

  /** The df-banded shared-shingle edge rule over explicit postings +
    * dfs — the [[Dedup.sharedShingleEdges]] semantics with the
    * statistics externalized (same merge-hint discipline: both
    * self-join sides are posting-derived, size-only stats can't model
    * them).
    */
  private def edgesFrom(postings: DataFrame, dfs: DataFrame,
                        minShared: Int, minDf: Int, maxDf: Int): DataFrame = {
    val band = postings
      .join(dfs.filter(col("c").between(minDf, maxDf)).select("h").hint("merge"), "h")
    band.select(col("h"), col("id").as("id_a"))
      .hint("merge")
      .join(band.select(col("h"), col("id").as("id_b")), "h")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  def readParams(spark: SparkSession, versionDir: String): Params = {
    val r = spark.read.parquet(s"$versionDir/params").head()
    Params(r.getAs[Int]("shingle_k"), r.getAs[Int]("min_shared"),
      r.getAs[Int]("min_df"), r.getAs[Int]("max_df"))
  }

  /** Base + delta postings (distinct by construction: appends drop
    * already-present doc ids, and a doc's postings commit atomically
    * in one delta).
    */
  def readPostings(spark: SparkSession, versionDir: String): DataFrame =
    graft.operators.Versioned.listDeltas(spark, versionDir)
      .foldLeft(readOrEmpty(spark, s"$versionDir/postings", postingsSchema)) {
        (acc, d) => acc.unionAll(readOrEmpty(spark, s"$d/postings", postingsSchema))
      }

  /** Merged document frequencies: base counts ⊕ delta partials. */
  def readDfs(spark: SparkSession, versionDir: String): DataFrame =
    graft.operators.Versioned.listDeltas(spark, versionDir)
      .foldLeft(readOrEmpty(spark, s"$versionDir/dfs", dfsSchema)) {
        (acc, d) => acc.unionAll(readOrEmpty(spark, s"$d/dfs", dfsSchema))
      }
      .groupBy("h").agg(sum("c").as("c"))

  /** The CURRENT edge set: base ∪ delta edges, minus every edge a
    * later delta re-judged (both endpoints in that delta's affected
    * set). The affected table is delta metadata — (delta#, id) rows,
    * batch-proportional — so the fold costs two key joins, never a
    * corpus scan.
    */
  def readEdges(spark: SparkSession, versionDir: String): DataFrame = {
    val deltas = graft.operators.Versioned.listDeltas(spark, versionDir)
    val base = readOrEmpty(spark, s"$versionDir/edges", edgesSchema)
      .withColumn("k", lit(0))
    val parts = deltas.zipWithIndex.foldLeft(base) { case (acc, (d, i)) =>
      acc.unionAll(readOrEmpty(spark, s"$d/edges", edgesSchema)
        .withColumn("k", lit(i + 1)))
    }
    if (deltas.isEmpty) return parts.drop("k")
    val aff = deltas.zipWithIndex
      .map { case (d, i) =>
        readOrEmpty(spark, s"$d/affected", affectedSchema).withColumn("j", lit(i + 1))
      }
      .reduce(_ unionAll _)
    val dropA = aff.select(col("id").as("id_a"), col("j").as("ja"))
    val dropB = aff.select(col("id").as("id_b"), col("j").as("jb"))
    val dead = parts
      .join(dropA.hint("merge"), Seq("id_a"))
      .join(dropB.hint("merge"), Seq("id_b"))
      .filter(col("ja") === col("jb") && col("ja") > col("k"))
      .select("id_a", "id_b", "k").distinct()
    parts.join(dead.hint("merge"), Seq("id_a", "id_b", "k"), "left_anti")
      .drop("k")
  }

  /** Exact O(batch + touched) append: commit the batch's postings +
    * df partials, and re-judge ONLY the pairs whose shared-band count
    * the batch can have changed (see object doc). Already-indexed doc
    * ids are dropped first — first delivery wins, so a replayed batch
    * commits nothing (returns None) and the index is idempotent under
    * redelivery; otherwise returns the committed delta dir.
    */
  def appendIndex(batch: DataFrame, idCol: String, textCol: String,
                  path: String, tag: Option[String] = None): Option[String] = {
    val spark = batch.sparkSession
    val vdir = graft.operators.Versioned.committed(spark, path,
      "graph index (GraphIndex.writeIndex)")
    val p = readParams(spark, vdir)
    val postings = readPostings(spark, vdir)
    val batchIds = batch.select(col(idCol).as("id")).distinct()
    // index scan probed by the broadcast batch-id set, THEN distinct —
    // the Ivf/lexical append discipline: dedup cost is batch-
    // proportional, never a corpus-sized distinct shuffle per append
    val present = postings.select("id")
      .join(broadcast(batchIds), Seq("id"), "left_semi")
      .distinct()
    val fresh = Dedup.shingleHashes(
        batch.join(broadcast(present.withColumnRenamed("id", idCol)),
          Seq(idCol), "left_anti"),
        idCol, textCol, p.shingleK)
      .dropDuplicates("id", "h")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (fresh.isEmpty) return None
      val dfsB = fresh.groupBy("h").agg(count(lit(1)).as("cb"))
      val oldDfs = readDfs(spark, vdir)
      // band-membership transitions the batch can cause: old df in
      // band (support may be lost or grow) or merged df in band
      // (support may appear). old > max_df stays above; old and merged
      // both < min_df never mattered.
      val relevant = dfsB
        .join(oldDfs.hint("merge"), Seq("h"), "left")
        .select(col("h"), coalesce(col("c"), lit(0L)).as("old"), col("cb"))
        .filter(col("old").between(p.minDf, p.maxDf) ||
          (col("old") + col("cb")).between(p.minDf, p.maxDf))
        .select("h")
      val allPostings = postings.unionAll(fresh.select("id", "h"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val affected = allPostings
          .join(relevant.hint("merge"), Seq("h"), "left_semi")
          .select("id").distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val postingsA = allPostings.join(affected, Seq("id"), "left_semi")
          val mergedDfs = oldDfs.unionAll(dfsB.withColumnRenamed("cb", "c"))
            .groupBy("h").agg(sum("c").as("c"))
          val edgesA = edgesFrom(postingsA, mergedDfs, p.minShared, p.minDf, p.maxDf)
          Some(graft.operators.Versioned.commitDelta(spark, path, vdir) { dir =>
            fresh.write.parquet(s"$dir/postings")
            dfsB.withColumnRenamed("cb", "c").write.parquet(s"$dir/dfs")
            affected.write.parquet(s"$dir/affected")
            edgesA.write.parquet(s"$dir/edges")
            // the appendHashIndex tag convention: lets a streaming
            // caller re-locate ITS batch's delta after a crash between
            // this commit and the sink write
            tag.foreach(graft.operators.TagHeal.mark(spark, dir, _))
          })
        } finally { affected.unpersist(); () }
      } finally { allPostings.unpersist(); () }
    } finally { fresh.unpersist(); () }
  }

  /** See [[graft.operators.TagHeal.TagRetain]] — the shared bound on
    * preserved heal dirs (extracted there when the linkage/simjoin
    * indexes adopted this family's tag convention).
    */
  private[functions] val TagRetain = graft.operators.TagHeal.TagRetain

  /** The committed delta carrying `_TAG_<tag>`, if any — how a
    * streaming caller re-locates its own batch's delta after a crash
    * between the append commit and its sink write. Falls back to the
    * version's `tagdeltas/` store, where [[compactIndex]] preserves
    * the heal artifacts of recently-tagged deltas it folded — without
    * that, a compaction landing inside the crash window would
    * silently lose the batch's output partition. Trimmed tags fail
    * loud (see [[graft.operators.TagHeal.deltaByTag]]).
    */
  def deltaByTag(spark: SparkSession, versionDir: String,
                 tag: String): Option[String] =
    graft.operators.TagHeal.deltaByTag(spark, versionDir, tag, "graph-index")

  /** Fold base + deltas into a fresh deltaless version (the
    * compaction discipline: readers mid-compaction keep resolving the
    * old version; the writer lock serializes against appends).
    *
    * Tagged deltas do NOT simply vanish: the crash window graphIngest/
    * clusterIngest heal by tag — delta committed, stream died before
    * its sink write — may span this compaction, and the heal needs the
    * folded delta's own artifacts (its re-judged `edges/`, its
    * `affected/` set, its `postings/` ids), which the folded base can
    * no longer attribute to the batch. So each tagged delta's heal
    * artifacts are preserved under `tagdeltas/NNNNNN_<tag>/` in the
    * new version, prior preserved dirs carry forward, and the store
    * trims to the newest [[TagRetain]] (one in-flight batch per
    * stream, so the bound is on concurrent streams). Batch-
    * proportional data, copied not recomputed.
    */
  def compactIndex(spark: SparkSession, path: String): String =
    graft.operators.Versioned.commitNew(spark, path) { dir =>
      // resolved INSIDE the write callback, i.e. under the writer
      // _LOCK (the compactLexicalIndex discipline): a rebuild landing
      // between an outside resolve and the lock would be silently
      // erased by folding the superseded version over it
      val vdir = graft.operators.Versioned.committed(spark, path,
        "graph index (GraphIndex.writeIndex)")
      val p = readParams(spark, vdir)
      import spark.implicits._
      Seq((p.shingleK, p.minShared, p.minDf, p.maxDf))
        .toDF("shingle_k", "min_shared", "min_df", "max_df")
        .coalesce(1).write.parquet(s"$dir/params")
      readPostings(spark, vdir).write.parquet(s"$dir/postings")
      readDfs(spark, vdir).write.parquet(s"$dir/dfs")
      readEdges(spark, vdir).write.parquet(s"$dir/edges")
      // the cluster-heal path reads affected+postings from the healed
      // dir, so all three artifacts carry (not just edges)
      graft.operators.TagHeal.preserve(spark, vdir, dir,
        Seq("edges", "affected", "postings"), "graft.GraphIndex")
    }
}
