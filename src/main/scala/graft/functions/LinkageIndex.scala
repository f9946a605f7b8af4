package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted serving face for blocked record linkage — the
  * build-once/serve-forever counterpart of
  * [[graft.operators.EditDistanceJoin.selfJoin]] (q_linkage), the
  * same convention as [[Retrieval]]'s lexical index and
  * [[ClusterIndex]]: the in-job operator re-derives its
  * deletion-neighborhood blocking structure (the ~(1 + L + C(L,2))
  * variant keys per row) plus the candidate join plus the Levenshtein
  * verify on EVERY run — 14.5 s at sf1, the inventory's most
  * expensive single query — while the linked-pair set itself is
  * corpus-derived state that only changes when the corpus does.
  *
  * Layout under a [[graft.operators.Versioned]] root:
  *   - `docs/`  (id, name, b0..bK)   — canonicalized payload, the
  *     verify side for appends and the append-dedup id source
  *   - `keys/`  (id, band, bkey)     — the persisted blocking keys
  *   - `pairs/` (id_a, id_b, dist)   — the verified result set;
  *     serving is a plain read
  *   - `_LINKAGE_META`               — maxDist / maxBucket / block
  *     arity pinned at build time (they are INDEX parameters: an
  *     append verifying at a different τ would make the pair set
  *     threshold-inconsistent)
  *
  * Appends are O(batch): the batch's keys probe only the buckets the
  * batch TOUCHES (untouched buckets cannot gain a pair involving a
  * new doc), candidate generation reuses the exact rebuild machinery
  * over those buckets' full membership, and only pairs with ≥1 fresh
  * side survive (old-old pairs in touched buckets already sit in
  * `pairs/`). Append ≡ rebuild is spec-pinned; the one caveat is the
  * shared `maxBucket` degenerate-bucket cap — a bucket crossing the
  * cap BETWEEN base build and append drops differently than one
  * rebuild would, which is exactly why the drop counters are observed
  * and loud ([[Dedup.pairsFromBucketsIds]]).
  */
object LinkageIndex {

  private case class Meta(maxDist: Int, maxBucket: Int, nBlock: Int)

  private def writeMeta(spark: SparkSession, dir: String, m: Meta): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, "_LINKAGE_META")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(s"${m.maxDist},${m.maxBucket},${m.nBlock}".getBytes("UTF-8"))
    finally out.close()
  }

  private def readMeta(spark: SparkSession, versionDir: String): Meta = {
    val p = new org.apache.hadoop.fs.Path(versionDir, "_LINKAGE_META")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p), s"$versionDir carries no _LINKAGE_META — not a linkage index")
    val in = fs.open(p)
    val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
    s.split(",") match {
      case Array(d, b, n) => Meta(d.toInt, b.toInt, n.toInt)
      case _ => throw new IllegalStateException(s"unparseable _LINKAGE_META: $s")
    }
  }

  private def bNames(n: Int): Seq[String] = (0 until n).map(i => s"b$i")

  /** Canonical (id, name, b0..bK) projection so the stored schema is
    * caller-column-name independent.
    */
  private def canon(docs: DataFrame, idCol: String, nameCol: String,
                    blockCols: Seq[String]): DataFrame =
    docs.select(col(idCol).as("id") +: col(nameCol).as("name") +:
      blockCols.zipWithIndex.map { case (c, i) => col(c).as(s"b$i") }: _*)

  /** Build (or atomically refresh) the linkage index. One enumeration
    * of the corpus: `docs/` lands first, then keys and pairs derive
    * from the written parquet instead of re-running the input lineage
    * (the [[Retrieval.writeLexicalIndex]] one-tokenization
    * discipline). Returns the committed version dir.
    */
  def writeIndex(docs: DataFrame, idCol: String, nameCol: String,
                 blockCols: Seq[String], indexPath: String,
                 maxDist: Int = 2, maxBucket: Int = 10000): String = {
    require(maxDist >= 0 && maxDist <= 2, "deletion neighborhood enumerates tau <= 2")
    val spark = docs.sparkSession
    graft.operators.Versioned.commitNew(spark, indexPath) { dir =>
      canon(docs, idCol, nameCol, blockCols).write.parquet(s"$dir/docs")
      val docsBack = spark.read.parquet(s"$dir/docs")
      graft.operators.EditDistanceJoin
        .deletionKeys(docsBack, "id", "name", bNames(blockCols.size))
        .write.parquet(s"$dir/keys")
      val keysBack = spark.read.parquet(s"$dir/keys")
      // the streaming run-pairs operator (see EditDistanceJoin.
      // candidatePairs) — the index build walks the same corpus-scale
      // singleton-heavy key table as the per-run self-join; the
      // batch-sized append probe below keeps the aggregate form
      val cand = graft.operators.EditDistanceJoin.candidatePairs(
        keysBack, maxBucket)
      graft.operators.EditDistanceJoin
        .verifyCandidates(cand, docsBack, "id", "name",
          bNames(blockCols.size), maxDist)
        .write.parquet(s"$dir/pairs")
      writeMeta(spark, dir, Meta(maxDist, maxBucket, blockCols.size))
    }
  }

  private def component(spark: SparkSession, versionDir: String,
                        sub: String): DataFrame =
    graft.operators.Versioned.readTable(spark, versionDir, sub)

  /** The served result: every verified (id_a, id_b, dist) pair, base
    * build plus appended deltas — identical to
    * [[graft.operators.EditDistanceJoin.selfJoin]] over the indexed
    * corpus (spec-pinned), at the cost of one parquet read.
    */
  def readPairs(spark: SparkSession, versionDir: String): DataFrame =
    component(spark, versionDir, "pairs")

  /** O(new-docs) growth: already-indexed ids drop first (broadcast
    * batch-id probe, the [[Retrieval.appendLexicalIndex]] discipline),
    * the surviving docs' keys probe only their TOUCHED buckets, and
    * the delta lands atomically under the current version — an
    * all-duplicates replay appends nothing. Returns the delta dir, or
    * None when nothing was new.
    *
    * The batch-id probes broadcast ONLY while the batch is actually
    * batch-sized: the batch is counted once (off its own cache) and
    * past [[graft.functions.IndexAppend.MaxBroadcastRows]] every probe
    * degrades to a shuffle join with a loud advisory — an index-scale
    * "append" (bulk replay, bootstrap misuse) must not ride an
    * unconditional broadcast hint into a driver OOM, the by-hint twin
    * of the stats-estimate broadcast the round-15 sf10 sweep killed in
    * q_linkage. Corpus-scale inputs belong in [[writeIndex]].
    */
  def appendIndex(newDocs: DataFrame, idCol: String, nameCol: String,
                  blockCols: Seq[String], indexPath: String,
                  tag: Option[String] = None): Option[String] = {
    val spark = newDocs.sparkSession
    val vdir = graft.operators.Versioned.committed(spark, indexPath,
      "linkage index (LinkageIndex.writeIndex)")
    val meta = readMeta(spark, vdir)
    require(meta.nBlock == blockCols.size,
      s"index at $indexPath was built with ${meta.nBlock} block columns, " +
        s"append passed ${blockCols.size}")
    val bn = bNames(blockCols.size)
    val batch = canon(newDocs, idCol, nameCol, blockCols)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    try {
      val probe = IndexAppend.probeHint(batch.count(), "linkage index",
        indexPath)
      // index side streams through the batch-id probe; the anti-join
      // back probes with `hits` (⊆ batch ids) — the index never
      // shuffles while the batch is broadcast-sized
      val hits = component(spark, vdir, "docs").select("id")
        .join(probe(batch.select("id")), Seq("id"), "left_semi")
        .distinct()
      val fresh = batch
        .join(probe(hits), Seq("id"), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      try {
        if (fresh.isEmpty) None
        else Some(graft.operators.Versioned.commitDelta(spark, indexPath, vdir) { d =>
          fresh.write.parquet(s"$d/docs")
          val freshBack = spark.read.parquet(s"$d/docs")
          graft.operators.EditDistanceJoin
            .deletionKeys(freshBack, "id", "name", bn)
            .write.parquet(s"$d/keys")
          val freshKeys = spark.read.parquet(s"$d/keys")
          // full membership of every TOUCHED bucket = old keys in those
          // buckets ∪ the batch's keys — the batch-derived semi-join side
          // is batch-bounded, so the planner broadcasts it while small
          // and reverts to a key shuffle as it grows (no forced hint)
          val touched = freshKeys.select("band", "bkey").distinct()
          val members = component(spark, vdir, "keys")
            .join(touched, Seq("band", "bkey"), "left_semi")
            .unionByName(freshKeys)
          val cand = Dedup.pairsFromBucketsIds(members, meta.maxBucket,
            "linkage_append_drops")
          // only pairs with a fresh side are NEW (old-old pairs in
          // touched buckets already sit in pairs/)
          val fids = fresh.select("id")
          val candFresh = cand
            .join(probe(fids.select(col("id").as("id_a"))), Seq("id_a"), "left_semi")
            .unionByName(cand
              .join(probe(fids.select(col("id").as("id_b"))), Seq("id_b"), "left_semi"))
            .dropDuplicates("id_a", "id_b")
          val allDocs = component(spark, vdir, "docs").unionByName(freshBack)
          graft.operators.EditDistanceJoin
            // wideSecondJoin = false: batch-sized candidate set — the
            // forced wide exchange only adds scheduling here (see the
            // verifyCandidates note)
            .verifyCandidates(candFresh, allDocs, "id", "name", bn,
              meta.maxDist, wideSecondJoin = false)
            .write.parquet(s"$d/pairs")
          // lets a streaming caller re-locate ITS batch's delta after
          // a crash between this commit and the sink write
          tag.foreach(graft.operators.TagHeal.mark(spark, d, _))
        })
      } finally { fresh.unpersist(); () }
    } finally { batch.unpersist(); () }
  }

  /** The committed delta carrying `_TAG_<tag>`, if any — the
    * [[graft.operators.TagHeal]] crash-heal lookup
    * ([[graft.streaming.Streams.linkageIngest]]'s crash window);
    * trimmed tags fail loud.
    */
  def deltaByTag(spark: SparkSession, versionDir: String,
                 tag: String): Option[String] =
    graft.operators.TagHeal.deltaByTag(spark, versionDir, tag,
      "linkage-index")

  /** Fold base + deltas into a fresh deltaless version — the
    * [[Retrieval.compactLexicalIndex]] discipline: O(index) by
    * definition, run at compaction cadence; readers mid-fold keep
    * resolving the old version. The pair set is carried over verbatim
    * (it is already the verified union), never re-derived. Tagged
    * deltas' `pairs/` heal artifacts survive under `tagdeltas/`
    * ([[graft.operators.TagHeal.preserve]]).
    */
  def compactIndex(spark: SparkSession, indexPath: String): String =
    graft.operators.Versioned.commitNew(spark, indexPath) { dir =>
      // resolved under the writer _LOCK (see compactLexicalIndex): an
      // append racing this fold cannot be silently dropped
      val vdir = graft.operators.Versioned.committed(spark, indexPath,
        "linkage index (LinkageIndex.writeIndex)")
      val meta = readMeta(spark, vdir)
      component(spark, vdir, "docs").write.parquet(s"$dir/docs")
      component(spark, vdir, "keys").write.parquet(s"$dir/keys")
      component(spark, vdir, "pairs").write.parquet(s"$dir/pairs")
      writeMeta(spark, dir, meta)
      graft.operators.TagHeal.preserve(spark, vdir, dir, Seq("pairs"),
        "graft.LinkageIndex")
    }
}
