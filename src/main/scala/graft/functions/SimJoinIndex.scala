package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted serving face for the exact all-pairs similarity self-join
  * (q_simjoin) — the corpus-derived prefix-filtering artifacts (Xiao
  * et al., "Efficient Similarity Joins for Near Duplicate Detection")
  * that the in-job query re-derives per run: the distinct shingle
  * table, the global rare-first order, the per-doc prefix postings,
  * and the verified pair set itself. The in-job path's candidate
  * self-join is the inventory's largest shuffle (74/128 MB at sf0.1);
  * serving from the index is a pairs/ read.
  *
  * Layout under a [[graft.operators.Versioned]] root:
  *   - `ids/`      every indexed doc id (append-dedup source — docs
  *     whose text is empty still count as indexed)
  *   - `shingles/` (id, h) distinct k-shingle hashes per doc (the
  *     verify side and the append probe)
  *   - `dfs/`      (h, kdf) — the global order Ω, PINNED at build
  *     time: prefix completeness (the prefix lemma) requires both
  *     sides of every candidate comparison to expose prefixes under
  *     ONE common total order, and ANY total order is correct — the
  *     rare-first choice only sizes the postings. Appends therefore
  *     rank new docs under the stored Ω (unseen shingles take kdf 0,
  *     i.e. rarest-first — still the same total order (kdf, h));
  *     compaction re-derives Ω from the full corpus, refreshing the
  *     posting-size heuristic without touching correctness.
  *   - `prefix/`   (h, id, n) prefix postings under Ω
  *   - `pairs/`    (id_a, id_b, jaccard) — the verified result;
  *     Ω-independent, so append ≡ rebuild holds exactly (spec-pinned)
  *   - `_SIMJOIN_META` t / shingleK pinned at build time
  */
object SimJoinIndex {

  private case class Meta(t: Double, shingleK: Int)

  private def writeMeta(spark: SparkSession, dir: String, m: Meta): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, "_SIMJOIN_META")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(s"${m.t},${m.shingleK}".getBytes("UTF-8")) finally out.close()
  }

  private def readMeta(spark: SparkSession, versionDir: String): Meta = {
    val p = new org.apache.hadoop.fs.Path(versionDir, "_SIMJOIN_META")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p), s"$versionDir carries no _SIMJOIN_META — not a simjoin index")
    val in = fs.open(p)
    val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
    s.split(",") match {
      case Array(t, k) => Meta(t.toDouble, k.toInt)
      case _ => throw new IllegalStateException(s"unparseable _SIMJOIN_META: $s")
    }
  }

  private def component(spark: SparkSession, versionDir: String,
                        sub: String): DataFrame =
    graft.operators.Versioned.readTable(spark, versionDir, sub)

  /** Prefix postings (h, id, n) for a (id, h) shingle table under the
    * order Ω given by `dfs` (h, kdf; shingles absent from dfs rank
    * kdf = 0, rarest-first). A doc of n distinct shingles exposes its
    * first n − ⌈t·n⌉ + 1 under Ω (the prefix lemma's bound). The
    * per-doc ranking window partitions by DOC id — bounded groups,
    * never the shingle hash (the q_simjoin scale shape).
    */
  private def prefixRows(sh: DataFrame, dfs: DataFrame, t: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withDf = sh.join(dfs.hint("merge"), Seq("h"), "left")
      .select(col("id"), col("h"), coalesce(col("kdf"), lit(0L)).as("kdf"))
    val wRank = Window.partitionBy("id").orderBy(col("kdf"), col("h"))
    withDf
      .withColumn("p", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("id")))
      .filter(col("p") <= col("n") - ceil(lit(t) * col("n")) + lit(1))
      .select(col("h"), col("id"), col("n"))
  }

  /** Candidate pairs from two posting sides sharing a prefix shingle,
    * with the two-direction length filter; canonicalized id_a < id_b.
    * `symmetric` = both sides are the SAME posting set (the build
    * self-join): each pair then arrives in both orientations, so the
    * cheap id_a < id_b pre-filter halves the join output before the
    * distinct — an asymmetric (append) probe must instead keep both
    * orientations and canonicalize, or a new<old pair would vanish.
    */
  private def candidates(pa: DataFrame, pb: DataFrame, t: Double,
                         symmetric: Boolean): DataFrame = {
    val joined = pa.select(col("h"), col("id").as("id_a"), col("n").as("n_a"))
      .hint("merge")
      .join(pb.select(col("h"), col("id").as("id_b"), col("n").as("n_b")), "h")
      .filter(if (symmetric) col("id_a") < col("id_b")
              else col("id_a") =!= col("id_b"))
      .filter(col("n_b") >= ceil(lit(t) * col("n_a")) &&
        col("n_a") >= ceil(lit(t) * col("n_b")))
    joined
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()
  }

  /** Exact Jaccard verify from shingle sets; merge-hinted for the
    * never-broadcast-a-collect_set-of-explode reason (q_simjoin).
    */
  private def verify(cand: DataFrame, sh: DataFrame, t: Double): DataFrame = {
    // sorted sets + SortedInterCount merge kernel (round 19, the
    // q_simjoin verify change): one zero-allocation pass instead of
    // array_intersect + array_union materialization; identical
    // integers (|A∪B| = |A|+|B|−|A∩B| on distinct sets) so the
    // jaccard doubles are bit-identical.
    val sets = sh.groupBy("id").agg(sort_array(collect_set(col("h"))).as("s"))
    val inter = graft.plans.ArrayPairsCols.sortedInterCount(col("s_a"), col("s_b"))
    cand
      .join(sets.select(col("id").as("id_a"), col("s").as("s_a")).hint("merge"), "id_a")
      .join(sets.select(col("id").as("id_b"), col("s").as("s_b")).hint("merge"), "id_b")
      .select(col("id_a"), col("id_b"),
        (inter.cast("double") /
          (size(col("s_a")) + size(col("s_b")) - inter)).as("jaccard"))
      .filter(col("jaccard") >= t)
  }

  /** Build (or atomically refresh) the simjoin index. ONE corpus
    * tokenization: shingles/ lands first, then dfs, prefixes, and the
    * verified pairs derive from written parquet (the
    * [[Retrieval.writeLexicalIndex]] discipline). Returns the
    * committed version dir.
    */
  def writeIndex(docs: DataFrame, idCol: String, textCol: String,
                 indexPath: String, t: Double = 0.5,
                 shingleK: Int = 3): String = {
    require(t > 0 && t <= 1, "threshold must be in (0, 1]")
    val spark = docs.sparkSession
    graft.operators.Versioned.commitNew(spark, indexPath) { dir =>
      docs.select(col(idCol).as("id")).write.parquet(s"$dir/ids")
      Dedup.shingleHashes(docs, idCol, textCol, shingleK)
        .dropDuplicates("id", "h")
        .write.parquet(s"$dir/shingles")
      val sh = spark.read.parquet(s"$dir/shingles")
      sh.groupBy("h").agg(count(lit(1)).as("kdf")).write.parquet(s"$dir/dfs")
      val dfs = spark.read.parquet(s"$dir/dfs")
      prefixRows(sh, dfs, t).write.parquet(s"$dir/prefix")
      val prefix = spark.read.parquet(s"$dir/prefix")
      verify(candidates(prefix, prefix, t, symmetric = true), sh, t)
        .write.parquet(s"$dir/pairs")
      writeMeta(spark, dir, Meta(t, shingleK))
    }
  }

  /** The served result: every verified (id_a, id_b, jaccard) pair,
    * base plus appended deltas — identical to the in-job q_simjoin
    * over the indexed corpus (spec-pinned).
    */
  def readPairs(spark: SparkSession, versionDir: String): DataFrame =
    component(spark, versionDir, "pairs")

  /** O(new-docs) growth: the batch's prefixes (ranked under the
    * STORED Ω) probe only the postings they touch; only pairs with a
    * fresh side are new. An all-duplicates replay appends nothing.
    * Returns the delta dir, or None when nothing was new.
    *
    * Batch-id probes broadcast only below
    * [[graft.functions.IndexAppend.MaxBroadcastRows]]; an index-scale
    * input degrades to shuffle joins with a loud advisory (see
    * [[IndexAppend]] — corpus-scale inputs belong in [[writeIndex]]).
    */
  def appendIndex(newDocs: DataFrame, idCol: String, textCol: String,
                  indexPath: String,
                  tag: Option[String] = None): Option[String] = {
    val spark = newDocs.sparkSession
    val vdir = graft.operators.Versioned.resolve(spark, indexPath)
      .getOrElse(throw new IllegalStateException(
        s"no committed simjoin index at $indexPath — build one with writeIndex first"))
    val meta = readMeta(spark, vdir)
    val batch = newDocs.select(col(idCol).as("id"), col(textCol).as("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    try {
    val probe = IndexAppend.probeHint(batch.count(), "simjoin index", indexPath)
    val hits = component(spark, vdir, "ids")
      .join(probe(batch.select("id")), Seq("id"), "left_semi")
      .distinct()
    val fresh = batch
      .join(probe(hits), Seq("id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    try {
      if (fresh.isEmpty) None
      else Some(graft.operators.Versioned.commitDelta(spark, indexPath, vdir) { d =>
        fresh.select("id").write.parquet(s"$d/ids")
        Dedup.shingleHashes(fresh, "id", "text", meta.shingleK)
          .dropDuplicates("id", "h")
          .write.parquet(s"$d/shingles")
        val freshSh = spark.read.parquet(s"$d/shingles")
        // Ω stays the BASE order — see the class note; the stored dfs
        // is vocabulary-scale, merge-joined inside prefixRows
        val dfs = spark.read.parquet(s"$vdir/dfs")
        prefixRows(freshSh, dfs, meta.t).write.parquet(s"$d/prefix")
        val freshPrefix = spark.read.parquet(s"$d/prefix")
        // candidate side a = fresh postings (batch-bounded), side b =
        // everything (prior postings stream through the h join; the
        // fresh side re-enters so new-new pairs surface too). Old-old
        // pairs cannot appear: side a is fresh by construction.
        val allPrefix = component(spark, vdir, "prefix").unionByName(freshPrefix)
        val cand = candidates(freshPrefix, allPrefix, meta.t, symmetric = false)
        val allSh = component(spark, vdir, "shingles").unionByName(freshSh)
        // verify only needs the candidate ids' sets: prune the
        // corpus-scale shingle table with the candidate id set before
        // the collect_set (batch-proportional, not corpus)
        val candIds = cand.select(col("id_a").as("id"))
          .unionByName(cand.select(col("id_b").as("id"))).distinct()
        val shPruned = allSh.join(candIds.hint("merge"), Seq("id"), "left_semi")
        verify(cand, shPruned, meta.t).write.parquet(s"$d/pairs")
        // lets a streaming caller re-locate ITS batch's delta after a
        // crash between this commit and the sink write
        tag.foreach(graft.operators.TagHeal.mark(spark, d, _))
      })
    } finally { fresh.unpersist(); () }
    } finally { batch.unpersist(); () }
  }

  /** Fold base + deltas into a fresh deltaless version, RE-PINNING Ω
    * from the full corpus (the posting-size heuristic refresh —
    * correctness never depended on which Ω). Pairs carry over
    * verbatim: they are the verified union and Ω-independent.
    */
  def compactIndex(spark: SparkSession, indexPath: String): String =
    graft.operators.Versioned.commitNew(spark, indexPath) { dir =>
      val vdir = graft.operators.Versioned.resolve(spark, indexPath)
        .getOrElse(throw new IllegalStateException(
          s"no committed simjoin index at $indexPath"))
      val meta = readMeta(spark, vdir)
      component(spark, vdir, "ids").write.parquet(s"$dir/ids")
      component(spark, vdir, "shingles").write.parquet(s"$dir/shingles")
      val sh = spark.read.parquet(s"$dir/shingles")
      sh.groupBy("h").agg(count(lit(1)).as("kdf")).write.parquet(s"$dir/dfs")
      prefixRows(sh, spark.read.parquet(s"$dir/dfs"), meta.t)
        .write.parquet(s"$dir/prefix")
      component(spark, vdir, "pairs").write.parquet(s"$dir/pairs")
      writeMeta(spark, dir, meta)
      graft.operators.TagHeal.preserve(spark, vdir, dir, Seq("pairs"),
        "graft.SimJoinIndex")
    }

  /** The committed delta carrying `_TAG_<tag>`, if any — the
    * [[graft.operators.TagHeal]] crash-heal lookup
    * ([[graft.streaming.Streams.simjoinIngest]]'s crash window);
    * trimmed tags fail loud.
    */
  def deltaByTag(spark: SparkSession, versionDir: String,
                 tag: String): Option[String] =
    graft.operators.TagHeal.deltaByTag(spark, versionDir, tag,
      "simjoin-index")
}
