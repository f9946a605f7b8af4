package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}

/** Deduplication operators for large text corpora.
  *
  * Scale design (SURVEY.md §5):
  *  - Signatures are computed by exploding shingles/tokens and
  *    aggregating with plain `min`/`sum` — whole-stage-codegen'd with
  *    map-side partial aggregation, unlike Spark's interpreted
  *    higher-order functions. Shuffle rows collapse to one per doc
  *    before leaving the mapper.
  *  - Only fixed-width keys (md5 hex, band hashes, 60-bit simhashes)
  *    ever shuffle — bytes grow with row count, not corpus bytes.
  *  - Candidate pairs are generated inside capped LSH buckets,
  *    avoiding a second self-join shuffle entirely: id-only buckets
  *    go through [[graft.plans.SortedRunPairs]] (one sort + a run
  *    walk), buckets carrying a payload through collect_list + an
  *    in-bucket kernel. `maxBucket` guards degenerate buckets (the
  *    drops are counted, never silent) and singleton buckets are
  *    dropped before any pair work.
  *  - Pair ids are long: every pair entry point checks its id column
  *    up front ([[requireLongIds]]).
  */
object Dedup {

  /** Exact dedup: group on a 128-bit content hash (md5) and keep the
    * smallest id. At 100 TB this is the standard pattern — the
    * shuffle carries 32-byte hashes, never document bytes.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Incremental exact dedup: survivors of `batch` after (1) in-batch
    * keep-first dedup and (2) an anti-join against the existing
    * corpus's text hashes — the online-curation shape, where each
    * ingest round dedups only against a persisted hash index instead
    * of re-deduping the whole corpus. Both steps key on the fixed-
    * width md5, so the shuffle carries 16-byte keys + ids: at 100 TB
    * the index side is a bucketed hash table and this is one
    * hash-partitioned pass over the NEW data only.
    */
  def incremental(batch: DataFrame, corpus: DataFrame,
                  key: Column, idCol: String): DataFrame = {
    val corpusHashes = corpus.select(key.as("text_hash")).distinct()
    batch.select(col(idCol), key.as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .join(corpusHashes, Seq("text_hash"), "left_anti")
  }

  /** Whitespace tokens with empties removed. */
  def tokens(textCol: Column): Column =
    // round-19: codegen kernel ≡ filter(split(textCol, " "),
    // t -> length(t) > 0) — the HOF form ran the lambda interpreter
    // per element at every remaining token-string site (gini / zipf /
    // vocab-coverage / entropy / HLL / span explodes); byte-identical
    // tokens by construction (0x20 never occurs inside a UTF-8
    // multibyte sequence), pinned by TextHashSpec against the HOF tree
    graft.plans.TextHashCols.tokens(textCol)

  /** Distinct k-word shingles; documents shorter than k words fall
    * back to a single whole-text shingle so they still participate.
    */
  def shingles(textCol: Column, k: Int = 3): Column = {
    val ts = tokens(textCol)
    array_distinct(
      when(size(ts) >= k,
        transform(sequence(lit(0), size(ts) - k),
          i => concat_ws(" ", slice(ts, i + 1, lit(k)))))
        .otherwise(array(concat_ws(" ", ts))))
  }

  /** Shared span-row machinery: one row per k-word span occurrence,
    * tokens exploded once and each span's k tokens assembled via
    * window `lead` — the same codegen'd construction as
    * [[shingleHashes]] (Spark's array higher-order functions are
    * interpreted; a per-doc `transform` building span strings costs
    * 3-5× this shape). Documents shorter than k words contribute
    * NOTHING — span-level dedup has no short-doc fallback, unlike
    * [[shingles]]. `hash` turns the k token columns into the span key.
    */
  private def spanRowsBy(df: DataFrame, idCol: String, textCol: String,
                         k: Int, hashArray: Column => Column): DataFrame = {
    // pre-partition by doc id: parallelizes tokenize/hash out of a
    // single row group; downstream per-doc aggregations reuse this
    // partitioning (no re-shuffle). Round-18: per-doc codegen kernel
    // instead of posexplode + Window.lead (see [[shingleHashes]]);
    // TextHashSpec pins both hash variants bit-identical.
    val spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
    spread.select(col(idCol).as("id"),
      explode(hashArray(col(textCol))).as("h"))
  }

  /** (id, h) rows, one per k-word span occurrence, h = 64-bit
    * xxhash64 of the span's token sequence — the PLUMBING form for
    * span-level dedup/decontamination where the hash is only a
    * join/group key (8-byte shuffle keys, counts identical to
    * string-span semantics modulo 2⁻⁶⁴ collisions). Use
    * [[spanRowsMd5]] when the span hash is itself an output column.
    */
  def spanRows(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    spanRowsBy(df, idCol, textCol, k,
      t => graft.plans.TextHashCols.shingleXx64(t, k, fallback = false))

  /** (id, hb) rows, one per k-word span occurrence, hb = 16-byte
    * BINARY md5 of the space-joined span — for span-level dedup whose
    * OUTPUT is the span identity (a result column a SQL oracle must
    * reproduce). Binary halves the shuffle width of 32-char hex;
    * render with `lower(hex(hb))` only at the output projection.
    */
  def spanRowsMd5(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    spanRowsBy(df, idCol, textCol, k,
      t => graft.plans.TextHashCols.shingleMd5(t, k))

  /** Scale-safe per-key stats attach — the replacement for
    * `agg(...) over Window.partitionBy(key)` on an unbounded-
    * cardinality hash key (span hash, shingle hash, segment hash).
    * WindowExec hash-partitions on the key and BUFFERS each key group
    * in ONE task (ExternalAppendOnlyUnsafeRowArray), and AQE does not
    * split windows — so one boilerplate span held by millions of
    * documents (a license header, a templated intro) is a guaranteed
    * single-task multi-GB spilling straggler, in exactly the corpora
    * the span/shingle family targets. This
    * shape instead computes the per-key stats with `groupBy`
    * (map-side partial aggregation collapses each mapper's duplicate
    * keys BEFORE the shuffle) and merge-joins the filtered stats back
    * onto the rows: sort-merge streams a hot key's rows through one
    * task without buffering its group (the stats side holds one row
    * per key). The join is NOT split by AQE's skew handling:
    * `OptimizeSkewedJoin` only splits a join whose both sides read a
    * shuffle stage directly, and the stats side here is
    * Sort ← Filter ← HashAggregate ← shuffle stage, so a hot key still
    * runs in one task — it streams, it does not spill a buffered group.
    *
    * `statsFilter` prunes the stats table before the join (a df band,
    * an ndocs ≥ 2 floor), so the build side carries only the keys the
    * caller acts on; `joinType = "left_semi"` when only membership
    * matters, `"left"` when absent keys should survive with nulls.
    */
  def joinKeyStats(rows: DataFrame, key: String, aggs: Seq[Column],
                   statsFilter: Column = lit(true),
                   joinType: String = "inner"): DataFrame = {
    val stats = rows.groupBy(col(key))
      .agg(aggs.head, aggs.tail: _*)
      .filter(statsFilter)
    rows.join(stats.hint("merge"), Seq(key), joinType)
  }

  /** Maximal cross-document duplicated passages — the variable-length
    * exact-substring shape (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better", re-expressed for distributed
    * fixed-k span hashing): a long duplicated block otherwise surfaces
    * as MANY overlapping k-spans; here consecutive duplicated span
    * STARTS that share the same HOLDER SET collapse into one
    * `(id, start_pos, len_tokens, n_docs)` block — `len_tokens` =
    * run length + k − 1 is the passage's true token extent, and a run
    * breaks where the sharing set changes (a passage shared with B
    * abutting one shared with C is two blocks, as in the pairwise
    * suffix-array formulation).
    *
    * The holder set itself is never materialized: each span's set is
    * reduced to (count, XOR of engine-neutral 60-bit doc-id hashes) —
    * order-insensitive, map-side-combinable, 16 bytes per span
    * regardless of how many documents hold it (a boilerplate span in
    * millions of docs aggregates on the mappers, never collects).
    * Runs are found with doc-partitioned windows only (group size
    * bounded by document length — ScaleGuard-clean); the signature
    * rides rows as a VALUE, never a partition key.
    */
  def maximalSpanBlocks(docs: DataFrame, idCol: String, textCol: String,
                        k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val spread = docs.repartition(par, col(idCol))
    // round-18: per-doc codegen kernel with posexplode — pos is the
    // 0-based span-start token index, exactly the surviving `pos` of
    // the former posexplode + window.lead shape (TextHashSpec pins the
    // hash values; the index is positional by construction)
    val occ = spread
      .select(col(idCol).as("id"),
        posexplode(graft.plans.TextHashCols.shingleXx64(
          col(textCol), k, fallback = false)))
      .withColumnRenamed("col", "h")
    val stats = occ
      .select(col("h"), col("id"),
        EngineNeutral.md5Long60(col("id").cast("string")).as("idh"))
      .dropDuplicates("h", "id")
      .groupBy("h")
      .agg(count(lit(1)).as("n_docs"), expr("bit_xor(idh)").as("sig"))
      .filter(col("n_docs") >= 2)
    val tagged = occ.join(stats.hint("merge"), Seq("h"))
      .select("id", "pos", "n_docs", "sig")
    // gaps-and-islands with the signature as a BREAK CONDITION, not a
    // partition key: chg marks a gap in pos or a holder-set change;
    // the running sum numbers the runs. Both windows partition by the
    // DOC id.
    val wd = Window.partitionBy("id").orderBy("pos")
    val chg = when(lag(col("pos"), 1).over(wd).isNull
        .or(col("pos") =!= lag(col("pos"), 1).over(wd) + 1)
        .or(col("sig") =!= lag(col("sig"), 1).over(wd)), 1).otherwise(0)
    tagged.withColumn("chg", chg)
      .withColumn("grp", sum(col("chg"))
        .over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("grp"))
      .agg(min(col("pos")).as("start_pos"),
        (count(lit(1)) + lit(k - 1).cast("long")).as("len_tokens"),
        min(col("n_docs")).as("n_docs"))
      .select(col("id"), col("start_pos"), col("len_tokens"), col("n_docs"))
  }

  /** Build (or atomically refresh) a persisted HASH-SET index under a
    * [[graft.operators.Versioned]] root from an `h`-columned frame —
    * the generic membership artifact behind the span index (k-word
    * span hashes), the streaming funnel's exact-dedup index
    * (whole-text hashes), and any future seen-set. Hashes live in a
    * `grams/` subdir so O(batch) `delta_N/grams` appends union
    * cleanly on the read side. Returns the committed version dir.
    */
  def writeHashIndex(hashes: DataFrame, indexPath: String): String =
    graft.operators.Versioned.commitNew(hashes.sparkSession, indexPath) { dir =>
      hashes.select(col("h")).distinct().write.parquet(s"$dir/grams")
    }

  /** Stored schema of a whole-text md5 hash index (16-byte binary
    * keys, the streaming funnel's exact-dedup index).
    */
  val Md5IndexSchema: StructType = StructType(Seq(StructField("h", BinaryType)))

  /** Stored schema of a span-hash index (64-bit xxhash64 span keys,
    * [[spanRows]]).
    */
  val SpanIndexSchema: StructType = StructType(Seq(StructField("h", LongType)))

  /** The hash set of a committed version dir: base + appended deltas
    * as ONE parquet scan ([[graft.operators.Versioned.readTable]]) —
    * no job at read time, one scan leaf whatever the delta count. A
    * SET: duplicates across crash branches are harmless, see
    * [[readSpanIndex]]. `schema` skips even the driver-side footer
    * read when the key type is fixed ([[Md5IndexSchema]],
    * [[SpanIndexSchema]]).
    *
    * `excludeTag`: a STREAMING replay must score against the
    * pre-append view of the index, so deltas committed by an earlier
    * run of the SAME micro-batch (tagged by the append) are left out
    * and a crash between the append and the checkpoint commit
    * re-scores identically instead of matching the batch's own hashes
    * (a hash-only index cannot exclude "self" any other way).
    */
  def readHashIndex(spark: org.apache.spark.sql.SparkSession,
                    versionDir: String,
                    excludeTag: Option[String] = None,
                    schema: Option[StructType] = None): DataFrame =
    graft.operators.Versioned.readTable(spark, versionDir, "grams",
      excludeTag, schema)

  /** Grow a hash index by O(batch): only hashes the index lacks land
    * as an atomic delta (empty delta → nothing committed, replays
    * idempotent). The index is read once, as one scan; its side of
    * the anti join is unbounded — merge, never a planner broadcast.
    * The anti join sees the FULL index (tags excluded nothing here),
    * so a replayed append whose delta already landed commits nothing.
    * `tag` marks the delta with the writer's batch identity for
    * [[readHashIndex]]'s replay exclusion. Streaming faces that
    * already probed the index derive their fresh hashes from that
    * probe and commit through [[commitFreshHashes]] instead.
    */
  def appendHashIndex(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String, versionDir: String,
                      hashes: DataFrame, tag: Option[String] = None): Unit = {
    val idx = readHashIndex(spark, versionDir)
    val fresh = hashes.select(col("h")).distinct()
      .join(idx.hint("merge"), Seq("h"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    try {
      if (!fresh.isEmpty) commitFreshHashes(spark, indexPath, versionDir, fresh, tag)
    } finally { fresh.unpersist(); () }
  }

  /** Commit `fresh` — hashes already known to be absent from the
    * index — as one atomic delta, with no second read of the index.
    * With a `tag`, the commit is guarded by "no live delta carries
    * this tag", evaluated under the writer lock
    * ([[graft.operators.Versioned.commitDeltaIf]]): a streaming batch
    * derives `fresh` from its scoring probe against the tag-excluded
    * view ([[readHashIndex]]), so a replay recomputes the same fresh
    * set, and the guard lands it exactly once. Returns the delta dir,
    * or None when the guard skipped the commit.
    */
  def commitFreshHashes(spark: org.apache.spark.sql.SparkSession,
                        indexPath: String, versionDir: String,
                        fresh: DataFrame, tag: Option[String]): Option[String] =
    graft.operators.Versioned.commitDeltaIf(spark, indexPath, versionDir)(
      tag.forall(graft.operators.Versioned.taggedDelta(spark, versionDir, _).isEmpty)) {
      d =>
        fresh.select(col("h")).write.parquet(s"$d/grams")
        tag.foreach(graft.operators.TagHeal.mark(spark, d, _))
    }

  /** Fold a hash index's base + deltas into a fresh deltaless-as-
    * possible version — the compaction that keeps [[readHashIndex]]'s
    * per-delta filesystem probe and scan path list from growing
    * linearly with stream lifetime (one delta dir lands per
    * micro-batch; a week-old ingest stream otherwise pays thousands
    * of exists() calls and scanned dirs per trigger).
    *
    * Replay safety governs which deltas fold. A delta TAGGED
    * `qid_bN` supports [[readHashIndex]]'s streaming replay
    * exclusion: if batch N crashed after the append but before its
    * checkpoint commit, the replay must re-score against the
    * pre-append view, which requires that delta to still exist WITH
    * its tag. Spark replays only the LAST uncommitted micro-batch,
    * so for each query id the highest-batch delta present is the
    * only one that can still replay — it carries over into the new
    * version verbatim (grams + tag files); every other delta's batch
    * is provably committed (a later batch id exists), so it folds
    * into the base and its tag files drop. Untagged deltas (batch
    * appendHashIndex callers) always fold. The shared tag-carry
    * fold is [[IndexDeltas.compactTabular]].
    *
    * Runs inside commitNew's locked callback (appends racing the
    * compaction are never dropped); readers mid-fold keep resolving
    * the old version. Returns the new version dir.
    */
  def compactHashIndex(spark: org.apache.spark.sql.SparkSession,
                       indexPath: String): String =
    IndexDeltas.compactTabular(spark, indexPath, Seq("grams"),
      "hash index (Dedup.writeHashIndex)", distinct = true)

  /** Build (or atomically refresh) the persisted span-hash index the
    * incremental/streaming span-dedup face probes: the distinct
    * 64-bit k-word span hashes of `df`, under a
    * [[graft.operators.Versioned]] root. Layout is [[writeHashIndex]]
    * on the span hashes. Returns the committed version dir.
    */
  def writeSpanIndex(df: DataFrame, idCol: String, textCol: String,
                     k: Int, indexPath: String): String =
    writeHashIndex(spanRows(df, idCol, textCol, k), indexPath)

  /** The span-hash set of a committed version dir: base + every
    * appended delta as one scan of the fixed [[SpanIndexSchema]]
    * ([[readHashIndex]] — rows may repeat across crash branches;
    * consumers treat the index as a SET). `excludeTag` passes through
    * for streaming replay exclusion.
    */
  def readSpanIndex(spark: org.apache.spark.sql.SparkSession,
                    versionDir: String,
                    excludeTag: Option[String] = None): DataFrame =
    readHashIndex(spark, versionDir, excludeTag, Some(SpanIndexSchema))

  /** Incremental span-level dedup of one batch against a persisted
    * span-hash index: per-doc (idCol, n_spans, n_dup, dup_frac) where
    * a span counts as duplicated iff it is ALREADY IN THE INDEX
    * (held by some earlier-ingested document) or held by ≥2 documents
    * WITHIN the batch — the online-curation form of q_span_dup_frac,
    * scoring only new data against history instead of re-scanning the
    * corpus (the span-granularity sibling of [[incremental]]).
    *
    * Scale shape: batch spans reduce to 8-byte xxhash64 in the scan
    * stage; within-batch df is the skew-safe [[joinKeyStats]] shape;
    * the index probe is a merge-hinted left join (the index is
    * unbounded — it must NEVER ride a planner broadcast).
    */
  def spanDedupIncrement(batch: DataFrame, index: DataFrame, idCol: String,
                         textCol: String, k: Int): DataFrame =
    spanDedupIncrementSpans(spanRows(batch, idCol, textCol, k), index, idCol)

  /** [[spanDedupIncrement]] over PRECOMPUTED (id, h) span rows:
    * [[spanScores]] of the [[spanProbe]].
    */
  def spanDedupIncrementSpans(spanRows: DataFrame, index: DataFrame,
                              idCol: String): DataFrame =
    spanScores(spanProbe(spanRows, index), idCol)

  /** The span probe of one batch against an index: one row per
    * distinct (id, h) span, `nd` = within-batch holder count when
    * ≥ 2 (else null), `seen` = 1 when the index holds h (else null).
    * The streaming faces persist it and derive BOTH the per-doc
    * scores ([[spanScores]]) and the index append
    * ([[unmatchedSpans]]) from it, so the index is read once per
    * micro-batch.
    */
  def spanProbe(spanRows: DataFrame, index: DataFrame): DataFrame = {
    val spans = spanRows.select(col("id"), col("h")).dropDuplicates("id", "h")
    val withDf = joinKeyStats(spans, "h",
      Seq(count(lit(1)).as("nd")), col("nd") >= 2, "left")
    val idx = index.select(col("h")).distinct().withColumn("seen", lit(1))
    withDf.join(idx.hint("merge"), Seq("h"), "left")
  }

  /** Per-doc (idCol, n_spans, n_dup, dup_frac) of a [[spanProbe]]. */
  def spanScores(probe: DataFrame, idCol: String): DataFrame =
    probe.groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"),
        count(when(col("nd").isNotNull || col("seen").isNotNull, 1)).as("n_dup"))
      .select(col("id").as(idCol), col("n_spans"), col("n_dup"),
        (col("n_dup") / col("n_spans")).as("dup_frac"))

  /** The distinct span hashes of a [[spanProbe]] the index does not
    * hold — exactly the anti join of the batch's spans against the
    * probed view, i.e. the batch's O(batch) index append.
    */
  def unmatchedSpans(probe: DataFrame): DataFrame =
    probe.filter(col("seen").isNull).select(col("h")).distinct()

  /** One row per k-token shingle, carrying only the shingle's 64-bit
    * hash: tokens are exploded and hashed together with their k-1
    * successors via window `lead` — no shingle string is ever built,
    * everything stays in whole-stage codegen. Documents shorter than
    * k tokens contribute one whole-text hash. Duplicate shingles are
    * kept (min/collect_set downstream are multiset-safe).
    */
  def shingleHashes(df: DataFrame, idCol: String, textCol: String,
                    shingleK: Int = 3): DataFrame = {
    // pre-partition by doc id: parallelizes the tokenize/hash even
    // when the source is a single parquet row group, and the
    // downstream groupBy(id) reuses this partitioning (no re-shuffle).
    // Round-18 optimization: the per-doc codegen kernel
    // [[graft.plans.TextHash.shingleXx64]] replaces the former
    // posexplode + Window.lead + xxhash64 shape — values pinned
    // bit-identical by TextHashSpec; the per-partition window sort and
    // the per-token rows disappear (the window stage was ~21 CPU-s per
    // edge-family query at sf0.1).
    val spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
    spread.select(col(idCol).as("id"),
      explode(graft.plans.TextHashCols.shingleXx64(
        col(textCol), shingleK, fallback = true)).as("h"))
  }

  /** Kirsch–Mitzenmacher double hashing: the i-th derived MinHash
    * permutation is (h1 + i·h2) mod (2⁶¹−1), with h1/h2 two
    * independent md5-derived values. Sized so plain signed-64 math is
    * exact in ANY engine: h1 < 2⁶⁰ (15 hex chars), h2 < 2⁵⁶ (14 hex
    * chars), so h1 + 63·h2 < 2⁶³ — no overflow, no 128-bit types.
    * This is what makes the signatures PORTABLE: a DuckDB oracle
    * reproduces them bit-for-bit from md5 + integer ops (the
    * q_approx_distinct portable-HLL precedent).
    *
    * COMPATIBILITY (round 17 changelog): this rebuild changed every
    * emitted minhash signature and simhash value — minhash/simhash
    * artifacts persisted by rounds < 17 (signatures, band buckets,
    * candidate sets) are silently incompatible and must be
    * regenerated; there is no cross-version merge. The deliberate
    * trade: two md5s per shingle instead of one xxhash64 (CPU-linear
    * in corpus size — ~1.5× on the sf0.1 signature path) bought hard
    * DuckDB gates for the two heaviest formerly-spec-invariant rows.
    */
  private val MersennePrime61 = 2305843009213693951L // 2^61 - 1

  /** MinHash signatures, one row per doc: `numHashes` codegen'd `min`
    * aggregates over portable double-hash permutations of the doc's
    * DISTINCT shingle strings (min over a set equals min over the
    * multiset, so distinct is free). All md5/arithmetic stays in
    * whole-stage codegen; an engine-neutral oracle can reproduce the
    * exact signatures — see the q_dedup_minhash oracle SQL.
    * The groupBy reuses the explode's (id) partitioning: one shuffle.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 3, numHashes: Int = 64): DataFrame = {
    require(numHashes <= 64, "numHashes > 64 would overflow h1 + i*h2")
    // Round-18 optimization: the whole signature is computed per
    // DOCUMENT row by the codegen kernel
    // [[graft.plans.TextHash.minhashSig]] — the shingle explode, the
    // two md5→substr→conv→cast chains per shingle row and the
    // 64-column min aggregate (and its shuffle) disappear; md5 still
    // runs once per DISTINCT shingle exactly like the array_distinct
    // form. Values pinned bit-identical by TextHashSpec against the
    // original aggregate formulation; the q_dedup_minhash oracle SQL
    // is unchanged. The repartition keeps the single-row-group source
    // parallel and keys by id so downstream per-doc joins reuse it.
    val spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
    spread.select(col(idCol).as("id"),
      graft.plans.TextHashCols.minhashSig(col(textCol), shingleK, numHashes).as("sig"))
      // NULL text has no shingle set and therefore no signature — drop
      // it explicitly (the simhashes convention) rather than letting a
      // null sig band into a shared null-slice bucket whose pairs all
      // carry null est_jaccard (ADVICE r18: the pre-kernel form
      // coerced null token arrays to the "" shingle instead; neither
      // behavior was pinned, this one is the documented intent)
      .filter(col("sig").isNotNull)
  }

  /** LSH candidate pairs: band the signature (bands × rowsPerBand =
    * numHashes), hash each band, shuffle only (id, band, bandHash),
    * and generate pairs inside each bucket. Buckets of size 1 are
    * skipped; buckets larger than `maxBucket` (boilerplate shingles)
    * are dropped — the standard skew guard, counted in
    * [[graft.plans.SortedRunPairs]]' SQL metrics.
    *
    * Returns (id_a, id_b, est_jaccard) with est_jaccard = fraction of
    * matching signature components. `idCol` must be long.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 3, numHashes: Int = 64,
                        bands: Int = 16, maxBucket: Int = 1000): DataFrame = {
    requireLongIds("Dedup.minhashCandidates", df, idCol)
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    // the signature table is read three times (banding + both sides of
    // the pair join); persist it — rows × ~520 B, the standard LSH
    // materialization. MEMORY_ONLY (not _AND_DISK) deliberately: the
    // returned DataFrame is lazy so this operator can't unpersist, and
    // memory-only blocks are LRU-EVICTED under pressure (recomputed on
    // miss) whereas disk-demoted blocks would accumulate until session
    // shutdown in long-lived sessions. Registered with CacheHandles so
    // services (and Bench/Verify) release deterministically.
    val sigs = graft.plans.CacheHandles.track("dedup.minhash.sigs",
      minhashSignatures(df, idCol, textCol, shingleK, numHashes)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY))
    // eager: banding + both est-join sides are CONCURRENT AQE stages —
    // a lazily-persisted table computes once per in-flight stage (see
    // sharedShingleEdges)
    sigs.count()
    estPairsForBanding(sigs, bands, rowsPerBand, numHashes, maxBucket)
  }

  /** Band the (cached) signature table into `bands` buckets, pair
    * within buckets, and join signatures back for est_jaccard — the
    * banding-parameterized core of [[minhashCandidates]].
    * [[lshBandSweep]] produces the same pair set per config with its
    * own config-keyed machinery (CalibrationQueriesSpec pins it).
    */
  private def estPairsForBanding(sigs: DataFrame, bands: Int,
                                 rowsPerBand: Int, numHashes: Int,
                                 maxBucket: Int): DataFrame = {
    // unrolled at plan-build time: band b hashes signature rows [b*R, (b+1)*R)
    val bandHashes = (0 until bands).map { b =>
      xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand), lit(b))
    }
    val banded = sigs
      .select(col("id"), posexplode(array(bandHashes: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    // id-only pairs in buckets (a pair found in several bands would
    // otherwise materialize its two 64-long signatures once per band);
    // signatures join back once per distinct pair
    // payload joins merge-hinted (the ngramJaccard precedent): both
    // sides are corpus-derived explode descendants, and a tiny-SF
    // size estimate must not broadcast either build. No repartition
    // ahead of the pair operator: its required distribution places
    // the one (band, bkey) exchange.
    graft.plans.SortedRunPairs.pairs(banded, maxBucket)
      .dropDuplicates("id_a", "id_b")
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
        .hint("merge"), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b"))
        .hint("merge"), "id_b")
      .select(col("id_a"), col("id_b"),
        // round-18: codegen equal-position count instead of the
        // interpreted zip_with/filter/size chain (ArrayPairsSpec pins
        // value equality)
        (graft.plans.ArrayPairsCols.arrayEqCount(col("sig_a"), col("sig_b"))
          .cast("double") / numHashes).as("est_jaccard"))
  }

  /** LSH band/row sweep — the knob-picking survival curve for a
    * 100 TB near-dup run (the q_threshold_sweep shape applied to the
    * LSH S-curve): for each band count b (rows r = numHashes/b), the
    * candidate volume the banding would generate and how much of it
    * is above the est-jaccard gates. More bands → the S-curve shifts
    * left → more recall, more junk candidates; this measures the
    * trade ON THE ACTUAL CORPUS before committing the full run.
    *
    * The corpus is signed ONCE (one text scan, the shared cached
    * signature table); each config pays only its banding + in-bucket
    * pairing. The sweep keeps its own config-keyed collect_list +
    * LongPairs machinery (the `cfg` column rides each bucket), and per
    * config its bucket contents, cap rule and pair set are those of
    * [[minhashCandidates]] (CalibrationQueriesSpec pins the equality).
    * `idCol` must be long. Output: one row per config — (n_bands,
    * rows_per_band, n_candidates, n_ge_03, n_ge_05), all counts,
    * engine-exact (est thresholds compare dyadic k/64 values, so
    * ≥0.3 ⟺ k ≥ 20 in any engine).
    */
  def lshBandSweep(df: DataFrame, idCol: String, textCol: String,
                   bandConfigs: Seq[Int] = Seq(8, 16, 32),
                   shingleK: Int = 3, numHashes: Int = 64,
                   maxBucket: Int = 1000): DataFrame = {
    requireLongIds("Dedup.lshBandSweep", df, idCol)
    require(bandConfigs.nonEmpty && bandConfigs.forall(b =>
      b > 0 && numHashes % b == 0),
      s"each band count must divide numHashes=$numHashes")
    val spark = df.sparkSession
    val sigs = graft.plans.CacheHandles.track("dedup.lshSweep.sigs",
      minhashSignatures(df, idCol, textCol, shingleK, numHashes)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY))
    // eager: the banding fan-out consumes the cache concurrently (see
    // sharedShingleEdges)
    sigs.count()
    // Round-19 wave 3: ONE banding → bucket → pair → est chain for ALL
    // configs, keyed by a `cfg` column, instead of one full chain per
    // config union'd at the end — the per-config form serialized ~7
    // small stages × |configs| (profiled ~20 sequential stages at
    // sf0.1, most under 0.5 s: pure scheduling floor). Per config the
    // bucket contents, the capped-drop rule, the distinct pair set and
    // every est_jaccard are IDENTICAL: (cfg, band, bkey) grouping with
    // cfg constant within a config degenerates to the old (band, bkey)
    // grouping, dropDuplicates carries cfg, and the band hash still
    // seeds from the within-config band index. Each config therefore
    // still evaluates [[minhashCandidates]]' bucket/pair/est
    // semantics, with one scheduling chain for all configs.
    val entries = bandConfigs.flatMap { bands =>
      val rowsPerBand = numHashes / bands
      (0 until bands).map { b =>
        struct(lit(bands).as("cfg"), lit(b).as("band"),
          xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand),
            lit(b)).as("bkey"))
      }
    }
    val banded = sigs.select(col("id"), explode(array(entries: _*)).as("e"))
      .select(col("id"), col("e.cfg").as("cfg"), col("e.band").as("band"),
        col("e.bkey").as("bkey"))
    // collect_list buckets with cfg carried through the grouping, the
    // cap observation, and the pair dedup (per-config observes were
    // never asserted; the combined metric keeps the mis-sized-banding
    // signal)
    val buckets = banded
      .groupBy("cfg", "band", "bkey")
      .agg(collect_list(col("id")).as("ms"))
      .filter(size(col("ms")) >= 2)
      .observe("lsh_sweep_drops",
        sum(when(size(col("ms")) > maxBucket, 1L).otherwise(0L)).as("dropped_buckets"),
        sum(when(size(col("ms")) > maxBucket, size(col("ms")).cast("long"))
          .otherwise(0L)).as("dropped_ids"),
        count(lit(1)).as("candidate_buckets"))
      .filter(size(col("ms")) <= maxBucket)
    // round-robin spread before the quadratic explode: the bucket rows
    // are bytes-small, so AQE would coalesce the aggregate's exchange
    // onto few tasks and the explode would amplify inside them
    val pairs = buckets
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("cfg"),
        explode(graft.plans.ArrayPairsCols.longPairs(col("ms"))).as("pair"))
      .select(col("cfg"), col("pair.id_a").as("id_a"), col("pair.id_b").as("id_b"))
      .dropDuplicates("cfg", "id_a", "id_b")
    val est = pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
        .hint("merge"), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b"))
        .hint("merge"), "id_b")
      .select(col("cfg"),
        (graft.plans.ArrayPairsCols.arrayEqCount(col("sig_a"), col("sig_b"))
          .cast("double") / numHashes).as("est_jaccard"))
    val counts = est.groupBy("cfg")
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("est_jaccard") >= 0.3, 1L).otherwise(0L)).as("n_ge_03"),
        sum(when(col("est_jaccard") >= 0.5, 1L).otherwise(0L)).as("n_ge_05"))
    // a config whose banding yields ZERO candidates must still emit its
    // zero row — the old per-config global agg always returned one row;
    // a groupBy would silently drop it. The config table is literal-
    // sized, the join broadcasts.
    import spark.implicits._
    val cfgs = bandConfigs.map(b => (b, numHashes / b))
      .toDF("n_bands", "rows_per_band")
    cfgs.join(broadcast(counts.withColumnRenamed("cfg", "n_bands")),
        Seq("n_bands"), "left")
      .select(col("n_bands"), col("rows_per_band"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_ge_03"), lit(0L)).as("n_ge_03"),
        coalesce(col("n_ge_05"), lit(0L)).as("n_ge_05"))
  }

  /** The id check of every long-id pair entry point: `idCol` of `df`
    * must be BIGINT. It reads the analyzed schema only (no job), so a
    * caller with another id type gets this error up front instead of
    * a codegen type mismatch or a driver ClassCastException mid-run.
    */
  private[graft] def requireLongIds(fn: String, df: DataFrame, idCol: String): Unit = {
    val t = df.schema(idCol).dataType
    require(t == LongType,
      s"$fn: id column '$idCol' must be bigint, got ${t.simpleString}")
  }

  /** Boilerplate detection: the most frequent k-token shingles across
    * the corpus (headers, footers, license blurbs repeat verbatim).
    * One hash shuffle on the shingle string; count-desc ranking.
    * Downstream: strip documents containing top-boilerplate shingles,
    * or exclude those shingles from minhash signatures so boilerplate
    * doesn't glue unrelated documents into near-dup clusters.
    */
  def frequentShingles(df: DataFrame, textCol: String,
                       shingleK: Int = 3, minCount: Long = 2L): DataFrame = {
    // round-robin spread: the groupBy below shuffles by shingle anyway,
    // so no keyed layout is worth pre-building — this only parallelizes
    // the tokenize/explode out of a single-row-group scan
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(explode(shingles(col(textCol), shingleK)).as("shingle"))
      .groupBy("shingle")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
  }

  /** Exact near-dup edges: pairs of documents sharing at least
    * `minShared` distinct k-token shingles. The df band is the scale
    * control: shingles in fewer than `minDf` docs can't form a pair,
    * and shingles in more than `maxDf` docs (boilerplate) are dropped
    * BEFORE pair generation, bounding the per-shingle join fan-out to
    * maxDf² — the same degenerate-bucket guard as LSH banding, but
    * exact. One shuffle on the 64-bit shingle hash; the df band and
    * the holder lists come from one map-side-combinable groupBy(h)
    * with a bounded collect (NOT a window: a boilerplate shingle's
    * window group would buffer in one task), and pair generation runs
    * the LongPairs kernel over those bounded per-shingle groups.
    * `idCol` must be long. Feed the result (with
    * [[graft.operators.ConnectedComponents]]) to turn near-dup pairs
    * into canonical clusters; at extreme scale swap in
    * [[minhashCandidates]] edges — same downstream shape.
    */
  def sharedShingleEdges(df: DataFrame, idCol: String, textCol: String,
                         shingleK: Int = 3, minShared: Int = 5,
                         minDf: Int = 2, maxDf: Int = 20): DataFrame = {
    requireLongIds("Dedup.sharedShingleEdges", df, idCol)
    val sh = shingleHashes(df, idCol, textCol, shingleK).dropDuplicates("id", "h")
    // Round 19 wave 5: the df band and the per-h holder lists come
    // from ONE groupBy(h) over ONE evaluation of the shingle table —
    // exact count(1) + [[graft.plans.BoundedCollectLong]] capped at
    // maxDf (a group over the cap evaluates to null, never to a
    // truncated array), then the df filter. The former shape computed df via
    // joinKeyStats (a stats aggregate + a merge SEMI-JOIN with its two
    // sort legs, over a persisted+eagerly-counted sh cache because the
    // two references ran as concurrent AQE stages) and only then
    // collected the surviving holders in a SECOND groupBy. The bounded
    // collect removes the scale hazard that forced the two-pass shape:
    // a boilerplate shingle held by the whole corpus buffers at most
    // maxDf longs per aggregation buffer (never a corpus-sized
    // array), while every group that passes _df ≤ maxDf is within
    // the cap and therefore collected COMPLETELY — the (h → id
    // multiset) map is identical to the semi-join + collect_list form,
    // and the single consumer means the persist + count materialization
    // pass disappears too. Pair semantics unchanged from the wave-1
    // rewrite: ids distinct per h, all (a, b) with b > a ≡ the old
    // self-join's id_a < id_b rows, exact integer shared counts, same
    // oracle.
    sh.groupBy("h").agg(count(lit(1)).as("_df"),
        graft.plans.BoundedCollect.boundedCollectLong(col("id"), math.max(maxDf, 1)).as("ms"))
      .filter(col("_df").between(minDf, maxDf))
      // round-robin spread before the quadratic explode: bucket rows
      // are bytes-small, so AQE would coalesce the tiny aggregate
      // output onto few tasks and the explode amplifies inside them
      .repartition(sh.sparkSession.sparkContext.defaultParallelism)
      .select(explode(graft.plans.ArrayPairsCols.longPairs(col("ms"))).as("pair"))
      .select(col("pair.id_a").as("id_a"), col("pair.id_b").as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Exact n-gram Jaccard on candidate pairs: re-attach shingle-hash
    * sets and compute |∩| / |∪| — the verify step after LSH. Operates
    * on 64-bit shingle hashes (Jaccard identical to the string-set
    * value modulo 2⁻⁶⁴ collisions), so set ops compare longs, not
    * strings.
    */
  def ngramJaccard(df: DataFrame, candidates: DataFrame, idCol: String,
                   textCol: String, shingleK: Int = 3): DataFrame = {
    // the sh aggregate feeds BOTH join sides: without a persist each
    // side recomputes the full tokenize→explode→window→collect_set
    // chain AND pays its own sort under the merge hints — the r9 bench
    // showed that as a 3× wall cost with unstable warm iterations.
    // MEMORY_ONLY for the same reason as minhashCandidates' sigs (lazy
    // return → can't unpersist here; LRU-evictable beats disk-demoted);
    // CacheHandles-tracked for deterministic release
    // sort_array into the cache (round 19): the per-pair verify is the
    // zero-allocation SortedInterCount merge kernel instead of
    // array_intersect + array_union, each of which builds a hash set
    // and MATERIALIZES its result array per candidate pair only for
    // size() to count it. |A∪B| = |A| + |B| − |A∩B| exactly (distinct
    // sets), so the two set ops collapse to one merge pass; identical
    // integers divide, so the jaccard doubles are bit-identical.
    val sh = graft.plans.CacheHandles.track("dedup.ngramJaccard.shingleSets",
      shingleHashes(df, idCol, textCol, shingleK)
        .groupBy("id").agg(sort_array(collect_set(col("h"))).as("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY))
    sh.count() // eager: both join sides are concurrent AQE stages
    // merge-hinted: the sh side carries collect_set arrays built from
    // an explode — letting the planner broadcast it on size-only
    // stats risks an arbitrarily-underestimated build (see
    // sharedShingleEdges); both joins key-shuffle by id instead
    val inter = graft.plans.ArrayPairsCols.sortedInterCount(col("sh_a"), col("sh_b"))
    candidates
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")).hint("merge"), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")).hint("merge"), "id_b")
      .select(col("id_a"), col("id_b"),
        (inter.cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - inter)).as("jaccard"))
  }

  /** Asymmetric n-gram containment on candidate pairs:
    * cont_a = |A∩B| / |A| and cont_b = |A∩B| / |B|. Containment is
    * the quote/subset detector Jaccard structurally misses — a short
    * doc fully embedded in a long one has cont_short = 1.0 but a
    * Jaccard near |short|/|long|. Same hashed-shingle-set mechanics
    * as [[ngramJaccard]] (set ops compare longs, not strings); both
    * ratios divide the same integers in any engine, so the doubles
    * are bit-identical to a SQL oracle's.
    */
  def ngramContainment(df: DataFrame, candidates: DataFrame, idCol: String,
                       textCol: String, shingleK: Int = 3): DataFrame = {
    // persisted for the same both-join-sides reason as [[ngramJaccard]];
    // sorted into the cache for the SortedInterCount merge kernel
    // (same bit-identity argument as ngramJaccard — inter is the same
    // integer, the divisors are plain size())
    val sh = graft.plans.CacheHandles.track("dedup.ngramContainment.shingleSets",
      shingleHashes(df, idCol, textCol, shingleK)
        .groupBy("id").agg(sort_array(collect_set(col("h"))).as("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY))
    sh.count() // eager: both join sides are concurrent AQE stages
    val inter = graft.plans.ArrayPairsCols
      .sortedInterCount(col("sh_a"), col("sh_b")).cast("double")
    // merge-hinted for the same reason as ngramJaccard: never let the
    // planner broadcast a collect_set-of-explode build side
    candidates
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")).hint("merge"), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")).hint("merge"), "id_b")
      .select(col("id_a"), col("id_b"),
        (inter / size(col("sh_a"))).as("cont_a"),
        (inter / size(col("sh_b"))).as("cont_b"))
  }

  /** SimHash bit width: 60 — the width of one PORTABLE md5-derived
    * hash (15 hex chars fit a signed 64-bit integer in any engine),
    * so a SQL oracle reproduces every simhash bit-for-bit. The lost
    * 4 bits cost ~6% hamming resolution, irrelevant at maxHamming ≤ 7.
    */
  val SimhashBits = 60

  /** 60-bit SimHash per doc: explode tokens, hash each occurrence
    * once, then 60 codegen'd ±1 sums (bit i of the token hash decides
    * the sign) and a final sign→bit assembly. Map-side combine
    * collapses to one row per doc before the single shuffle (the
    * groupBy reuses the explode's (id) partitioning). Portable: the
    * hash is md5-derived (see [[minhashSignatures]]), so the
    * q_dedup_simhash oracle reproduces the exact hashes.
    */
  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Round-18 optimization: per-doc codegen kernel
    // [[graft.plans.TextHash.simhashSig]] — the token explode, the
    // md5-prefix chain per occurrence row and the 60-column vote
    // aggregate (and its shuffle) disappear; md5 runs once per
    // DISTINCT token with integer occurrence-count weighting (exactly
    // the same vote sums). Zero-token docs return null and are
    // filtered, matching the explode form's emit-nothing. Pinned
    // bit-identical by TextHashSpec; the oracle SQL is unchanged.
    val spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
    spread.select(col(idCol).as("id"),
      graft.plans.TextHashCols.simhashSig(col(textCol)).as("sh"))
      .filter(col("sh").isNotNull)
  }

  /** Near-dup pairs by SimHash hamming distance ≤ maxHamming:
    * pigeonhole over maxHamming+1 bands — a pair within distance d
    * can differ in at most d bands, so with d+1 bands at least one
    * band matches exactly — then exact popcount verify on the pair.
    * Band widths adapt to the band count ([[SimhashBits]] bits split
    * as evenly as possible); more bands = more candidate volume, so
    * keep maxHamming small (≤ 7 is sensible). `idCol` must be long.
    *
    * Buckets above `maxBucket` are dropped, and the drop is observed
    * as `lsh_drops_simhash` (`dropped_buckets`, `dropped_ids`,
    * `candidate_buckets` — multi-member buckets, dropped included) in
    * `queryExecution.observedMetrics`, the
    * [[Similarity.embeddingNearDupsAxis]] convention. Under AQE a run
    * whose every bucket is dropped loses the metric (see
    * [[graft.plans.SortedRunPairs]]).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    requireLongIds("Dedup.simhashPairs", df, idCol)
    require(maxHamming >= 0 && maxHamming < 32, "maxHamming must be in [0, 32)")
    val nBands = maxHamming + 1
    val base = SimhashBits / nBands
    val extra = SimhashBits % nBands // first `extra` bands get one more bit
    val offsets = (0 until nBands).scanLeft(0)((acc, b) =>
      acc + base + (if (b < extra) 1 else 0))
    val sh = simhashes(df, idCol, textCol)
    val bandCols = (0 until nBands).map { b =>
      val width = base + (if (b < extra) 1 else 0)
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      shiftright(col("sh"), offsets(b)).bitwiseAND(lit(mask))
    }
    val banded = sh.select(col("id"), col("sh"), posexplode(array(bandCols: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    // The 8-byte simhash travels INTO the bucket, so the hamming
    // filter runs before any pair materializes — on text with
    // correlated band values (boilerplate-heavy corpora) the raw
    // in-bucket pair count can be 10-50× the surviving pairs, and
    // filtering pre-dedup keeps that volume out of the shuffle.
    val buckets = banded
      .groupBy("band", "bkey")
      .agg(collect_list(struct(col("id"), col("sh"))).as("ms"))
      .filter(size(col("ms")) >= 2)
      .observe("lsh_drops_simhash",
        sum(when(size(col("ms")) > maxBucket, 1L).otherwise(0L)).as("dropped_buckets"),
        sum(when(size(col("ms")) > maxBucket, size(col("ms")).cast("long"))
          .otherwise(0L)).as("dropped_ids"),
        count(lit(1)).as("candidate_buckets"))
      .filter(size(col("ms")) <= maxBucket)
    // round-robin repartition pre-explode: AQE coalesces the
    // bytes-small bucket exchange into one task and the quadratic
    // explode would amplify inside it. The in-bucket hamming pairs run
    // in the codegen kernel (round 18; ArrayPairsSpec pins equality).
    buckets
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(explode(graft.plans.ArrayPairsCols.simhashBucketPairs(
        col("ms"), maxHamming)).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.hamming").as("hamming"))
      .dropDuplicates("id_a", "id_b")
  }
}
