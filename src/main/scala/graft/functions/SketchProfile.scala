package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted per-source corpus PROFILE as mergeable sketch state —
  * distinct tokens (DataSketches HLL), length quantiles (KLL), exact
  * doc/token counts — maintained incrementally in O(batch) work.
  *
  * The profile answers the monitoring questions a 100 TB ingest asks
  * continuously (how many distinct tokens per source? how is the
  * length distribution drifting? how much arrived?) WITHOUT ever
  * re-scanning the corpus: every batch contributes a few KB of sketch
  * bytes per source, and the current profile is a fold over base +
  * deltas with the sketches' own union operation — distributive by
  * construction (HLL registers are per-slot max, so the fold is
  * EXACTLY the whole-corpus sketch; KLL merge honors the same rank
  * bound as a direct sketch).
  *
  * Layout under a [[graft.operators.Versioned]] root:
  * {{{
  *   _v=N/profile/    (source, hll, kll, n_docs, n_tokens)
  *   _v=N/delta_K/profile/  one batch's partial, plus _TAG_<tag>
  * }}}
  *
  * Replay discipline: sketch merging is NOT idempotent (merging the
  * same batch twice double-counts), so appends carry a caller batch
  * tag and [[appendBatch]] refuses to commit a tag it has already
  * committed — the streaming face derives the tag from the
  * checkpoint's query id + batch id, making redelivery a no-op (the
  * hash-index convention, load-bearing here rather than advisory).
  */
object SketchProfile {

  private def profileOf(batch: DataFrame, idCol: String, textCol: String,
                        srcCol: String): DataFrame = {
    import graft.plans.KllQuantiles._
    val toks = graft.Tables.spread(batch)
      .select(col(srcCol).as("source"), col(idCol).as("id"),
        explode(Dedup.tokens(col(textCol))).as("t"))
    // one pass: per-source HLL over tokens + token count; doc count
    // and KLL(length) ride the per-doc pre-aggregate so the big
    // explode feeds exactly one aggregation
    val perDoc = toks.groupBy("source", "id").agg(
      hll_sketch_agg(col("t")).as("hll_d"), count(lit(1)).as("n_t"))
    perDoc.groupBy("source").agg(
      hll_union_agg(col("hll_d")).as("hll"),
      kll_sketch_agg(col("n_t").cast("double")).as("kll"),
      count(lit(1)).as("n_docs"),
      sum("n_t").as("n_tokens"))
  }

  /** Build and commit a fresh profile version from the full corpus. */
  def writeIndex(docs: DataFrame, idCol: String, textCol: String,
                 srcCol: String, path: String): String = {
    val spark = docs.sparkSession
    graft.operators.Versioned.commitNew(spark, path) { dir =>
      profileOf(docs, idCol, textCol, srcCol).write.parquet(s"$dir/profile")
    }
  }

  /** Append ONE batch's profile partial as a delta. `tag` is the
    * replay guard: a tag already committed returns None and commits
    * nothing (sketch merges are not idempotent — this check is what
    * makes redelivery safe). Untagged appends are for non-replayable
    * callers only.
    */
  def appendBatch(batch: DataFrame, idCol: String, textCol: String,
                  srcCol: String, path: String,
                  tag: Option[String] = None): Option[String] =
    // the shared TaggedProfile protocol: cheap pre-check outside the
    // lock, AUTHORITATIVE duplicate test re-evaluated under the
    // writer _LOCK via commitDeltaIf (a double sketch merge
    // double-counts)
    graft.operators.TaggedProfile.appendTagged(
      batch.sparkSession, path, "sketch profile", tag) { dir =>
      profileOf(batch, idCol, textCol, srcCol).write.parquet(s"$dir/profile")
    }

  /** Every batch tag this version has absorbed: the folded `tags/`
    * table a compaction writes, plus the live deltas' `_TAG_` files.
    * Tags MUST survive compaction — unlike the content-idempotent
    * hash indexes, re-merging a sketch batch double-counts, so a
    * replayed batch whose tag a compaction discarded would re-append.
    * A tag is ~50 bytes; the table grows with batch count, not data.
    */
  def committedTags(spark: SparkSession, versionDir: String): Set[String] =
    graft.operators.TaggedProfile.committedTags(spark, versionDir)

  /** The current folded profile: per-source sketch unions + exact
    * count sums over base + deltas. Kilobytes of input per source per
    * delta — the fold never touches corpus data.
    */
  def readProfile(spark: SparkSession, versionDir: String): DataFrame = {
    import graft.plans.KllQuantiles._
    graft.operators.Versioned.readTable(spark, versionDir, "profile")
      .groupBy("source").agg(
        hll_union_agg(col("hll")).as("hll"),
        kll_merge_agg(col("kll")).as("kll"),
        sum("n_docs").as("n_docs"),
        sum("n_tokens").as("n_tokens"))
  }

  /** Human-facing estimates from the folded profile. */
  def readEstimates(spark: SparkSession, versionDir: String): DataFrame = {
    import graft.plans.KllQuantiles._
    readProfile(spark, versionDir).select(
      col("source"),
      hll_sketch_estimate(col("hll")).as("est_distinct_tokens"),
      kll_quantiles(col("kll"), Seq(0.5, 0.9, 0.99)).as("len_quantiles"),
      col("n_docs"), col("n_tokens"))
  }

  /** Fold base + deltas into a fresh deltaless version (resolution
    * inside the writer lock — the compactLexicalIndex discipline).
    * The absorbed batch tags fold into `tags/` so a replayed batch
    * stays refused across compactions (see [[committedTags]]).
    */
  def compactIndex(spark: SparkSession, path: String): String =
    graft.operators.TaggedProfile.compactWithTags(
      spark, path, "sketch profile") { (vdir, dir) =>
      readProfile(spark, vdir).write.parquet(s"$dir/profile")
    }
}
