package graft.functions

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted corpus-health PROFILE: exact per-(source, n_chars)
  * document counts as MERGEABLE partials, maintained incrementally in
  * O(batch) work — the persisted face of the wave-15 health family
  * (the [[SketchProfile]] pattern with exact histograms instead of
  * sketch bytes).
  *
  * The profile answers "did this source's length distribution drift"
  * (the exact two-sample KS of q_ks_test) at any moment WITHOUT
  * re-scanning the corpus: each ingest batch contributes one
  * (source × distinct-lengths)-bounded count table, partials merge by
  * ADDITION (distributive, so the fold equals a from-scratch scan
  * bit-exactly — spec-pinned), and serving reads fold KBs per delta.
  *
  * Layout under a [[graft.operators.Versioned]] root:
  * {{{
  *   _v=N/hist/             (source, n_chars, c) base partial
  *   _v=N/delta_K/hist/     one batch's partial, plus _TAG_<tag>
  *   _v=N/tags/             batch tags folded by compaction
  * }}}
  *
  * Replay discipline: count addition is NOT idempotent (merging one
  * batch twice double-counts), so appends carry a caller batch tag
  * and [[appendBatch]] refuses a tag it has already absorbed — the
  * [[SketchProfile.appendBatch]] convention, with the duplicate test
  * re-evaluated under the writer lock via `commitDeltaIf`.
  */
object HealthProfile {

  private def histOf(batch: DataFrame, srcCol: String,
                     lenCol: String): DataFrame =
    batch.groupBy(col(srcCol).as("source"), col(lenCol).as("n_chars"))
      .agg(count(lit(1)).as("c"))

  /** Build and commit a fresh profile version from the full corpus. */
  def writeIndex(docs: DataFrame, srcCol: String, lenCol: String,
                 path: String): String = {
    val spark = docs.sparkSession
    graft.operators.Versioned.commitNew(spark, path) { dir =>
      histOf(docs, srcCol, lenCol).write.parquet(s"$dir/hist")
    }
  }

  /** Append ONE batch's histogram partial as a delta; `tag` is the
    * replay guard (a committed tag returns None and commits nothing —
    * the shared [[graft.operators.TaggedProfile]] protocol, guard
    * re-evaluated under the writer lock).
    */
  def appendBatch(batch: DataFrame, srcCol: String, lenCol: String,
                  path: String, tag: Option[String] = None): Option[String] =
    graft.operators.TaggedProfile.appendTagged(
      batch.sparkSession, path, "health profile (HealthProfile.writeIndex)",
      tag) { dir =>
      histOf(batch, srcCol, lenCol).write.parquet(s"$dir/hist")
    }

  /** Every batch tag this version has absorbed (tags must survive
    * compaction because count merges are not idempotent).
    */
  def committedTags(spark: SparkSession, versionDir: String): Set[String] =
    graft.operators.TaggedProfile.committedTags(spark, versionDir)

  /** The current folded histogram: per-(source, n_chars) count sums
    * over base + deltas — KBs of input per delta, never corpus data.
    */
  def readHist(spark: SparkSession, versionDir: String): DataFrame =
    graft.operators.Versioned.readTable(spark, versionDir, "hist")
      .groupBy("source", "n_chars").agg(sum("c").as("c"))

  /** Exact two-sample KS per source vs rest-of-corpus from a
    * (source, n_chars, c) histogram — the SHARED math behind the
    * in-job q_ks_test and the profile-served q_ks_test_indexed
    * (identical results by construction). See CorpusHealthQueries
    * row 152 for the no-global-window grid design; single-source
    * corpora are excluded (F_rest is 0/0).
    */
  def ksFromHist(c: DataFrame): DataFrame = {
    val xs = c.select("n_chars").distinct()
    val srcs = c.groupBy("source").agg(sum("c").as("n_s"))
    val nTot = c.agg(sum("c").as("n_all"))
    val grid = srcs.crossJoin(broadcast(xs))
      .join(c, Seq("source", "n_chars"), "left")
      .na.fill(0L, Seq("c"))
    val w = Window.partitionBy("source").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cums = grid.withColumn("cum_s", sum("c").over(w))
    val cumG = cums.groupBy("n_chars").agg(sum("cum_s").as("cum_g"))
    val dStat =
      abs(col("cum_s").cast("double") / col("n_s") -
        (col("cum_g") - col("cum_s")).cast("double") /
          (col("n_all") - col("n_s")))
    cums.join(cumG, Seq("n_chars"))
      .crossJoin(broadcast(nTot))
      .filter(col("n_all") > col("n_s"))
      .groupBy("source")
      .agg(max(col("n_s")).as("n_docs"), max(dStat).as("_ks"))
      .select(col("source"), col("n_docs"),
        EngineNeutral.roundHalfUp(col("_ks"), 6).as("ks"))
      .orderBy("source")
  }

  /** KS drift report served from the committed profile — the
    * monitoring read a 100 TB pipeline runs per ingest round for the
    * cost of folding histogram partials.
    */
  def readKs(spark: SparkSession, versionDir: String): DataFrame =
    ksFromHist(readHist(spark, versionDir))

  /** Fold base + deltas into a fresh deltaless version; absorbed tags
    * fold into `tags/` so replayed batches stay refused (the shared
    * [[graft.operators.TaggedProfile]] compaction).
    */
  def compactIndex(spark: SparkSession, path: String): String =
    graft.operators.TaggedProfile.compactWithTags(
      spark, path, "health profile (HealthProfile.writeIndex)") { (vdir, dir) =>
      readHist(spark, vdir).write.parquet(s"$dir/hist")
    }
}
