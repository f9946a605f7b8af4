package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The boilerplate-skew gate for the span/shingle/segment family
  * (VERDICT r9 ask #1): these operators exist for corpora where ONE
  * span (a license header, a templated intro) sits in ~every
  * document. A `Window.partitionBy(spanHash)` computes document
  * frequency correctly at small SF but buffers each hash group in a
  * single task (ExternalAppendOnlyUnsafeRowArray) — and AQE does not
  * split windows — so the common case at 100 TB is a guaranteed
  * multi-GB one-task straggler. The scale-safe shape is
  * [[graft.functions.Dedup.joinKeyStats]]: map-side-combinable
  * groupBy stats merge-joined back. The hot span still runs in one
  * task there (AQE does not skew-split that join: its stats side is
  * not a bare shuffle stage), but the merge join streams its rows
  * instead of buffering the group.
  *
  * Two gates:
  *  1. structural — no WindowExec in any family plan partitions by an
  *     unbounded-cardinality hash key (windows over the doc id are
  *     fine: group size is bounded by document length);
  *  2. behavioral — with one span planted in ≥50% of sf0.01 docs
  *     (5× the corpus's natural worst span df), every family query
  *     still runs and flags exactly the planted documents.
  */
class SkewedSpanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.01"

  /** Eight tokens — exactly SpanK/segLen, so the planted suffix is a
    * complete span/segment in every planted doc.
    */
  private val Boiler =
    "all rights reserved see license file for terms"

  /** sf0.01 documents with Boiler appended to a deterministic ~60% of
    * docs, written as documents.parquet under a temp dir so the REAL
    * gated queries (which take a table dir) run against it unchanged.
    */
  private lazy val skewDir: String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-skew").toString
    val planted = pmod(xxhash64(col("doc_id")), lit(10)) < 6
    Tables.documents(spark, sf)
      .withColumn("text",
        when(planted, concat(col("text"), lit(" " + Boiler)))
          .otherwise(col("text")))
      // coalesce(1): match the driver layout (one file, one row group)
      // so the queries' own repartition-spread logic is exercised
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def plantedIds = Tables.documents(spark, sf)
    .filter(pmod(xxhash64(col("doc_id")), lit(10)) < 6)
    .select("doc_id")

  /** Window partition keys referenced anywhere in the plan. */
  private def windowPartitionKeys(plan: SparkPlan): Seq[String] =
    plan.collect { case w: WindowExec =>
      w.partitionSpec.flatMap(_.references.toSeq.map(_.name))
    }.flatten

  test("NO gated query's plan windows over an unbounded hash key") {
    // swept over the FULL inventory, not just the span family — the
    // pattern must not be reintroducible by a future query wave
    SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan
      val keys = windowPartitionKeys(plan)
      // h / bh / seg hashes are unbounded-cardinality, corpus-skewed
      // keys; id/doc_id windows are bounded by document length
      val bad = keys.filter(k => k == "h" || k == "bh" || k.endsWith("_hash"))
      assert(bad.isEmpty,
        s"$q windows over hash key(s) ${bad.distinct.mkString(",")} — " +
          "one boilerplate span = one giant single-task window group; " +
          "use Dedup.joinKeyStats (groupBy + merge join) instead")
    }
  }

  test("planted boilerplate span: dup_frac flags exactly the planted docs") {
    val frac = SparkEntry.queries("q_span_dup_frac")(spark, skewDir)
    val flagged = frac.filter(col("n_dup") >= 1).select("doc_id")
    // every planted doc ends with the full 8-token Boiler span, shared
    // by ~60% of the corpus → n_dup ≥ 1 for all of them
    val missed = plantedIds.join(flagged, Seq("doc_id"), "left_anti").count()
    assert(missed == 0, s"$missed planted docs not flagged as duplicated")
  }

  test("planted span: span_dedup reports it with ~60% reach") {
    val nDocs = Tables.documents(spark, sf).count()
    val top = SparkEntry.queries("q_span_dedup")(spark, skewDir)
      .orderBy(desc("n_docs")).select("n_docs").head.getLong(0)
    assert(top >= nDocs / 2,
      s"planted span reach $top < half the corpus ($nDocs docs) — " +
        "skew case not actually constructed")
  }

  test("planted span: span_trim removes ≥ 8 tokens from every planted doc") {
    val trimmed = SparkEntry.queries("q_span_trim")(spark, skewDir)
    val weak = plantedIds
      .join(trimmed, Seq("doc_id"))
      .filter(col("n_removed") < 8).count()
    assert(weak == 0,
      s"$weak planted docs had < 8 tokens removed (Boiler span is 8 tokens)")
  }

  test("planted span: max_run reports a full-span run in every planted doc") {
    val runs = SparkEntry.queries("q_span_max_run")(spark, skewDir)
    val weak = plantedIds.join(runs, Seq("doc_id"), "left")
      .filter(col("max_dup_run").isNull || col("max_dup_run") < 8).count()
    assert(weak == 0,
      s"$weak planted docs lack an 8-token duplicated run (Boiler is one full span)")
  }

  test("source leakage under skew: planted span leaks every source into every other") {
    // Boiler lands in ~60% of docs across all 20 sources, so its 5-gram
    // shingles are shared by every source pair — the matrix must be
    // complete (20×19 ordered pairs), and stay bounded by construction
    // (per-gram fan-out ≤ #sources², never #docs)
    val m = SparkEntry.queries("q_source_leakage")(spark, skewDir)
    val nSrc = Tables.documents(spark, sf).select("source").distinct().count()
    assert(m.count() == nSrc * (nSrc - 1),
      s"leakage matrix incomplete: ${m.count()} pairs vs ${nSrc * (nSrc - 1)}")
  }

  test("segment dedup under skew: kept-count equals distinct segments") {
    val res = SparkEntry.queries("q_dedup_segments")(spark, skewDir)
    val kept = res.agg(sum("n_kept")).head.getLong(0)
    val distinctSegs = graft.functions.Curation
      .segments(col("text"), 8)
    val want = Tables.documents(spark, skewDir)
      .select(explode(distinctSegs).as("seg"))
      .select(xxhash64(col("seg"))).distinct().count()
    assert(kept == want,
      s"keep-first invariant broke under skew: kept $kept != $want distinct segments")
  }
}
