package graftbench

import graft.functions.{Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Shared helpers for staging generated documents. */
object Staging {
  def docsDF(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
  }

  /** Write `docs` as `<dir>/documents.parquet` in `files` parquet files. */
  def writeCorpus(spark: SparkSession, docs: Seq[Doc], dir: String, files: Int): Unit =
    docsDF(spark, docs).repartition(files).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")

  def rmrf(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }

  def diskBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}

/** Expected funnel counts of a generated corpus, derived from the
  * generator's own knowledge of each document (never from the library).
  */
final case class Funnel(scored: Long, filtered: Long, kept: Long, exactCopies: Long)

object Funnel {
  def of(docs: Seq[Doc]): Funnel = {
    val pass = docs.filter(d => Gen.nWords(d.text) >= 10 && Gen.expectedLang(d.text) != "unk")
    val textOf = docs.iterator.map(d => d.id -> d.text).toMap
    Funnel(docs.size, pass.size, pass.map(_.text).distinct.size,
      docs.count(d => d.origin >= 0 && textOf.get(d.origin).contains(d.text)))
  }
}

/** One pass's output-check inputs: the funnel's Observe counts, the
  * per-language result rows, and the cluster summary.
  */
final case class PassResult(observed: Map[String, Long], langDocs: Long,
                            components: Long, clusteredDocs: Long)

object CurateChecks {
  /** Failures of one pass against the generator's expected funnel and
    * against the first pass of the run (`ref`).
    */
  def failures(r: PassResult, exp: Funnel, ref: Option[PassResult]): Seq[String] = {
    val o = r.observed
    val f = mutable.ArrayBuffer.empty[String]
    def get(k: String) = o.getOrElse(k, -1L)
    if (get("curate_scored") != exp.scored) f += s"scored ${get("curate_scored")} != ${exp.scored}"
    if (get("curate_filtered") != exp.filtered)
      f += s"filtered ${get("curate_filtered")} != ${exp.filtered}"
    if (get("curate_kept") != exp.kept)
      f += s"kept ${get("curate_kept")} != ${exp.kept} (a planted exact dup survived or a unique doc was dropped)"
    if (r.langDocs != get("curate_lm_kept"))
      f += s"per-language n_docs sum ${r.langDocs} != lm_kept ${get("curate_lm_kept")}"
    if (r.clusteredDocs != exp.scored) f += s"clustered docs ${r.clusteredDocs} != ${exp.scored}"
    if (r.components > exp.scored - exp.exactCopies)
      f += s"components ${r.components} > ${exp.scored - exp.exactCopies}: an exact dup left its cluster"
    ref.foreach { p =>
      if (p.observed != r.observed) f += s"Observe counts changed across passes: ${p.observed} vs ${r.observed}"
      if (p.components != r.components) f += s"components changed across passes: ${p.components} vs ${r.components}"
    }
    f.toSeq
  }
}

/** curate_batch: one op = one batch-curation pass over the corpus —
  * q_curate_e2e (quality/lang → exact dedup → span trim → LM gate →
  * per-language stats) then q_minhash_clusters (minhash candidates →
  * connected components). Closed loop, 1 client.
  */
final class CurateBatch(seed: Long) extends Workload {
  val Docs = 2000
  /** Timed passes per run at least (their median is reported). */
  val MinPasses = 2
  private var docs: Vector[Doc] = Vector.empty
  private var exp: Funnel = _
  private var props: Map[String, Any] = Map.empty
  private var ref: Option[PassResult] = None
  /** Check failures of the warm-up pass, until a run reports them. */
  private var warmCheck: Option[Seq[String]] = None

  private val curateQ = graft.queries.CurationQueries.queries("q_curate_e2e")
  private val clustersQ = graft.queries.LlmQueries.queries("q_minhash_clusters")

  def input: Map[String, Any] = props
  def config: Map[String, Any] = Map(
    "loop" -> "closed", "clients" -> 1, "op" -> "q_curate_e2e + q_minhash_clusters pass",
    "docs" -> Docs, "materialize" -> "collect (curate, <= 5 rows) / noop (clusters)")

  def setup(ctx: Ctx, rep: Int): Unit = {
    val g = new Gen(seed)
    docs = g.corpus(Docs)
    exp = Funnel.of(docs)
    props = g.properties(docs) ++ Map("expected_funnel" -> Map(
      "scored" -> exp.scored, "filtered" -> exp.filtered, "kept" -> exp.kept))
    Staging.rmrf(ctx.dir("curate"))
    Staging.writeCorpus(ctx.spark, docs, ctx.dir("curate"), ctx.cores)
  }

  /** One untimed pass over the corpus itself: it pays the first-call
    * costs and becomes the reference the timed passes must reproduce.
    */
  def warmup(ctx: Ctx): Unit = {
    val p = pass(ctx, ctx.dir("curate"))
    ctx.settle()
    val r = result(p, ctx.probe.plans.take())
    val errs = CurateChecks.failures(r, exp, None)
    errs.foreach(e => ctx.check(false, s"curate warm-up pass: $e"))
    warmCheck = Some(errs)
    ref = Some(r)
  }

  /** One pass; returns the per-language doc sum and the funnel counts.
    * The cluster summary arrives through the plan tap (see [[result]]).
    */
  private def pass(ctx: Ctx, dir: String): (Long, Map[String, Long]) = {
    val spark = ctx.spark
    val (langDocs, observed) = ctx.span("queries.q_curate_e2e") {
      val df = curateQ(spark, dir)
      val rows = df.collect()
      val om = df.queryExecution.observedMetrics.map { case (k, r) => k -> r.getAs[Long]("rows") }
      (rows.map(_.getAs[Long]("n_docs")).sum, om)
    }
    ctx.release() // tokRows must not serve the next pass
    ctx.span("queries.q_minhash_clusters") {
      clustersQ(spark, dir)
        .observe("bench_clusters", count(lit(1)).as("comps"), sum("n_docs").as("docs"))
        .write.format("noop").mode("overwrite").save()
    }
    ctx.release()
    (langDocs, observed)
  }

  private def result(p: (Long, Map[String, Long]),
                     qes: Seq[org.apache.spark.sql.execution.QueryExecution]): PassResult = {
    val m = PlanTap.observed(qes).getOrElse("bench_clusters", Map.empty)
    PassResult(p._2, p._1, m.getOrElse("comps", -1.0).toLong, m.getOrElse("docs", -1.0).toLong)
  }

  def run(ctx: Ctx, seconds: Double): Outcome = {
    val dir = ctx.dir("curate")
    val engine = new EngineAgg(ctx.cores)
    val plans = new PlanAgg
    // the checked warm-up pass counts as an op of the first loop
    val (warmOps, warmFailed) = warmCheck.fold((0L, 0L))(e => (1L, if (e.nonEmpty) 1L else 0L))
    warmCheck = None
    var failed = warmFailed
    val funnel = mutable.Map.empty[String, Long]
    ctx.settle(); ctx.probe.plans.take()
    val meter = new Meter
    val loop0 = System.nanoTime()
    while ((System.nanoTime() - loop0) / 1e9 < seconds || meter.wallMs.size < MinPasses) {
      ctx.trace.op = meter.wallMs.size
      val m0 = System.currentTimeMillis()
      val p = meter(ctx.span("bench.op")(pass(ctx, dir)))
      engine.add(ctx.settle(), m0, System.currentTimeMillis())
      val qes = ctx.probe.plans.take()
      if (ctx.trace.on) plans.add(qes)
      val r = result(p, qes)
      val errs = CurateChecks.failures(r, exp, ref)
      errs.foreach(e => ctx.check(false, s"curate pass ${meter.wallMs.size}: $e"))
      if (errs.nonEmpty) failed += 1
      funnel ++= r.observed
    }
    val passMs = Stats.median(meter.wallMs.toSeq)
    def frac(a: String, b: String) =
      funnel.getOrElse(a, 0L).toDouble / math.max(1L, funnel.getOrElse(b, 0L))
    Outcome(meter.wallMs.size + warmOps, failed, passMs,
      contract = Map("items_per_s" -> Docs / (passMs / 1e3), "op_p50_ms" -> passMs,
        "cpu_s_per_op" -> Stats.median(meter.cpuMs.toSeq) / 1e3,
        "shuffle_mb" -> engine.shuffleWriteMbPerOp),
      report = Map(
        "curate_docs_per_s" -> Map("value" -> Docs / (passMs / 1e3), "unit" -> "docs/s"),
        "pass" -> meter.report,
        "shuffle_mb" -> Map("value" -> engine.shuffleWriteMbPerOp, "unit" -> "MB/op")),
      layers = engine.layers ++ plans.layers ++ Map(
        "queries.curate_scored" -> funnel.getOrElse("curate_scored", 0L).toDouble,
        "queries.curate_filtered_frac" -> frac("curate_filtered", "curate_scored"),
        "queries.curate_kept_frac" -> frac("curate_kept", "curate_filtered"),
        "queries.curate_span_trimmed_frac" -> frac("curate_span_trimmed", "curate_kept"),
        "queries.curate_lm_kept_frac" -> frac("curate_lm_kept", "curate_span_trimmed")))
  }

  /** Each public function of the funnel timed on its own through noop
    * over the same corpus, and connected components on the verified
    * minhash edges.
    */
  override def extras(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val docs = spark.read.parquet(s"${ctx.dir("curate")}/documents.parquet")
      .repartition(ctx.cores)
    def timed(name: String)(df: => DataFrame): Double = ctx.span(s"functions.$name") {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      ctx.release()
      s
    }
    val textScore = timed("text_score")(docs.select(TextAnalysis.nWords(col("text")),
      TextAnalysis.langIdScored(col("text"))))
    val exact = timed("exact")(Dedup.exact(docs, "text", "doc_id"))
    val spanStats = timed("span_stats")(Dedup.joinKeyStats(
      Dedup.spanRows(docs, "doc_id", "text", 8), "h",
      Seq(count(lit(1)).as("nd")), col("nd") >= 2, "left"))
    val sigs = timed("minhash_signatures")(Dedup.minhashSignatures(docs, "doc_id", "text"))
    ctx.settle(); ctx.probe.plans.take()
    val cands = timed("minhash_candidates")(Dedup.minhashCandidates(docs, "doc_id", "text")
      .observe("bench_yield", count(lit(1)).as("n"),
        sum(when(col("est_jaccard") >= 0.5, 1).otherwise(0)).as("useful")))
    ctx.probe.drain()
    val y = PlanTap.observed(ctx.probe.plans.take()).getOrElse("bench_yield", Map.empty)
    val yieldFrac = y.getOrElse("useful", 0.0) / math.max(1.0, y.getOrElse("n", 0.0))
    // connected components alone: edges materialized first
    val edges = Dedup.minhashCandidates(docs, "doc_id", "text")
      .filter(col("est_jaccard") >= 0.5).select("id_a", "id_b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    edges.count()
    ctx.settle()
    val t0 = System.nanoTime()
    val comps = ctx.span("operators.labelPropagation") {
      graft.operators.ConnectedComponents.labelPropagation(
        docs.select(col("doc_id").as("id")), edges)
    }
    comps.count()
    val ccS = (System.nanoTime() - t0) / 1e9
    val ccJobs = ctx.settle().jobs.toDouble
    comps.unpersist(); edges.unpersist()
    ctx.release()
    Map("functions.text_score_s" -> textScore, "functions.exact_dedup_s" -> exact,
      "functions.span_stats_s" -> spanStats, "functions.minhash_sigs_s" -> sigs,
      "functions.minhash_candidates_s" -> cands, "functions.candidate_yield" -> yieldFrac,
      "operators.cc_s" -> ccS, "operators.cc_jobs" -> ccJobs)
  }
}
