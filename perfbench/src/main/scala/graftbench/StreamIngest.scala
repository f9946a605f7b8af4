package graftbench

import graft.functions.{Curation, Dedup}
import graft.operators.Versioned
import graft.streaming.Streams
import org.apache.spark.sql.functions.{col, md5, unhex}

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

object StreamChecks {
  /** Failures per committed micro-batch. `out` is (doc_id, batch_id)
    * of every kept row, `scored` the funnel's per-batch input count,
    * `firstFile` the staged file each doc id was first delivered in.
    * A kept doc must be kept in the batch of its first delivery (a
    * re-delivery is always dropped) and no kept text may repeat.
    */
  def failures(out: Seq[(Long, Long)], scored: Map[Long, Long], committed: Seq[Long],
               firstFile: Map[Long, Int], textOf: Map[Long, String],
               batchDocs: Int): Map[Long, Seq[String]] = {
    val f = mutable.Map.empty[Long, mutable.ArrayBuffer[String]]
    def fail(b: Long, m: String): Unit = f.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += m
    val live = committed.toSet
    committed.foreach { b =>
      if (!scored.get(b).contains(batchDocs.toLong))
        fail(b, s"batch $b scored ${scored.get(b)} docs, staged $batchDocs")
    }
    val seenText = mutable.HashMap.empty[String, Long]
    out.filter(r => live.contains(r._2)).sortBy(r => (r._2, r._1)).foreach { case (id, b) =>
      if (!firstFile.get(id).contains(b.toInt))
        fail(b, s"doc $id kept in batch $b but first delivered in file ${firstFile.get(id)}")
      textOf.get(id) match {
        case None => fail(b, s"kept doc $id was never staged")
        case Some(t) =>
          seenText.get(t) match {
            case Some(prev) => fail(b, s"doc $id repeats the text of a doc kept in batch $prev")
            case None => seenText(t) = b
          }
      }
    }
    f.map { case (k, v) => k -> v.toSeq }.toMap
  }

  /** Failed ops of one drain of `expected` staged files: committed
    * batches that failed a check plus staged files that never
    * committed. A drain that ended in an error the benchmark did not
    * cause fails at least one op even when every file committed.
    */
  def failedOps(expected: Int, committed: Int, failedBatches: Int, drainError: Boolean): Long =
    math.max(failedBatches + math.max(0, expected - committed), if (drainError) 1 else 0).toLong
}

/** stream_ingest: `Streams.curateIngest` drains staged micro-batch
  * files one per trigger (closed loop: the next batch starts after the
  * previous one commits). A fixed share of each file's docs are
  * re-deliveries of docs from earlier files. One op = one micro-batch
  * commit.
  */
final class StreamIngest(seed: Long) extends Workload {
  val Files_ = 2
  val BatchDocs = 400
  val RedeliveryShare = 0.15
  val LmDocs = 2000
  val WarmFiles = 1
  /** A run measures at least this many committed micro-batches. */
  val MinBatches = Files_
  /** Deltas appended to each hash index outside the stream (traced run). */
  val Appends = 3

  private var staged: Vector[Vector[Doc]] = Vector.empty
  private var firstFile: Map[Long, Int] = Map.empty
  private var textOf: Map[Long, String] = Map.empty
  private var props: Map[String, Any] = Map.empty
  private var runNo = 0

  def input: Map[String, Any] = props
  def config: Map[String, Any] = Map(
    "loop" -> "closed", "clients" -> 1, "files_staged" -> Files_, "batch_docs" -> BatchDocs,
    "max_files_per_trigger" -> 1, "lm_reference_docs" -> LmDocs,
    "op" -> "one micro-batch commit of Streams.curateIngest")

  private def inDir(ctx: Ctx) = ctx.dir("stream/in")
  private def lmPath(ctx: Ctx) = ctx.dir("stream/lm")

  /** Stage `files` as one parquet file each under `dir`, with
    * increasing modification times (the file source's arrival order).
    */
  private def stageFiles(ctx: Ctx, files: Seq[Vector[Doc]], dir: String): Unit = {
    import ctx.spark.implicits._
    val tmp = dir + "_tmp"
    Staging.rmrf(tmp); Staging.rmrf(dir)
    files.zipWithIndex.flatMap { case (ds, k) => ds.map(d => (d.id, d.text, k)) }
      .toDF("doc_id", "text", "f").coalesce(1)
      .write.partitionBy("f").parquet(tmp)
    Files.createDirectories(Paths.get(dir))
    val t0 = System.currentTimeMillis() - 10L * 60 * 1000
    files.indices.foreach { k =>
      val part = Files.list(Paths.get(tmp, s"f=$k")).filter(_.toString.endsWith(".parquet"))
        .findFirst().get
      val dst = Paths.get(dir, f"part-$k%05d.parquet")
      Files.move(part, dst, StandardCopyOption.ATOMIC_MOVE)
      dst.toFile.setLastModified(t0 + k * 1000L)
    }
    Staging.rmrf(tmp)
  }

  def setup(ctx: Ctx, rep: Int): Unit = {
    val g = new Gen(seed)
    val reference = g.corpus(LmDocs, 1L << 42)
    val freshPer = BatchDocs - (BatchDocs * RedeliveryShare).toInt
    // file 0 is all fresh; every later file re-delivers docs of earlier files
    val fresh = g.corpus(BatchDocs + freshPer * (Files_ - 1))
    val delivered = mutable.ArrayBuffer.empty[Doc]
    val deliveredIds = mutable.HashSet.empty[Long]
    staged = Vector.tabulate(Files_) { k =>
      val batch =
        if (k == 0) fresh.take(BatchDocs)
        else {
          val from = BatchDocs + (k - 1) * freshPer
          g.shuffle(fresh.slice(from, from + freshPer) ++
            Vector.fill(BatchDocs - freshPer)(delivered(g.nextInt(delivered.size))))
        }
      batch.foreach(d => if (deliveredIds.add(d.id)) delivered += d)
      batch
    }
    firstFile = staged.zipWithIndex.flatMap { case (b, k) => b.map(_.id -> k) }
      .groupBy(_._1).map { case (id, ks) => id -> ks.map(_._2).min }
    textOf = staged.flatten.map(d => d.id -> d.text).toMap
    val all = staged.flatten
    props = g.properties(fresh) ++ Map(
      "redelivery_share" -> (all.size - firstFile.size).toDouble / all.size,
      "lm_reference" -> g.properties(reference).view.filterKeys(Set("docs", "bytes", "distinct_tokens")).toMap)
    Staging.rmrf(ctx.dir("stream"))
    stageFiles(ctx, staged, inDir(ctx))
    Curation.writeLmModel(Staging.docsDF(ctx.spark, reference), "text", lmPath(ctx))
  }

  /** Drain the first files once into throwaway state. */
  def warmup(ctx: Ctx): Unit = {
    stageFiles(ctx, staged.take(WarmFiles), ctx.dir("stream/warm_in"))
    drain(ctx, ctx.dir("stream/warm_in"), ctx.dir("stream/warm"), Double.PositiveInfinity)
  }

  /** Bootstrap empty indexes under `state`, drain `in` until done or
    * `seconds` pass; returns the start time and the drain thread's error,
    * unless the benchmark stopped the query itself.
    */
  private def drain(ctx: Ctx, in: String, state: String, seconds: Double): (Long, Option[Throwable]) = {
    val spark = ctx.spark
    import spark.implicits._
    Dedup.writeHashIndex(Seq.empty[Array[Byte]].toDF("h"), s"$state/exact")
    Dedup.writeHashIndex(Seq.empty[Long].toDF("h"), s"$state/span")
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(in)
    val es = java.util.concurrent.Executors.newSingleThreadExecutor()
    val t0 = System.nanoTime()
    val fut = Future {
      ctx.span("streaming.curateIngest") {
        Streams.curateIngest(stream, s"$state/exact", s"$state/span", s"$state/out",
          s"$state/stats", s"$state/ckpt", lmModelPath = Some(lmPath(ctx)))
      }
    }(ExecutionContext.fromExecutorService(es))
    val deadline = t0 + (if (seconds.isInfinite) Long.MaxValue / 2 else (seconds * 1e9).toLong)
    val before = ctx.probe.stream.batches.size
    def committed = ctx.probe.stream.batches.size - before
    while (!fut.isCompleted && (System.nanoTime() < deadline || committed < MinBatches))
      Thread.sleep(20)
    val stopped = !fut.isCompleted
    spark.streams.active.foreach(_.stop())
    val err = scala.util.Try(Await.result(fut, Duration(120, "s"))).failed.toOption
      .filterNot(_ => stopped)
    es.shutdown()
    es.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
    (t0, err)
  }

  def run(ctx: Ctx, seconds: Double): Outcome = {
    val spark = ctx.spark
    runNo += 1
    val state = ctx.dir(s"stream/run$runNo")
    ctx.settle(); ctx.probe.plans.take()
    val before = ctx.probe.stream.batches.size
    val m0 = System.currentTimeMillis()
    val meter = new Meter
    val (t0, err) = meter(drain(ctx, inDir(ctx), state, seconds))
    val m1 = System.currentTimeMillis()
    val win = ctx.settle()
    val qes = ctx.probe.plans.take()
    val batches = ctx.probe.stream.batches.drop(before)
    val committed = batches.map(_.batchId)
    val engine = new EngineAgg(ctx.cores)
    engine.add(win, m0, m1, math.max(1, batches.size))
    val plans = new PlanAgg
    if (ctx.trace.on) plans.add(qes, math.max(1, batches.size))
    // output checks
    val out = scala.util.Try(spark.read.parquet(s"$state/out")
      .select(col("doc_id"), col("batch_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq).getOrElse(Nil)
    val stats = scala.util.Try(spark.read.parquet(s"$state/stats").collect().toSeq).getOrElse(Nil)
    val scored = stats.map(r => r.getAs[Long]("batch_id") -> r.getAs[Long]("scored")).toMap
    val lmKept = stats.filter(r => committed.contains(r.getAs[Long]("batch_id")))
      .map(r => r.getAs[Long]("lm_kept")).sum
    val fails = StreamChecks.failures(out, scored, committed, firstFile, textOf, BatchDocs)
    fails.foreach { case (b, ms) => ms.take(3).foreach(m => ctx.check(false, s"stream batch $b: $m")) }
    val attempted = math.max(Files_, batches.size)
    val failed = StreamChecks.failedOps(Files_, batches.size, fails.size, err.isDefined)
    if (batches.size < Files_)
      ctx.check(false, s"${Files_ - batches.size} of $Files_ staged files never committed" +
        err.fold("")(e => s": $e"))
    else err.foreach(e => ctx.check(false, s"stream drain failed: $e"))
    ctx.settle(); ctx.probe.plans.take()

    val commit = batches.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    def dur(k: String) = Stats.median(batches.map(_.durations.getOrElse(k, 0L).toDouble))
    val docsIn = batches.map(_.rows).sum.toDouble
    val drainS = batches.lastOption.map(b => (b.arrivedNs - t0) / 1e9).getOrElse(Double.NaN)
    val p50 = Stats.median(commit)
    Outcome(attempted.toLong, failed, p50,
      contract = Map("items_per_s" -> docsIn / drainS, "op_p50_ms" -> p50,
        "cpu_s_per_op" -> meter.cpuMs.sum / 1e3 / attempted,
        "shuffle_mb" -> engine.shuffleWriteMbPerOp),
      report = Map(
        "ingest_docs_per_s" -> Map("value" -> docsIn / drainS, "unit" -> "docs/s"),
        "batch_commit_ms" -> Stats.timing(commit, "ms"),
        "drain" -> meter.report,
        "shuffle_mb" -> Map("value" -> engine.shuffleWriteMbPerOp, "unit" -> "MB/batch")),
      layers = engine.layers ++ plans.layers ++ Map(
        "streaming.trigger_ms" -> p50,
        "streaming.add_batch_ms" -> dur("addBatch"),
        "streaming.query_planning_ms" -> dur("queryPlanning"),
        "streaming.wal_commit_ms" -> dur("walCommit"),
        "streaming.get_batch_ms" -> dur("getBatch"),
        "streaming.kept_frac" -> lmKept / math.max(1.0, docsIn),
        "streaming.commit_slope_ms_per_batch" -> Stats.slope(commit)))
  }

  /** The index write path on its own: `Appends` deltas of fresh
    * batch-sized doc sets appended through `Dedup.appendHashIndex` to
    * the last drain's exact and span indexes, hashed as the stream
    * hashes them; then the live deltas, the indexes' bytes on disk per
    * indexed doc, and one compaction of both indexes.
    */
  override def extras(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val state = ctx.dir(s"stream/run$runNo")
    val (exact, span) = (s"$state/exact", s"$state/span")
    def ms[A](f: => A): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
    def append(path: String, hashes: org.apache.spark.sql.DataFrame): Double = ms {
      ctx.span("index.appendHashIndex") {
        Dedup.appendHashIndex(spark, path, Versioned.resolve(spark, path).get, hashes)
      }
    }
    val g = new Gen(seed + 1)
    val appended = (1 to Appends).map { k =>
      val df = Staging.docsDF(spark, g.corpus(BatchDocs, firstId = (1L << 43) + k * BatchDocs))
      (append(exact, df.select(unhex(md5(col("text").cast("binary"))).as("h"))),
        append(span, Dedup.spanRows(df, "doc_id", "text", 8)))
    }
    val live = Versioned.listDeltas(spark, Versioned.resolve(spark, exact).get).size
    val docs = firstFile.size + Appends * BatchDocs
    val bytes = Staging.diskBytes(exact) + Staging.diskBytes(span)
    val compactMs = ms {
      ctx.span("index.compactHashIndex") {
        Dedup.compactHashIndex(spark, exact); Dedup.compactHashIndex(spark, span)
      }
    }
    Map(
      "index.append_exact_ms" -> Stats.median(appended.map(_._1)),
      "index.append_span_ms" -> Stats.median(appended.map(_._2)),
      "index.live_deltas" -> live.toDouble,
      "index.disk_bytes_per_doc" -> bytes.toDouble / docs,
      "index.compact_s" -> compactMs / 1e3)
  }
}
