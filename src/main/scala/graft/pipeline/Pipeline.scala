package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit, TimeoutException}
import scala.concurrent.duration.{Deadline, Duration, FiniteDuration}
import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.util.{Failure, Success, Try}

/** Pipeline lifecycle states, mirroring the reference's
  * `types/statuses/status.go` (Pending/Running/Done/Interrupted/
  * TimedOut). Updated eventually-consistently, as in the reference.
  */
sealed trait Status
object Status {
  case object Pending extends Status
  case object Running extends Status
  case object Done extends Status
  case object Interrupted extends Status
  case object TimedOut extends Status
}

/** Per-stage knobs (reference configs/stage.go).
  *
  * `maxParallelism` bounds the number of concurrent tasks for the
  * stage (reference MaxGoroutines) — realized as a `coalesce`, which
  * narrows partitions without a shuffle. DIVERGENCE from the
  * reference: `coalesce` fuses with upstream narrow stages, so
  * bounding a later stage also caps the task parallelism of every
  * earlier narrow stage in the same Spark stage, whereas the
  * reference bounds each stage's goroutine pool independently. Set
  * `isolateBound = true` to realize the bound as a `repartition`
  * (a shuffle barrier) when an isolated per-stage bound is required —
  * upstream stages then keep their own parallelism. On a real cluster
  * you would usually bound concurrency with executor counts /
  * scheduler pools instead; this knob exists for API parity and for
  * rate-limited stages (e.g. ones doing external calls).
  */
final case class StageConfig(
    maxParallelism: Int = 0,
    isolateBound: Boolean = false,
    timeout: Duration = Duration.Inf,
    customId: Long = 0L,
    logger: Option[GraftLogger] = None)

/** Pipeline-wide knobs (reference configs/pipeline.go). */
final case class PipelineConfig(
    manualStart: Boolean = false,
    maxParallelismTotal: Int = 0,
    maxParallelismPerStage: Int = 0,
    timeout: Duration = Duration.Inf,
    logger: GraftLogger = NoOpLogger,
    initStageConfig: StageConfig = StageConfig())

/** Shared mutable state for one pipeline: status, job group (so
  * `interrupt()` can cancel every Spark job the pipeline started),
  * manual-start latch, and the action runner that enforces timeouts.
  */
final class PipelineCtx private[pipeline] (
    val spark: SparkSession,
    val config: PipelineConfig) {

  val jobGroup: String = s"graft-pipeline-${PipelineCtx.nextId.incrementAndGet()}"

  private val statusRef =
    new AtomicReference[Status](if (config.manualStart) Status.Pending else Status.Running)
  private val startLatch = new CountDownLatch(if (config.manualStart) 1 else 0)
  @volatile private var deadline: Option[Deadline] = config.timeout match {
    case f: FiniteDuration if !config.manualStart => Some(Deadline.now + f)
    case _ => None
  }

  def status: Status = statusRef.get()
  private[pipeline] def log: GraftLogger = config.logger

  /** Reference Pipeline.Start: returns false unless the pipeline is a
    * manual-start one still waiting to be started.
    */
  def start(): Boolean = {
    if (!config.manualStart || statusRef.get() != Status.Pending) false
    else {
      config.timeout match {
        case f: FiniteDuration => deadline = Some(Deadline.now + f)
        case _ => ()
      }
      statusRef.set(Status.Running)
      startLatch.countDown()
      log.info(s"pipeline $jobGroup started")
      true
    }
  }

  /** Reference Pipeline.Interrupt: best-effort graceful cancellation —
    * cancels every Spark job in this pipeline's job group.
    */
  def interrupt(): Unit = {
    statusRef.set(Status.Interrupted)
    startLatch.countDown() // unblock async aggregations awaiting start
    log.info(s"pipeline $jobGroup interrupted")
    spark.sparkContext.cancelJobGroup(jobGroup)
  }

  private def remaining(stageTimeout: Duration): Duration = {
    val pipelineLeft = deadline.map(_.timeLeft).getOrElse(Duration.Inf)
    if (stageTimeout.isFinite && stageTimeout < pipelineLeft) stageTimeout else pipelineLeft
  }

  /** Runs a Spark action under this pipeline's job group with the
    * effective (stage ∧ pipeline) timeout. Sync aggregations on a
    * not-yet-started manual pipeline are a programming error, exactly
    * as in the reference (it panics; we throw).
    */
  private[pipeline] def runSync[R](conf: StageConfig)(body: => R): Try[R] = {
    if (config.manualStart && statusRef.get() == Status.Pending)
      throw new IllegalStateException(
        "sync aggregation on a manual-start pipeline that was not started (reference panics here)")
    await(submit(conf)(body), conf)
  }

  private[pipeline] def runAsync[R](conf: StageConfig)(body: => R): GraftFuture[R] = {
    val p = Promise[R]()
    PipelineCtx.ec.execute { () =>
      startLatch.await()
      if (statusRef.get() == Status.Interrupted)
        p.complete(Failure(new InterruptedException("pipeline interrupted before start")))
      else p.complete(await(submit(conf)(body), conf))
    }
    new GraftFuture[R](p.future)
  }

  /** Shared token pool realizing `maxParallelismTotal` as a JOINT
    * bound across everything the pipeline runs concurrently, matching
    * the reference's pipeline-wide rate limiter
    * (/root/reference/ratelimiter/ratelimiter.go:1-102, acquired per
    * element across ALL stages): each action acquires permits equal to
    * its own effective task bound, so N concurrent async aggregations
    * can never run more than `maxParallelismTotal` user-stage tasks
    * between them. The reference interleaves at element granularity;
    * Spark's unit of concurrency is the task, so graft admits actions
    * while their bounds still fit the pool and queues the rest (fair
    * FIFO). Actions whose per-stage bound is unset claim the whole
    * pool (they may legally use it all).
    */
  private val totalPermits: Option[java.util.concurrent.Semaphore] =
    if (config.maxParallelismTotal > 0)
      Some(new java.util.concurrent.Semaphore(config.maxParallelismTotal, true))
    else None

  private def actionPermits(conf: StageConfig): Int = {
    val n =
      if (conf.maxParallelism > 0) conf.maxParallelism
      else if (config.maxParallelismPerStage > 0) config.maxParallelismPerStage
      else config.maxParallelismTotal
    math.min(n, config.maxParallelismTotal)
  }

  private def submit[R](conf: StageConfig)(body: => R): Future[R] =
    Future {
      val run = () => {
        spark.sparkContext.setJobGroup(jobGroup, "graft pipeline action", interruptOnCancel = true)
        try body
        finally spark.sparkContext.clearJobGroup()
      }
      totalPermits match {
        case Some(sem) =>
          val n = actionPermits(conf)
          sem.acquire(n)
          try run() finally sem.release(n)
        case None => run()
      }
    }(PipelineCtx.ec)

  private def await[R](fut: Future[R], conf: StageConfig): Try[R] =
    Try(Await.result(fut, remaining(conf.timeout))) match {
      case Success(r) =>
        statusRef.compareAndSet(Status.Running, Status.Done)
        Success(r)
      case Failure(_: TimeoutException) =>
        statusRef.set(Status.TimedOut)
        spark.sparkContext.cancelJobGroup(jobGroup)
        log.warn(s"pipeline $jobGroup timed out")
        Failure(new TimeoutException(s"pipeline $jobGroup timed out"))
      case Failure(e) =>
        // cancelJobGroup surfaces as a SparkException on the action thread
        if (statusRef.get() != Status.Interrupted) statusRef.set(Status.Interrupted)
        log.error(s"pipeline $jobGroup failed: ${e.getMessage}")
        Failure(e)
    }
}

object PipelineCtx {
  private val nextId = new AtomicLong(0L)
  /** Daemon pool for pipeline actions; unbounded like the reference's
    * default goroutine behavior (bound per-pipeline via configs).
    */
  private[pipeline] val ec: ExecutionContext = ExecutionContext.fromExecutorService(
    Executors.newCachedThreadPool { r =>
      val t = new Thread(r, "graft-pipeline")
      t.setDaemon(true)
      t
    })
}

/** A lazy, distributed pipeline: the Spark-native re-expression of
  * the reference's goroutine pipeline (/root/reference/pipeline/
  * pipeline.go). The chain of stages IS a Catalyst logical plan —
  * nothing runs until a terminal aggregation, so Catalyst sees the
  * whole pipeline and can push filters into the source, prune
  * columns, and fuse stages into whole-stage-codegen spans. That is
  * the scale story: a pippin pipeline moves every element through
  * every stage's channel; a graft pipeline compiles to as few
  * distributed passes as the aggregation requires.
  */
final class Pipeline[T] private[pipeline] (val ctx: PipelineCtx, val initStage: Stage[T])
    extends AutoCloseable {
  def status: Status = ctx.status
  def start(): Boolean = ctx.start()
  def interrupt(): Unit = ctx.interrupt()

  /** Reference Pipeline.Close (pipeline/pipeline.go:79): release
    * resources — cancels outstanding work and closes the logger. The
    * SparkSession is shared and NOT stopped.
    */
  override def close(): Unit = {
    if (status == Status.Running || status == Status.Pending) interrupt()
    ctx.config.logger.close()
  }

  def toDF(colNames: String*): DataFrame =
    if (colNames.isEmpty) initStage.ds.toDF() else initStage.ds.toDF(colNames: _*)
}

object Pipeline {

  /** Reference pipeline.FromSlice (pipeline/pipeline.go:101). The
    * elements are encoded eagerly on the driver, as `createDataset`
    * encodes them (an element the encoder rejects throws here, and
    * elements need not be Java-serializable), but they stay OUT of
    * the logical plan: the source is an RDD leaf over the encoded
    * rows, not a `LocalRelation` holding them, because every analyzer
    * and optimizer rule re-walks a `LocalRelation`'s rows (a loop of
    * 200k-element pipelines spent over half its CPU samples there).
    * Each partition's rows ship as one packed byte array, read in
    * place on the executor: shipped as row objects, every task of
    * every action Java-serialized them one by one (a fifth of that
    * loop's CPU samples).
    */
  def fromSeq[T: Encoder](spark: SparkSession, seq: Seq[T],
                          config: PipelineConfig = PipelineConfig()): Pipeline[T] =
    fromDataset(Bridge.localDataset(spark, seq, implicitly[Encoder[T]]), config)

  /** Reference pipeline.FromMap (pipeline/pipeline.go:114): the map
    * becomes a distributed dataset of (key, value) tuples, built as
    * [[fromSeq]] builds its source (driver-encoded, out of the plan,
    * one packed byte array per partition).
    */
  def fromMap[K, V](spark: SparkSession, m: Map[K, V],
                    config: PipelineConfig = PipelineConfig())(
      implicit enc: Encoder[(K, V)]): Pipeline[(K, V)] =
    fromSeq(spark, m.toSeq, config)

  /** Spark-native source the reference cannot have: any Dataset
    * (parquet scan, SQL result, streaming source, ...).
    */
  def fromDataset[T](ds: Dataset[T], config: PipelineConfig = PipelineConfig()): Pipeline[T] = {
    val ctx = new PipelineCtx(ds.sparkSession, config)
    val init = new Stage[T](ctx, Stage.bound(ds, config.initStageConfig, config), 1L,
      config.initStageConfig)
    new Pipeline[T](ctx, init)
  }

  /** Columnar source: a parquet table as a Pipeline[Row]. */
  def fromParquet(spark: SparkSession, path: String,
                  config: PipelineConfig = PipelineConfig()): Pipeline[Row] =
    fromDataset(spark.read.parquet(path), config)

  /** Reference pipeline.FromChannel (pipeline/pipeline.go:131): the
    * unbounded source, wired into the full pipeline lifecycle
    * (Status / manual Start / Interrupt / timeouts / logger — the
    * reference's `from()` at pipeline.go:172 installs the same
    * handling for all three source kinds). `send` elements in,
    * `closeChannel()` to end the stream; terminal aggregations block
    * until close, exactly like the reference's channel aggregations.
    * For genuinely-unbounded consumption, `.toDS` exposes the
    * transformed stream to [[graft.streaming.Streams]] (watermarked
    * windows, sessionization, dedup, parquet/memory sinks).
    */
  def fromChannel[T: Encoder](spark: SparkSession,
                              config: PipelineConfig = PipelineConfig()): ChannelPipeline[T, T] =
    fromChannel(graft.streaming.Streams.Channel[T](spark), config)

  /** Wraps a caller-owned channel (the reference signature — the user
    * keeps sending on the channel they created).
    */
  def fromChannel[T: Encoder](channel: graft.streaming.Streams.Channel[T],
                              config: PipelineConfig): ChannelPipeline[T, T] = {
    val ds = channel.toDS
    val ctx = new PipelineCtx(ds.sparkSession, config)
    val init = new Stage[T](ctx, Stage.bound(ds, config.initStageConfig, config), 1L,
      config.initStageConfig)
    new ChannelPipeline[T, T](ctx, channel, init, implicitly[Encoder[T]],
      new java.util.concurrent.CopyOnWriteArrayList[org.apache.spark.sql.streaming.StreamingQuery](),
      new java.util.concurrent.CopyOnWriteArrayList[java.nio.file.Path]())
  }
}
