package graftbench

import graft.pipeline.{Aggregate, AsyncAggregate, GraftFuture, Pipeline, Stage}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** The element functions of the typed chains. Kept in an object so
  * the closures Spark ships capture only their arguments.
  */
object Chain {
  def lift(x: Long): Long = x * 3 + 1
  def keep(y: Long): Boolean = y % 5 != 0
  def throws(y: Long, salt: Long, permille: Int): Boolean =
    java.lang.Math.floorMod(y * 2654435761L + salt, 1000L) < permille
  /** Throws for a seeded `permille` share of elements. */
  def halve(y: Long, salt: Long, permille: Int): Long =
    if (throws(y, salt, permille)) throw new IllegalStateException(s"planted failure at $y")
    else y / 2
  val OnError: Long = -1L
  def pair(y: Long): Seq[Long] = Seq(y, y % 7)
  def bump(e: Long): Long = e + 1

  /** The elements a chain yields for input 1..n, in plain Scala. */
  def reference(n: Int, flat: Boolean, salt: Long, permille: Int): Iterator[Long] =
    Iterator.range(1, n + 1).map(x => lift(x.toLong)).filter(keep).flatMap { y =>
      if (flat) pair(y).iterator.map(bump)
      else Iterator.single(if (throws(y, salt, permille)) OnError else y / 2)
    }
}

/** What one op runs: source, chain and terminal. */
final case class Kind(source: String, flat: Boolean, terminal: String, async: Boolean,
                      interruptible: Boolean = false)

object TypedChecks {
  /** A finished op is correct when it returned its reference value, or
    * when it was interrupted and failed.
    */
  def failure(result: Try[Long], expected: Long, interrupted: Boolean): Option[String] =
    result match {
      case Success(v) if v == expected => None
      case Success(v) => Some(s"returned $v, reference $expected")
      case Failure(_) if interrupted => None
      case Failure(e) => Some(s"failed without interrupt: $e")
    }
}

/** typed_pipeline: the pippin-parity API. Each op builds a pipeline
  * (fromSeq or fromDataset → map → filter → mapWithErrorMapper with
  * planted throwing elements, or → flatMap) and ends it with a sync
  * Aggregate or an AsyncAggregate future; at most `cores` futures are
  * in flight and every other interruptible async op is interrupted.
  */
final class TypedPipeline(seed: Long) extends Workload {
  val Elems = 200000
  val ErrPermille = 20
  /** A run makes at least this many passes over [[Kinds]]. */
  val MinCycles = 4
  val Kinds: Vector[Kind] = Vector(
    Kind("seq", flat = false, "sum", async = false),
    Kind("dataset", flat = true, "count", async = false),
    Kind("dataset", flat = false, "distinct", async = false),
    Kind("seq", flat = true, "sum", async = true),
    Kind("dataset", flat = false, "count", async = true),
    Kind("dataset", flat = true, "sum", async = true, interruptible = true))

  private val salt = new Gen(seed).nextInt(1000000).toLong
  private var data: Seq[Long] = Nil
  private var expected: Map[(Boolean, String), Long] = Map.empty
  private var props: Map[String, Any] = Map.empty
  private var interruptible = 0L

  def input: Map[String, Any] = props
  def config: Map[String, Any] = Map(
    "loop" -> "closed", "clients" -> 1, "max_futures_in_flight" -> "cores",
    "elements_per_op" -> Elems, "kinds" -> Kinds.map(_.toString),
    "interrupted_share_of_interruptible" -> 0.5)

  def setup(ctx: Ctx, rep: Int): Unit = {
    data = (1L to Elems.toLong).toVector
    expected = (for (flat <- Seq(false, true)) yield {
      val ref = Chain.reference(Elems, flat, salt, ErrPermille).toVector
      Seq((flat, "sum") -> ref.sum, (flat, "count") -> ref.size.toLong,
        (flat, "distinct") -> ref.distinct.size.toLong)
    }).flatten.toMap
    val errs = Iterator.range(1, Elems + 1).map(x => Chain.lift(x.toLong))
      .filter(Chain.keep).count(y => Chain.throws(y, salt, ErrPermille))
    props = Map("elements_per_op" -> Elems, "error_share" -> errs.toDouble / Elems,
      "error_permille_of_filtered" -> ErrPermille, "filter_keep_share" -> 0.8)
  }

  /** Every kind twice, synchronously. */
  def warmup(ctx: Ctx): Unit = {
    (Kinds ++ Kinds).foreach(k => result(start(ctx, k.copy(async = false))._2))
  }

  private def result(r: Either[Try[Long], GraftFuture[Long]]): Try[Long] =
    r.fold(identity, _.get())

  private def stage(spark: SparkSession, k: Kind): (Pipeline[Long], Stage[Long]) = {
    import spark.implicits._
    val p = k.source match {
      case "seq" => Pipeline.fromSeq(spark, data)
      case _ => Pipeline.fromDataset(spark.range(1, Elems + 1L).as[Long])
    }
    val (s, pm) = (salt, ErrPermille)
    val head = p.initStage.map(Chain.lift).filter(Chain.keep)
    val tail =
      if (k.flat) head.map(Chain.pair).flatMap((e: Long) => Chain.bump(e))
      else head.mapWithErrorMapper(y => Chain.halve(y, s, pm), (_: Throwable) => Chain.OnError)
    (p, tail)
  }

  /** Build and start one op: a finished result (sync) or a future. */
  private def start(ctx: Ctx, k: Kind): (Pipeline[Long], Either[Try[Long], GraftFuture[Long]]) = {
    val (p, st) = stage(ctx.spark, k)
    val r: Either[Try[Long], GraftFuture[Long]] =
      if (!k.async) Left(ctx.span(s"pipeline.Aggregate.${k.terminal}") {
        k.terminal match {
          case "sum" => Aggregate.sum(st)
          case "count" => Aggregate.count(st)
          case _ => Aggregate.distinctCount(st)
        }
      })
      else Right(ctx.span(s"pipeline.AsyncAggregate.${k.terminal}") {
        k.terminal match {
          case "sum" => AsyncAggregate.sum(st)
          case "count" => AsyncAggregate.count(st)
          case _ => AsyncAggregate.distinctCount(st)
        }
      })
    (p, r)
  }

  private final class InFlight(val k: Kind, val p: Pipeline[Long], val fut: GraftFuture[Long],
                               val t0: Long, val t0Ms: Long, val interruptedAt: Option[Long]) {
    @volatile var doneNs = 0L
    fut.toFuture.onComplete(_ => doneNs = System.nanoTime())(scala.concurrent.ExecutionContext.parasitic)
  }

  def run(ctx: Ctx, seconds: Double): Outcome = {
    val lat, asyncLat, syncLat, interruptMs, launchMs = mutable.ArrayBuffer.empty[Double]
    var elems, failed, attempted, interrupted = 0L
    val inflight = mutable.Queue.empty[InFlight]
    ctx.settle(); ctx.probe.plans.take()

    def finish(f: InFlight): Unit = {
      val r = f.fut.get()
      while (f.doneNs == 0L) Thread.sleep(0, 100000)
      val ms = (f.doneNs - f.t0) / 1e6
      f.interruptedAt match {
        case Some(ti) => interrupted += 1; interruptMs += (f.doneNs - ti) / 1e6
        case None => lat += ms; asyncLat += ms; elems += Elems
      }
      TypedChecks.failure(r, expected((f.k.flat, f.k.terminal)), f.interruptedAt.nonEmpty)
        .foreach { e => ctx.check(false, s"typed ${f.k}: $e"); failed += 1 }
      ctx.probe.engine.synchronized(ctx.probe.engine.firstJobOfGroup.get(f.p.ctx.jobGroup))
        .foreach(t => launchMs += (t - f.t0Ms).toDouble)
      f.p.close()
    }

    val m0 = System.currentTimeMillis()
    val meter = new Meter
    val loop0 = System.nanoTime()
    var i = 0L
    meter {
      while ((System.nanoTime() - loop0) / 1e9 < seconds || i < Kinds.size * MinCycles) {
        val k = Kinds((i % Kinds.size).toInt)
        ctx.trace.op = i
        attempted += 1
        val t0Ms = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val (p, r) = start(ctx, k)
        r match {
          case Left(res) =>
            val ms = (System.nanoTime() - t0) / 1e6
            lat += ms; syncLat += ms; elems += Elems
            TypedChecks.failure(res, expected((k.flat, k.terminal)), interrupted = false)
              .foreach { e => ctx.check(false, s"typed $k: $e"); failed += 1 }
            p.close()
          case Right(fut) =>
            val intr =
              if (k.interruptible) { interruptible += 1; interruptible % 2 == 0 } else false
            val ti = if (intr) {
              val at = System.nanoTime()
              ctx.span("pipeline.interrupt")(p.interrupt())
              Some(at)
            } else None
            inflight.enqueue(new InFlight(k, p, fut, t0, t0Ms, ti))
            while (inflight.size >= ctx.cores) finish(inflight.dequeue())
        }
        i += 1
      }
      while (inflight.nonEmpty) finish(inflight.dequeue())
    }
    val wallS = meter.wallMs.head / 1e3
    val m1 = System.currentTimeMillis()
    val engine = new EngineAgg(ctx.cores)
    engine.add(ctx.settle(), m0, m1, attempted.toInt)
    val plans = new PlanAgg
    val qes = ctx.probe.plans.take()
    if (ctx.trace.on) plans.add(qes, attempted.toInt)
    val p50 = Stats.median(lat.toSeq)
    Outcome(attempted, failed, p50,
      contract = Map("items_per_s" -> elems / wallS, "op_p50_ms" -> p50,
        "cpu_s_per_op" -> meter.cpuMs.head / 1e3 / attempted,
        "shuffle_mb" -> engine.shuffleWriteMbPerOp),
      report = Map(
        "pipeline_elems_per_s" -> Map("value" -> elems / wallS, "unit" -> "elements/s"),
        "op_ms" -> Stats.timing(lat.toSeq, "ms"),
        "sync_ms" -> Stats.timing(syncLat.toSeq, "ms"),
        "async_ms" -> Stats.timing(asyncLat.toSeq, "ms"),
        "interrupted_ops" -> interrupted,
        "loop" -> meter.report,
        "shuffle_mb" -> Map("value" -> engine.shuffleWriteMbPerOp, "unit" -> "MB/op")),
      layers = engine.layers ++ plans.layers ++ Map(
        "pipeline.job_launch_ms" -> Stats.median(launchMs.toSeq),
        "pipeline.futures_overlap" -> asyncLat.sum / 1e3 / wallS,
        "pipeline.interrupt_ms" -> Stats.median(interruptMs.toSeq)))
  }

  /** The typed chain against the same chain through the column API on
    * the same input (median of three each).
    */
  override def extras(ctx: Ctx): Map[String, Double] = {
    import org.apache.spark.sql.functions._
    val spark = ctx.spark
    val k = Kind("dataset", flat = false, "sum", async = false)
    def typed(): Long = ctx.span("pipeline.typed_chain")(result(start(ctx, k)._2).get)
    def column(): Long = ctx.span("pipeline.column_chain") {
      val y = col("id") * 3 + 1
      spark.range(1, Elems + 1L).select(y.as("y")).filter(col("y") % 5 =!= 0)
        .select(when(pmod(col("y") * 2654435761L + salt, lit(1000L)) < ErrPermille, Chain.OnError)
          .otherwise(col("y").divide(2).cast("long")).as("v"))
        .agg(sum("v")).head().getLong(0)
    }
    def time(f: () => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val v = f(); ((System.nanoTime() - t0) / 1e9, v)
    }
    val t = (1 to 3).map(_ => time(() => typed()))
    val c = (1 to 3).map(_ => time(() => column()))
    ctx.check(t.head._2 == c.head._2, s"typed sum ${t.head._2} != column sum ${c.head._2}")
    ctx.settle(); ctx.probe.plans.take()
    Map("pipeline.typed_over_column" -> Stats.median(t.map(_._1)) / Stats.median(c.map(_._1)))
  }
}
