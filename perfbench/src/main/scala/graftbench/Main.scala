package graftbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, out: String)

/** Everything a workload needs during one run. */
final class Ctx(val spark: SparkSession, val args: Args, val probe: Probe) {
  val cores: Int = spark.sparkContext.defaultParallelism
  /** Swapped for a recording Trace in the traced half of a traced run. */
  var trace = new Trace(false, spark.sparkContext)
  private val failures = mutable.ArrayBuffer.empty[String]

  def dir(name: String): String = Paths.get(args.work, name).toString

  /** Drop every cache the library tracks, so no op is served from a
    * result an earlier op left behind.
    */
  def release(): Unit = graft.plans.CacheHandles.releaseAllBlocking()

  /** Engine counters since the last call (after the listener bus drains). */
  def settle(): EngineWindow = { probe.drain(); probe.engine.take() }

  def span[A](name: String)(f: => A): A = trace.span(name)(f)

  /** Record a failed output check; returns whether `ok`. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) synchronized {
      if (failures.size < 20) failures += what
      System.err.println(s"[graftbench] check failed: $what")
    }
    ok
  }
  def failureMessages: Seq[String] = synchronized(failures.toSeq)
}

/** Process CPU time and host CPU steal.
  *
  * Process CPU is the per-op cost the benchmark gates. On a guest
  * kernel with paravirt steal accounting (CONFIG_PARAVIRT_TIME_ACCOUNTING)
  * the scheduler already leaves stolen time out of a thread's CPU time,
  * so it is used as read. Wall time does include stolen time; the
  * host's steal share is kept next to every wall sample.
  */
object Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this JVM (driver and local executors), ns. */
  def cpuNs: Long = os.getProcessCpuTime

  /** (steal, total) jiffies of all CPUs since boot; zeros off Linux. */
  def stealJiffies: (Long, Long) =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val v = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
        (v(7), v.sum)
      } finally src.close()
    }.getOrElse((0L, 0L))

  def stealFrac(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0
}

/** Wall, process CPU and host steal of timed regions. `wallNetMs`
  * takes the host's steal share over each region out of its wall time:
  * wall × (1 − steal).
  */
final class Meter {
  val wallMs, cpuMs, steal = mutable.ArrayBuffer.empty[Double]
  def apply[A](f: => A): A = {
    val s0 = Host.stealJiffies; val c0 = Host.cpuNs; val t0 = System.nanoTime()
    try f
    finally {
      wallMs += (System.nanoTime() - t0) / 1e6
      cpuMs += (Host.cpuNs - c0) / 1e6
      steal += Host.stealFrac(s0, Host.stealJiffies)
    }
  }
  def wallNetMs: Seq[Double] = wallMs.indices.map(i => wallMs(i) * (1 - steal(i)))
  def report: Map[String, Any] = Map(
    "wall" -> Stats.timing(wallMs.toSeq, "ms"), "cpu" -> Stats.timing(cpuMs.toSeq, "ms"),
    "steal_frac" -> steal.toSeq)
}

/** Result of one measured loop. `contract` holds the end-to-end
  * metrics every workload reports under the same names
  * (items_per_s, op_p50_ms, shuffle_mb); `report` the workload's own
  * named metrics with their sample counts; `layers` per-layer numbers.
  */
final case class Outcome(attempted: Long, failed: Long, opP50Ms: Double,
                         contract: Map[String, Double], report: Map[String, Any],
                         layers: Map[String, Double])

trait Workload {
  /** Generate inputs from the seed and stage them. Called several times
    * per run (its time is reported as a median); each call must leave
    * the inputs ready.
    */
  def setup(ctx: Ctx, rep: Int): Unit
  /** Run the workload's code paths once on a small input (JIT, codegen,
    * lazy session state), so no timed op pays first-call costs.
    */
  def warmup(ctx: Ctx): Unit
  def run(ctx: Ctx, seconds: Double): Outcome
  /** Per-layer measurements made outside the loop (traced run only). */
  def extras(ctx: Ctx): Map[String, Double] = Map.empty
  def input: Map[String, Any]
  def config: Map[String, Any]
}

/** Engine per-layer numbers accumulated over ops. */
final class EngineAgg(cores: Int) {
  private var ops = 0
  private var wallMs = 0.0
  private val w = new EngineWindow
  private var schedWait = 0.0
  private val skews = mutable.ArrayBuffer.empty[Double]

  def add(win: EngineWindow, t0Ms: Long, t1Ms: Long, nOps: Int = 1): Unit = {
    ops += nOps
    wallMs += (t1Ms - t0Ms)
    w.jobs += win.jobs; w.stages += win.stages; w.tasks += win.tasks
    w.failedTasks += win.failedTasks; w.cpuNs += win.cpuNs; w.gcMs += win.gcMs
    w.runMs += win.runMs; w.shuffleWrite += win.shuffleWrite
    w.shuffleRead += win.shuffleRead; w.spill += win.spill
    schedWait += win.schedWaitMs(t0Ms, t1Ms)
    skews += win.taskSkew
  }

  def shuffleWriteMbPerOp: Double = if (ops == 0) 0.0 else w.shuffleWrite / 1e6 / ops

  def layers: Map[String, Double] = {
    val n = math.max(ops, 1).toDouble
    Map(
      "engine.jobs" -> w.jobs / n, "engine.stages" -> w.stages / n,
      "engine.tasks" -> w.tasks / n, "engine.failed_tasks" -> w.failedTasks / n,
      "engine.task_cpu_s" -> w.cpuNs / 1e9 / n, "engine.task_gc_s" -> w.gcMs / 1e3 / n,
      "engine.busy_frac" -> w.busyFrac(wallMs, cores),
      "engine.sched_wait_ms" -> schedWait / n,
      "engine.shuffle_write_mb" -> w.shuffleWrite / 1e6 / n,
      "engine.shuffle_read_mb" -> w.shuffleRead / 1e6 / n,
      "engine.spill_mb" -> w.spill / 1e6 / n,
      "engine.task_skew" -> Stats.median(skews.toSeq))
  }
}

/** Plan per-layer numbers accumulated over ops (traced run only). */
final class PlanAgg {
  private var ops = 0
  private val pc = new PlanCounts
  def add(qes: Seq[org.apache.spark.sql.execution.QueryExecution], nOps: Int = 1): Unit = {
    ops += nOps
    pc += PlanTap.counts(qes)
  }
  def get(k: String): Double = if (ops == 0) 0.0 else pc.c(k) / ops
  def layers: Map[String, Double] =
    Seq("exchanges", "broadcasts", "sort_merge_joins", "codegen_stages",
      "srp_candidate_buckets", "srp_dropped_buckets")
      .map(k => s"plans.$k" -> get(k)).toMap
}

/** Entry point:
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --work <scratch dir> --out <artifact json>
  * }}}
  * Runs one workload at local[cores], checks its outputs, and writes
  * the run artifact (metrics, per-layer numbers, input properties and,
  * when traced, the spans) as JSON.
  */
object Main {
  val Workloads: Map[String, Long => Workload] = Map(
    "curate_batch" -> (s => new CurateBatch(s)),
    "stream_ingest" -> (s => new StreamIngest(s)),
    "typed_pipeline" -> (s => new TypedPipeline(s)))

  val SetupReps = 3
  /** Span layers: the benchmark's own op loop, the library modules it
    * calls, and the Spark jobs underneath.
    */
  val Layers: Seq[String] =
    Seq("bench", "queries", "functions", "operators", "index", "streaming", "pipeline", "engine")

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("out"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val make = Workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    val cores = Runtime.getRuntime.availableProcessors()
    // set-up time is wall time net of the host's CPU steal share over
    // each part (see Meter); the raw walls stay in the artifact
    val setupMeter = new Meter
    val spark = setupMeter {
      val s = graft.Sessions.local(cores, "graftbench")
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    try {
      val probe = new Probe(spark)
      val ctx = new Ctx(spark, args, probe)
      val wl = make(args.seed)
      (0 until SetupReps).foreach { r => setupMeter { wl.setup(ctx, r); ctx.release() } }
      setupMeter { wl.warmup(ctx); ctx.release() }
      val net = setupMeter.wallNetMs.map(_ / 1e3)
      val setupS = net.head + Stats.median(net.slice(1, 1 + SetupReps)) + net.last
      ctx.settle()
      ctx.probe.plans.take()

      val artifact = mutable.LinkedHashMap[String, Any](
        "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
        "trace" -> args.trace, "master" -> s"local[$cores]", "cores" -> cores,
        "setup" -> Map("parts" -> "session, reps..., warm-up", "setup_s" -> setupS,
          "net_s" -> net, "timing" -> setupMeter.report))
      val (outcome, layers) =
        if (!args.trace) (wl.run(ctx, args.seconds), Map.empty[String, Double])
        else {
          // untraced half, then traced half: their op medians give the
          // tracing overhead; per-layer numbers come from the traced half
          val plain = wl.run(ctx, args.seconds / 2)
          val traced = new Trace(true, spark.sparkContext)
          ctx.trace = traced
          val o = wl.run(ctx, args.seconds / 2)
          val extra = wl.extras(ctx)
          val spans = traced.all(probe.engine)
          val opsN = math.max(1L, o.attempted).toDouble
          val selfS = Trace.selfSeconds(spans)
          val self = Main.Layers.map(l => s"trace.self_ms_$l" -> selfS.getOrElse(l, 0.0) * 1e3 / opsN)
          val overhead = o.opP50Ms / plain.opP50Ms - 1.0
          val spansPath = args.out.stripSuffix(".json") + "-spans.json"
          Files.writeString(Paths.get(spansPath), Json(Trace.toJson(spans)))
          artifact("spans") = spansPath
          artifact("untraced_report") = plain.report
          val merged = Outcome(plain.attempted + o.attempted, plain.failed + o.failed,
            o.opP50Ms, o.contract, o.report, o.layers)
          (merged, o.layers ++ extra ++ self + ("trace.overhead_frac" -> overhead))
        }
      val failed = outcome.failed
      val metrics = outcome.contract + ("setup_s" -> setupS)
      artifact ++= Seq(
        "correct" -> (failed == 0 && outcome.attempted > 0),
        "attempted" -> outcome.attempted, "failed" -> failed,
        "failed_frac" -> failed.toDouble / math.max(1L, outcome.attempted),
        "check_failures" -> ctx.failureMessages,
        "metrics" -> metrics, "report" -> outcome.report,
        // a layer that had no sample in this run (e.g. no compaction in a
        // short half) reads 0, not NaN
        "per_layer" -> layers.map { case (k, v) => k -> (if (v.isNaN) 0.0 else v) },
        "input" -> wl.input, "config" -> wl.config)
      Files.writeString(Paths.get(args.out), Json(artifact))
    } finally spark.stop()
  }
}
