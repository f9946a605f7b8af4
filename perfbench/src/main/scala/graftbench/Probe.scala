package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Engine counters over one window (one op, or one loop for workloads
  * whose ops overlap). Times are epoch milliseconds.
  */
final class EngineWindow {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var runMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  val taskMs = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  /** Σ task run time / (wall × cores). */
  def busyFrac(wallMs: Double, cores: Int): Double =
    if (wallMs <= 0) 0.0 else runMs / (wallMs * cores)

  /** Part of [t0, t1] that no running stage covers. */
  def schedWaitMs(t0: Long, t1: Long): Double =
    ((t1 - t0) - Stats.covered(stageSpans.toSeq, t0, t1)).toDouble

  /** max / median task time of the stage with the longest wall. */
  def taskSkew: Double = {
    if (taskMs.isEmpty) 0.0
    else {
      val longest = taskMs.maxBy(_._2.sum)._2.toSeq
      val med = Stats.median(longest.map(_.toDouble))
      if (med <= 0) 1.0 else longest.max / med
    }
  }
}

/** SparkListener feeding [[EngineWindow]]s, the engine spans of a
  * traced run, and the first job start of each job group (the
  * typed pipeline's launch latency). Events arrive on the listener
  * bus thread; readers drain the bus first ([[Probe.drain]]).
  */
final class EngineListener extends SparkListener {
  private var win = new EngineWindow
  private val jobStart = mutable.HashMap.empty[Int, (Long, Option[Int], Option[String])]
  val firstJobOfGroup = mutable.HashMap.empty[String, Long]
  /** (span parent id, job id, start ms, end ms) for traced runs. */
  val jobSpans = mutable.ArrayBuffer.empty[(Int, Int, Long, Long)]

  def take(): EngineWindow = synchronized { val w = win; win = new EngineWindow; w }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    win.jobs += 1
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Trace.SpanProp))).map(_.toInt)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.foreach(g => if (!firstJobOfGroup.contains(g)) firstJobOfGroup(g) = e.time)
    jobStart(e.jobId) = (e.time, span, group)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, span, _) =>
      span.foreach(s => jobSpans += ((s, e.jobId, t0, e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    win.stages += 1
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) win.stageSpans += ((s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    win.tasks += 1
    if (e.reason != org.apache.spark.Success) win.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      win.cpuNs += m.executorCpuTime
      win.gcMs += m.jvmGCTime
      win.runMs += m.executorRunTime
      win.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      win.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      win.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    if (e.taskInfo != null)
      win.taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }
}

/** Counts read from final (post-AQE) physical plans. */
final class PlanCounts {
  val c = mutable.LinkedHashMap[String, Double](
    "exchanges" -> 0, "broadcasts" -> 0, "sort_merge_joins" -> 0,
    "codegen_stages" -> 0, "srp_candidate_buckets" -> 0,
    "srp_dropped_buckets" -> 0)
  def add(k: String, v: Double): Unit = c(k) = c(k) + v
  def +=(o: PlanCounts): Unit = o.c.foreach { case (k, v) => add(k, v) }
}

/** QueryExecutionListener that keeps every finished query execution
  * until the next [[take]]: observed metrics (the funnel's Observe
  * counters, output checks) and, in a traced run, plan shape.
  */
final class PlanTap extends QueryExecutionListener {
  private val buf = mutable.ArrayBuffer.empty[QueryExecution]
  def take(): Seq[QueryExecution] = synchronized { val r = buf.toSeq; buf.clear(); r }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { buf += qe }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object PlanTap {
  private def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => Iterator(q) ++ nodes(q.plan)
    case o => Iterator(o) ++ (o.children ++ o.subqueries).iterator.flatMap(nodes)
  }

  def counts(qes: Seq[QueryExecution]): PlanCounts = {
    val pc = new PlanCounts
    qes.foreach { qe =>
      nodes(qe.executedPlan).foreach { n =>
        n match {
          case _: ShuffleExchangeLike => pc.add("exchanges", 1)
          case _: BroadcastExchangeLike => pc.add("broadcasts", 1)
          case _: SortMergeJoinExec => pc.add("sort_merge_joins", 1)
          case _: WholeStageCodegenExec => pc.add("codegen_stages", 1)
          case _ =>
        }
        def metric(k: String) = n.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
        pc.add("srp_candidate_buckets", metric("candidateBuckets"))
        pc.add("srp_dropped_buckets", metric("droppedBuckets"))
      }
    }
    pc
  }

  /** Observed metric rows by name across `qes`, as name → field → value. */
  def observed(qes: Seq[QueryExecution]): Map[String, Map[String, Double]] =
    qes.flatMap(_.observedMetrics).map { case (name, row) =>
      name -> row.schema.fieldNames.zipWithIndex.map { case (f, i) =>
        f -> (if (row.isNullAt(i)) Double.NaN else row.get(i) match {
          case n: java.lang.Number => n.doubleValue()
          case other => Double.NaN
        })
      }.toMap
    }.toMap
}

/** Progress of one streaming micro-batch with input rows. */
final case class Batch(batchId: Long, rows: Long, durations: Map[String, Long], arrivedNs: Long)

/** Micro-batch progress of streaming queries, in arrival order. */
final class StreamTap extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[Batch]
  def batches: Seq[Batch] = synchronized(buf.toSeq)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    if (p.numInputRows > 0) {
      import scala.jdk.CollectionConverters._
      buf += Batch(p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, System.nanoTime())
    }
  }
}

/** The listeners of one run, attached once to the session. */
final class Probe(val spark: SparkSession) {
  val engine = new EngineListener
  val plans = new PlanTap
  val stream = new StreamTap
  spark.sparkContext.addSparkListener(engine)
  spark.listenerManager.register(plans)
  spark.streams.addListener(stream)

  def drain(): Unit = org.apache.spark.sql.graftbridge.Bridge.drainListeners(spark.sparkContext)

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(engine)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(stream)
  }
}
