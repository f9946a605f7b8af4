package graft.streaming

import graft.SparkTestSession
import graft.functions.{Curation, Dedup, TextAnalysis}
import graft.operators.Versioned
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** Pins the one-pass shape of a `Streams.curateIngest` micro-batch:
  * each index read once as one scan, both appends derived from the
  * scoring joins, the funnel counted in two aggregates. A job ceiling
  * keeps the former re-read/re-count shape (53 jobs per batch) out,
  * and the crash window between the two appends — the one the own-tag
  * guard protects — replays to the identical result with each delta
  * landing once.
  */
class CurateOnePassSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Jobs per micro-batch allowed: the one-pass body runs 26 with the
    * LM gate on, the former re-read/re-count body 50 + 4 per live delta.
    */
  private val JobCeiling = 30

  /** 400 seeded docs: Zipf-drawn tokens with the English stopwords
    * among the commonest (so the language gate passes), plus exact
    * copies (exact dedup) and copies with a few tokens appended (span
    * trim), so every funnel stage has work.
    */
  private def docs(): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(7)
    val vocab = TextAnalysis.stopwords.head._2 ++ (0 until 200).map(i => s"w$i")
    val cum = vocab.indices.map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail
    def word(): String = {
      val u = rnd.nextDouble() * cum.last
      vocab(cum.indexWhere(_ >= u))
    }
    def text(n: Int) = Seq.fill(n)(word()).mkString(" ")
    val base = (0 until 340).map(i => (i.toLong, text(20 + rnd.nextInt(40))))
    def pick() = base(rnd.nextInt(base.size))._2
    base ++ (0 until 30).map(i => (1000L + i, pick())) ++
      (0 until 30).map(i => (2000L + i, pick() + " " + text(3)))
  }

  /** One staged file of the docs (one micro-batch), empty indexes and
    * an LM reference model built from the same docs.
    */
  private def stage(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(name).toString
    val df = docs().toDF("doc_id", "text")
    df.coalesce(1).write.parquet(s"$dir/in")
    Curation.writeLmModel(df, "text", s"$dir/lm")
    Dedup.writeHashIndex(Seq.empty[Array[Byte]].toDF("h"), s"$dir/exact")
    Dedup.writeHashIndex(Seq.empty[Long].toDF("h"), s"$dir/span")
    dir
  }

  private def ingest(dir: String): StreamingQuery =
    Streams.curateIngest(
      spark.readStream.schema("doc_id LONG, text STRING").parquet(s"$dir/in"),
      s"$dir/exact", s"$dir/span", s"$dir/out", s"$dir/stats", s"$dir/ckpt",
      // about the docs' median mean NLL: the gate keeps some, drops some
      lmModelPath = Some(s"$dir/lm"), maxAvgNll = 4.2)

  private def deltas(p: String): Seq[String] =
    Versioned.listDeltas(spark, Versioned.resolve(spark, p).get)

  test(s"one curateIngest micro-batch runs at most $JobCeiling jobs") {
    val dir = stage("graft_curate_jobs")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("sql.streaming.queryId") != null) {
          jobs.incrementAndGet(); ()
        }
    }
    Bridge.drainListeners(sc)
    sc.addSparkListener(l)
    val q = try ingest(dir) finally {
      Bridge.drainListeners(sc)
      sc.removeSparkListener(l)
    }
    q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) == 1, "expected one micro-batch")
    val (kept, trimmed, lmKept) = spark.read.parquet(s"$dir/stats")
      .select("kept", "trimmed", "lm_kept").as[(Long, Long, Long)].head()
    assert(kept > trimmed && trimmed > lmKept && lmKept > 0,
      s"degenerate funnel: kept $kept, trimmed $trimmed, lm_kept $lmKept")
    assert(jobs.get <= JobCeiling,
      s"one micro-batch ran ${jobs.get} jobs (ceiling $JobCeiling)")
  }

  test("the span-score and NLL joins read the kept cache's doc_id layout: no re-keying exchange") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = stage("graft_curate_layout")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // registered before the stream starts: the stream's session clones
    // the listener manager
    spark.listenerManager.register(l)
    try ingest(dir).stop() finally {
      Bridge.drainListeners(spark.sparkContext)
      spark.listenerManager.unregister(l)
    }
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: QueryStageExec => unwrap(q.plan)
      case o => o
    }
    // the children of a plan node, through AQE wrappers
    def kids(p: SparkPlan): Seq[SparkPlan] = unwrap(p).children.map(unwrap)
    // nodes of one stage: stops at exchanges and cache scans
    def stageNodes(p: SparkPlan): Seq[SparkPlan] = unwrap(p) match {
      case s @ (_: ShuffleExchangeExec | _: ReusedExchangeExec | _: InMemoryTableScanExec) => Seq(s)
      case o => o +: kids(o).flatMap(stageNodes)
    }
    // the kept cache is the text-carrying one built by a join (the
    // in-batch dedup; the scored cache joins nothing)
    def isKept(m: InMemoryTableScanExec): Boolean =
      m.relation.output.exists(_.name == "text") &&
        graft.PlanNodes(m.relation.cachedPlan).exists(_.isInstanceOf[BaseJoinExec])
    val all = graft.PlanNodes(plans.toArray(Array.empty[SparkPlan]).toSeq: _*)
      .collect { case e: ShuffleExchangeExec => e }
    def readsKept(e: ShuffleExchangeExec): Boolean =
      kids(e).flatMap(stageNodes).exists {
        case m: InMemoryTableScanExec => isKept(m)
        case _ => false
      }
    assert(all.exists(readsKept), "no exchange reads the kept cache — plan shape changed?")
    val rekeyed = all.filter(e => e.shuffleOrigin == ENSURE_REQUIREMENTS && readsKept(e) &&
      (e.outputPartitioning match {
        case HashPartitioning(Seq(a: Attribute), _) => a.name == "doc_id"
        case _ => false
      }))
    assert(rekeyed.isEmpty,
      s"${rekeyed.size} exchange(s) re-key the kept cache by doc_id: " +
        rekeyed.map(_.simpleString(120)).mkString("; "))
  }

  test("crash after the exact append, before the span append: replay lands the span delta once") {
    val dir = stage("graft_curate_halfway")
    ingest(dir).stop()
    def outSet() = spark.read.parquet(s"$dir/out")
      .select("doc_id", "dup_frac", "avg_nll").as[(Long, Double, Double)].collect().toSet
    def statsRows() = spark.read.parquet(s"$dir/stats")
      .select("batch_id", "scored", "filtered", "kept", "trimmed", "lm_kept")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    def spanSet() = Dedup.readSpanIndex(spark,
      Versioned.resolve(spark, s"$dir/span").get).as[Long].collect().toSet
    val (o1, s1, spans1) = (outSet(), statsRows(), spanSet())
    assert(o1.nonEmpty && spans1.nonEmpty)
    assert(deltas(s"$dir/exact").size == 1 && deltas(s"$dir/span").size == 1)
    // rewind to the crash point: the span delta never landed and the
    // checkpoint never committed the batch
    val spanDelta = new org.apache.hadoop.fs.Path(deltas(s"$dir/span").head)
    assert(spanDelta.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(spanDelta, true))
    assert(deltas(s"$dir/span").isEmpty && spanSet().isEmpty)
    val commits = new java.io.File(s"$dir/ckpt/commits")
    val newest = commits.listFiles().filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toInt)
    new java.io.File(commits, s".${newest.getName}.crc").delete()
    assert(newest.delete())
    ingest(dir).stop()
    assert(outSet() == o1, "replay changed the kept set")
    assert(statsRows() == s1, "replay changed the funnel stats")
    assert(deltas(s"$dir/span").size == 1, "span delta must land exactly once")
    assert(spanSet() == spans1, "replayed span delta differs from the original")
    assert(deltas(s"$dir/exact").size == 1, "exact index gained a second delta")
  }
}
