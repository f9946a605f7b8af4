package graft.pipeline

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Success

/** Pippin-parity semantics of the typed pipeline API: sources,
  * transforms (incl. error-handling variants), sync aggregations.
  * Reference behavior: /root/reference/README.md examples.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("README simple example: filter evens, double, sum == 12") {
    val p = Pipeline.fromSeq(spark, Seq(1, 2, 3, 4, 5))
    val filtered = p.initStage.filter(i => i % 2 == 0)
    val mapped = filtered.map(i => i * 2)
    assert(Aggregate.sum(mapped) == Success(12))
  }

  test("mapWithError drops failing elements (README detailed example)") {
    val p = Pipeline.fromSeq(spark, Seq("1", "a", "2", "-3", "4", "5", "b"))
    val errs = spark.sparkContext.longAccumulator("errs")
    val parsed = p.initStage.mapWithError(_.toInt, _ => errs.add(1))
    assert(Aggregate.asSlice(parsed).get.sorted == Seq(-3, 1, 2, 4, 5))
    assert(errs.value == 2)
  }

  test("mapWithErrorMapper substitutes fallback value") {
    val p = Pipeline.fromSeq(spark, Seq("1", "x", "3"))
    val parsed = p.initStage.mapWithErrorMapper(_.toInt, _ => 42)
    assert(Aggregate.asSlice(parsed).get.sorted == Seq(1, 3, 42))
  }

  test("flatMap flattens collection stages, mapping inner elements") {
    val p = Pipeline.fromSeq(spark, Seq(Seq(1, 2), Seq(3), Seq()))
    val flat = p.initStage.flatMap((e: Int) => e + 1)
    assert(Aggregate.asSlice(flat).get.sorted == Seq(2, 3, 4))
  }

  test("flatMapWithError drops failing inner elements") {
    val p = Pipeline.fromSeq(spark, Seq(Seq("1", "x"), Seq("3")))
    val flat = p.initStage.flatMapWithError((e: String) => e.toInt, _ => ())
    assert(Aggregate.asSlice(flat).get.sorted == Seq(1, 3))
  }

  test("flatMapWithErrorMapper maps failing inner elements") {
    val p = Pipeline.fromSeq(spark, Seq(Seq("1", "x")))
    val flat = p.initStage.flatMapWithErrorMapper((e: String) => e.toInt, _ => 0)
    assert(Aggregate.asSlice(flat).get.sorted == Seq(0, 1))
  }

  test("fromMap yields key-value tuples") {
    val p = Pipeline.fromMap(spark, Map("one" -> 1, "two" -> 2))
    assert(Aggregate.asMap(p.initStage, (t: (String, Int)) => t).get ==
      Map("one" -> 1, "two" -> 2))
    val m = (1 to 500).map(i => s"k$i" -> i.toLong).toMap
    assert(Aggregate.asMap(Pipeline.fromMap(spark, m).initStage,
      (t: (String, Long)) => t).get == m)
  }

  test("numeric aggregations: sum/avg/min/max/count") {
    val s = Pipeline.fromSeq(spark, Seq(1.0, 2.0, 3.0, 4.0)).initStage
    assert(Aggregate.sum(s) == Success(10.0))
    assert(Aggregate.avg(s) == Success(2.5))
    assert(Aggregate.min(s) == Success(1.0))
    assert(Aggregate.max(s) == Success(4.0))
    assert(Aggregate.count(s) == Success(4L))
  }

  test("sum of empty stage is zero (fold semantics)") {
    val s = Pipeline.fromSeq(spark, Seq.empty[Int]).initStage
    assert(Aggregate.sum(s) == Success(0))
  }

  test("complex-number aggregations (SumComplexType/AvgComplexType)") {
    val s = Pipeline.fromSeq(spark, Seq(Complex(1, 2), Complex(3, -1))).initStage
    assert(Aggregate.sumComplexType(s) == Success(Complex(4, 1)))
    assert(Aggregate.avgComplexType(s) == Success(Complex(2, 0.5)))
  }

  test("sort and sortDesc") {
    val s = Pipeline.fromSeq(spark, Seq(3, 1, 2)).initStage
    assert(Aggregate.sort(s) == Success(Seq(1, 2, 3)))
    assert(Aggregate.sortDesc(s) == Success(Seq(3, 2, 1)))
  }

  test("groupBy / reduce / asMultiMap / distinct / distinctCount") {
    val s = Pipeline.fromSeq(spark, Seq(1, 2, 3, 4, 4)).initStage
    assert(Aggregate.groupBy(s, (i: Int) => i % 2).get
      .view.mapValues(_.sorted).toMap == Map(0 -> Seq(2, 4, 4), 1 -> Seq(1, 3)))
    assert(Aggregate.reduce(s, (a: Int, b: Int) => a + b) == Success(14))
    assert(Aggregate.asMultiMap(s, (i: Int) => (i % 2, i)).get
      .view.mapValues(_.sorted).toMap == Map(0 -> Seq(2, 4, 4), 1 -> Seq(1, 3)))
    assert(Aggregate.distinct(s).get.sorted == Seq(1, 2, 3, 4))
    assert(Aggregate.distinctCount(s) == Success(4L))
  }

  test("forEach runs side effect per element (distributed)") {
    val acc = spark.sparkContext.longAccumulator("fe")
    val s = Pipeline.fromSeq(spark, Seq(1, 2, 3)).initStage
    assert(Aggregate.forEach(s, (i: Int) => acc.add(i)).isSuccess)
    assert(acc.value == 6)
  }

  test("stage ids: auto = 1 + previous, customId override") {
    val p = Pipeline.fromSeq(spark, Seq(1))
    assert(p.initStage.id == 1L)
    val s2 = p.initStage.map(i => i)
    assert(s2.id == 2L)
    val s3 = s2.map(i => i, StageConfig(customId = 42L))
    assert(s3.id == 42L)
  }

  test("sync aggregation on unstarted manual pipeline throws (reference panics)") {
    val p = Pipeline.fromSeq(spark, Seq(1, 2, 3), PipelineConfig(manualStart = true))
    assertThrows[IllegalStateException] {
      Aggregate.sum(p.initStage)
    }
  }

  test("maxParallelism bounds stage partitions via coalesce") {
    val p = Pipeline.fromSeq(spark, 1 to 100, PipelineConfig(maxParallelismPerStage = 2))
    val s = p.initStage.map(i => i + 1)
    assert(s.ds.rdd.getNumPartitions <= 2)
  }

  test("fromParquet reads a columnar source as Pipeline[Row]") {
    val p = Pipeline.fromParquet(spark, "/root/testdata/sf0.001/nation.parquet")
    assert(Aggregate.count(p.initStage) == Success(25L))
  }

  test("close() interrupts a pending pipeline and is AutoCloseable") {
    val p = Pipeline.fromSeq(spark, Seq(1, 2, 3), PipelineConfig(manualStart = true))
    p.close()
    assert(p.status == Status.Interrupted)
  }

  test("status transitions to Done after a sync aggregation") {
    val p = Pipeline.fromSeq(spark, Seq(1, 2))
    assert(Aggregate.count(p.initStage).isSuccess)
    assert(p.status == Status.Done)
  }

  test("maxParallelismTotal jointly bounds concurrent async aggregations") {
    // reference semantics (ratelimiter.go): ONE token pool for the
    // whole pipeline — two concurrent async aggregations must never
    // run more than `total` user-stage tasks between them (each action
    // here is bounded to 2 tasks, so unshared enforcement would reach 4
    // on this local[4] session)
    ParGauge.reset()
    val p = Pipeline.fromSeq(spark, 1 to 8, PipelineConfig(maxParallelismTotal = 2))
    val s = p.initStage.map(i => i)
    def body(i: Int): Unit = { ParGauge.enter(); Thread.sleep(100); ParGauge.exit() }
    val f1 = AsyncAggregate.forEach(s, body _)
    val f2 = AsyncAggregate.forEach(s, body _)
    assert(f1.get().isSuccess && f2.get().isSuccess)
    assert(ParGauge.maxSeen <= 2,
      s"observed ${ParGauge.maxSeen} concurrent tasks under a total bound of 2")
  }

  test("fromSeq keeps its elements out of the plan: one RDD leaf, LocalTableScan's slicing") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.LogicalRDD
    val n = 200000
    val ds = Pipeline.fromSeq(spark, 1 to n).initStage.ds
    val leaves = ds.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.collect { case l: LocalRelation => l }.isEmpty, s"leaves: $leaves")
    assert(leaves.collect { case l: LogicalRDD => l }.size == 1, s"leaves: $leaves")
    assert(leaves.size == 1, s"leaves: $leaves")
    assert(ds.queryExecution.toRdd.getNumPartitions ==
      math.min(n, spark.sparkContext.defaultParallelism))
  }

  test("fromSeq encodes on the driver: kryo elements need not be Java-serializable") {
    implicit val opaque: org.apache.spark.sql.Encoder[OpaqueBox] =
      org.apache.spark.sql.Encoders.kryo[OpaqueBox]
    val s = Pipeline.fromSeq(spark, (1 to 50).map(new OpaqueBox(_))).initStage
    assert(Aggregate.sum(s.map(_.v)) == Success(1275))
  }

  test("asSlice returns fromSeq's input order for structured, optional, null and nested elements") {
    val recs = (1 to 30).map(i => SeqRec(i, if (i % 4 == 0) null else s"r$i", Seq.fill(i % 3)(i)))
    assert(Aggregate.asSlice(Pipeline.fromSeq(spark, recs).initStage).get == recs)
    val opts = (1 to 30).map(i => if (i % 5 == 0) None else Some(i.toLong))
    assert(Aggregate.asSlice(Pipeline.fromSeq(spark, opts).initStage).get == opts)
    val strs = Seq("b", null, "a", null, "c")
    assert(Aggregate.asSlice(Pipeline.fromSeq(spark, strs).initStage).get == strs)
    val nested = Seq(Seq(3, 1), Seq.empty[Int], Seq(2), Seq(5, 4, 6))
    assert(Aggregate.asSlice(Pipeline.fromSeq(spark, nested).initStage).get == nested)
  }

  test("an element the encoder rejects throws from fromSeq itself, before any action") {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      // 31 integer digits: beyond the encoder's DecimalType(38,18)
      val e = intercept[RuntimeException] {
        Pipeline.fromSeq(spark, Seq(BigDecimal(1), BigDecimal("1e30")))
      }
      assert(e.asInstanceOf[org.apache.spark.SparkThrowable].getCondition ==
        "EXPRESSION_ENCODING_FAILED", e.getMessage)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]), e.getMessage)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a small fromSeq source keeps its size estimate: joined to nation it is the broadcast side") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val keys = Pipeline.fromSeq(spark, (0 until 100).map(i => (i % 25, i.toLong))).initStage
      .toDF.toDF("n_nationkey", "v")
    val nation = graft.Tables.nation(spark, "/root/testdata/sf0.001")
    // a left outer join can only build its right (the in-memory) side;
    // with no size estimate the leaf reports spark.sql.defaultSizeInBytes
    // and the planner falls back to a sort-merge join
    val plan = nation.join(keys, Seq("n_nationkey"), "left_outer").queryExecution.sparkPlan
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size == 1, plan.toString)
    val build = bhj.head.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => bhj.head.left
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => bhj.head.right
    }
    assert(build.collect { case f: FileSourceScanExec => f }.isEmpty, plan.toString)
  }

  test("fromSeq ships each partition as one packed buffer: at most 25 serialized bytes per Long row") {
    import org.apache.spark.sql.execution.LogicalRDD
    val n = 200000
    val ds = Pipeline.fromSeq(spark, 1L to n.toLong).initStage.ds
    val leaf = ds.queryExecution.optimizedPlan.collectLeaves().collect { case l: LogicalRDD => l.rdd }
    val ser = org.apache.spark.SparkEnv.get.closureSerializer.newInstance()
    val bytes = leaf.head.partitions.map(p => ser.serialize(p).limit().toLong).sum
    // a one-Long UnsafeRow is 16 bytes (null bitset word + value), its length prefix 4
    assert(bytes <= 1.25 * (4 + 16) * n, s"$bytes serialized bytes for $n rows")
  }

  test("fromSeq sizes: empty, one, fewer than the parallelism, a count the slices do not divide") {
    val empty = Pipeline.fromSeq(spark, Seq.empty[Long]).initStage
    assert(empty.ds.queryExecution.toRdd.getNumPartitions == 1)
    assert(Aggregate.sum(empty) == Success(0L))
    assert(Aggregate.asSlice(empty).get.isEmpty)
    val sc = spark.sparkContext
    for (n <- Seq(1, 3, 200001)) {
      val in = (1L to n.toLong).toVector
      val s = Pipeline.fromSeq(spark, in).initStage
      val slices = math.min(n, sc.defaultParallelism)
      assert(s.ds.rdd.glom().collect().map(_.toSeq).toSeq ==
        sc.parallelize(in, slices).glom().collect().map(_.toSeq).toSeq, s"n=$n")
      assert(Aggregate.sum(s) == Success(n.toLong * (n + 1) / 2), s"n=$n")
      assert(Aggregate.asSlice(s).get == in, s"n=$n")
    }
  }

  test("fromSeq and fromMap round-trip variable-width rows in input order") {
    def roundTrip[T: org.apache.spark.sql.Encoder](in: Seq[T]): Unit =
      assert(Aggregate.asSlice(Pipeline.fromSeq(spark, in).initStage).get == in)
    roundTrip((0 until 300).map(i => if (i % 7 == 0) null else "é漢🙂" * (i % 5) + i))
    roundTrip((0 until 300).map(i => Seq.tabulate(i % 6)(j => Seq.fill(j)(s"$i.$j"))))
    roundTrip((0 until 300).map(i => if (i % 3 == 0) None else Some("ß" * i)))
    roundTrip((0 until 300).map(i => SeqRec(i, if (i % 4 == 0) null else "ü" * i, Seq.fill(i % 9)(i))))
    val m = (0 until 500).map(i => s"k$i" -> ("ø" * (i % 13) + i)).toMap
    assert(Aggregate.asSlice(Pipeline.fromMap(spark, m).initStage).get == m.toSeq)
  }

  test("two actions on one fromSeq stage agree") {
    val s = Pipeline.fromSeq(spark, (1 to 5000).map(i => "x" * (i % 11))).initStage.map(_.length.toLong)
    val ref = (1 to 5000).map(i => (i % 11).toLong)
    assert(Aggregate.sum(s) == Success(ref.sum))
    assert(Aggregate.sum(s) == Success(ref.sum))
    assert(Aggregate.asSlice(s).get == ref)
  }

  test("four concurrent async sums over one fromSeq stage all return the reference value") {
    val s = Pipeline.fromSeq(spark, 1L to 100000L).initStage
    val futures = Seq.fill(4)(AsyncAggregate.sum(s))
    assert(futures.map(_.get()) == Seq.fill(4)(Success(100000L * 100001 / 2)))
  }
}

/** Not Serializable: shippable only as the bytes its kryo encoder
  * wrote on the driver.
  */
final class OpaqueBox(val v: Int)

final case class SeqRec(id: Int, name: String, tags: Seq[Int])

/** JVM-wide concurrency gauge: executor lambdas run in this JVM under
  * local[4], so a shared static observes true task concurrency.
  */
object ParGauge {
  private val cur = new java.util.concurrent.atomic.AtomicInteger(0)
  private val max = new java.util.concurrent.atomic.AtomicInteger(0)
  def enter(): Unit = {
    val c = cur.incrementAndGet()
    max.getAndAccumulate(c, (a, b) => math.max(a, b))
  }
  def exit(): Unit = cur.decrementAndGet()
  def reset(): Unit = { cur.set(0); max.set(0) }
  def maxSeen: Int = max.get()
}
