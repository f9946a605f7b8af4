package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Single-pass in-bucket pair generation over (id LONG, band INT,
  * bkey LONG) rows CLUSTERED and LOCALLY SORTED by (band, bkey) —
  * graft's one pair generator for id-only buckets. Its callers:
  * - [[graft.functions.Dedup.minhashCandidates]] (minhash bands);
  * - [[graft.functions.Similarity.embeddingNearDups]] (hyperplane
  *   bands);
  * - [[graft.operators.EditDistanceJoin.candidatePairs]]
  *   (deletion-neighborhood keys), behind
  *   [[graft.operators.EditDistanceJoin.selfJoin]] and
  *   [[graft.functions.LinkageIndex]]'s build and append.
  * Buckets that carry a payload the pair step reads (simhashPairs'
  * hashes, embeddingNearDupsAxis' vectors, lshBandSweep's config)
  * keep collect_list + an in-bucket kernel instead.
  *
  * Why: a groupBy(band, bkey).collect_list pipeline pays a partial
  * ObjectHashAggregate map over every input row AND a final one over
  * every distinct key before a single pair is produced, then a
  * round-robin bucket spread and a pair explode. On blocking-key
  * tables where most keys are singletons (the FastSS deletion
  * neighborhood: ~97 % of the 25.8 M variant keys at sf1 touch one
  * name) that measured +3.7 s wall at sf1/32 cpus against 0.6 s for
  * the key generation itself (EditJoinProbe). This operator rides one
  * hash(band, bkey) exchange — its required distribution places it —
  * and replaces all of that with one spillable radix sort plus a
  * linear run walk.
  *
  * Semantics, as a pair SET (callers feed dropDuplicates(id_a, id_b)):
  * - a run of equal (band, bkey) is one bucket; null ids are skipped
  *   (collect_list's rule) and null band/bkey values group together
  *   (groupBy's rule);
  * - runs with fewer than 2 non-null ids emit nothing;
  * - runs with more than `maxBucket` ids are dropped whole. A silent
  *   cap would hide recall loss, so the drop is counted in the
  *   operator's SQL metrics: `candidateBuckets` (runs with ≥ 2 ids,
  *   dropped included), `droppedBuckets` and `droppedIds`. Nonzero
  *   `droppedIds` is the signal to re-size the banding;
  * - a kept run emits every (a, b) with b > a over its distinct id
  *   VALUES (duplicate values never pair with themselves).
  *
  * Known Spark quirk (pinned in DedupSpec): if EVERY bucket is
  * dropped, AQE's empty-relation propagation replaces the subtree
  * above the empty stage, and the final adaptive plan no longer holds
  * this operator, so its metrics cannot be read there even though the
  * stage ran. The all-dropped case is observable with AQE off (or from
  * the candidate count being 0, which IS loud); the partial-drop case
  * a mis-sized production run hits reads fine under AQE.
  *
  * Memory is O(maxBucket) per task (one long buffer); pair emission
  * is lazy, so a dense bucket's quadratic output streams instead of
  * materializing an array.
  */
object SortedRunPairs {

  private def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("id_a", LongType, nullable = false)(),
    AttributeReference("id_b", LongType, nullable = false)())

  /** Fresh output attributes, renewed by [[newInstance]] so the
    * node's output can be joined with itself. */
  final case class RunPairsNode(maxBucket: Int, child: LogicalPlan,
                                outputAttrs: Seq[Attribute])
      extends UnaryNode with MultiInstanceRelation {
    override def output: Seq[Attribute] = outputAttrs
    override def producedAttributes: AttributeSet = AttributeSet(outputAttrs)
    override def newInstance(): RunPairsNode =
      copy(outputAttrs = outputAttrs.map(_.newInstance()))
    override protected def withNewChildInternal(c: LogicalPlan): RunPairsNode =
      copy(child = c)
  }

  final case class RunPairsExec(maxBucket: Int, outputAttrs: Seq[Attribute],
                                child: SparkPlan) extends UnaryExecNode {
    override def output: Seq[Attribute] = outputAttrs
    override def producedAttributes: AttributeSet = AttributeSet(outputAttrs)
    override protected def withNewChildInternal(c: SparkPlan): RunPairsExec =
      copy(child = c)
    // all rows of one (band, bkey) bucket in one partition...
    override def requiredChildDistribution: Seq[Distribution] =
      ClusteredDistribution(Seq(child.output(1), child.output(2))) :: Nil
    // ...and contiguous within it (NULLS FIRST on both keys — groupBy
    // treats null as one group, and a null key run groups the same way
    // under this order)
    override def requiredChildOrdering: Seq[Seq[SortOrder]] =
      Seq(Seq(SortOrder(child.output(1), Ascending),
        SortOrder(child.output(2), Ascending)))

    override lazy val metrics = Map(
      "candidateBuckets" -> SQLMetrics.createMetric(sparkContext,
        "buckets with >= 2 ids (pre-cap)"),
      "droppedBuckets" -> SQLMetrics.createMetric(sparkContext,
        "buckets dropped by the maxBucket cap"),
      "droppedIds" -> SQLMetrics.createMetric(sparkContext,
        "ids inside dropped buckets"))

    override protected def doExecute(): RDD[InternalRow] = {
      val cap = maxBucket
      val schema = org.apache.spark.sql.types.StructType(outputAttrs.map(a =>
        org.apache.spark.sql.types.StructField(a.name, a.dataType, a.nullable)))
      val mCand = longMetric("candidateBuckets")
      val mDropB = longMetric("droppedBuckets")
      val mDropI = longMetric("droppedIds")
      child.execute().mapPartitions { iter =>
        val proj = UnsafeProjection.create(schema)
        val outRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
        new Iterator[InternalRow] {
          // current run state
          private val ids = new Array[Long](cap)
          // separate emit buffer: the cursor drains a FINISHED run
          // while `ids` is already buffering the next one
          private val emitIds = new Array[Long](cap)
          private var nIds = 0        // buffered (≤ cap)
          private var runCount = 0L   // total non-null ids in the run
          private var open = false
          private var bandNull = false
          private var band = 0
          private var keyNull = false
          private var key = 0L
          // pair cursor over the finished run (distinct sorted values)
          private var emitN = 0
          private var i = 0
          private var j = 1

          private def sameRun(bn: Boolean, b: Int, kn: Boolean, k: Long): Boolean =
            open && bn == bandNull && kn == keyNull &&
              (bn || b == band) && (kn || k == key)

          /** Close the current run: account metrics and arm the pair
            * cursor if it survives the >=2 / <=cap gates. */
          private def finishRun(): Unit = {
            if (open && runCount >= 2) {
              mCand += 1
              if (runCount > cap) {
                mDropB += 1
                mDropI += runCount
              } else {
                // distinct sorted values => (emitIds(i), emitIds(j))
                // with i<j enumerates exactly the b>a value pairs
                java.util.Arrays.sort(ids, 0, nIds)
                var u = 0
                var k = 0
                while (k < nIds) {
                  if (u == 0 || ids(k) != emitIds(u - 1)) { emitIds(u) = ids(k); u += 1 }
                  k += 1
                }
                emitN = u
                i = 0
                j = 1
              }
            }
            nIds = 0
            runCount = 0L
          }

          private def pairReady: Boolean = i < emitN - 1 && j < emitN

          private def advance(): Unit = {
            while (!pairReady && iter.hasNext) {
              val row = iter.next()
              val bn = row.isNullAt(1)
              val b = if (bn) 0 else row.getInt(1)
              val kn = row.isNullAt(2)
              val k = if (kn) 0L else row.getLong(2)
              if (!sameRun(bn, b, kn, k)) {
                finishRun()
                open = true; bandNull = bn; band = b; keyNull = kn; key = k
              }
              if (!row.isNullAt(0)) {
                runCount += 1
                if (runCount <= cap) { ids(nIds) = row.getLong(0); nIds += 1 }
              }
            }
            if (!pairReady && open) {
              finishRun()   // flush the final run
              open = false
            }
          }

          override def hasNext: Boolean = { advance(); pairReady }

          override def next(): InternalRow = {
            advance()
            outRow.setLong(0, emitIds(i))
            outRow.setLong(1, emitIds(j))
            j += 1
            if (j >= emitN) { i += 1; j = i + 1 }
            proj(outRow)
          }
        }
      }
    }
  }

  /** In-bucket (id_a, id_b) candidate pairs over (id LONG, band INT,
    * bkey LONG) rows: buckets of fewer than 2 ids emit nothing,
    * buckets above `maxBucket` are dropped whole (SQL-metric-counted).
    * Feed the result through dropDuplicates(id_a, id_b): a pair found
    * in several buckets is emitted once per bucket. Planned by
    * [[GraftStrategy]] on any session.
    */
  def pairs(df: DataFrame, maxBucket: Int): DataFrame = {
    require(maxBucket >= 2, "maxBucket must be >= 2")
    val spark = df.sparkSession
    GraftStrategy.ensure(spark)
    val analyzed = Bridge.analyzed(df)
    require(analyzed.output.length == 3 &&
      analyzed.output(0).dataType == LongType &&
      analyzed.output(1).dataType == IntegerType &&
      analyzed.output(2).dataType == LongType,
      s"pairs child must be (id LONG, band INT, bkey LONG), got " +
        analyzed.output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(", "))
    Bridge.ofRows(spark, RunPairsNode(maxBucket, analyzed, freshOutput()))
  }
}
