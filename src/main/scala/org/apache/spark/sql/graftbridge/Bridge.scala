package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD

import scala.collection.immutable.ArraySeq

/** Column ↔ Expression bridging for custom Catalyst expressions.
  *
  * Spark 4 made these converters `private[sql]`
  * (org.apache.spark.sql.classic.ExpressionUtils), so library code
  * reaches them through this in-package shim — the usual pattern for
  * Spark-native extensions (cf. public extension libraries that
  * place a factory under org.apache.spark.sql for the same reason).
  */
object Bridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Whether the column is an `.asc`/`.desc` sort-order wrapper, NOT a
    * plain value column. Spark 4 wraps sort orders as a ColumnNode
    * (conversion to a catalyst `SortOrder` happens lazily at plan
    * build), so this is the reliable pre-analysis check.
    */
  def isSortOrder(c: Column): Boolean =
    c.node.isInstanceOf[org.apache.spark.sql.internal.SortOrder]

  /** DataFrame over a custom LogicalPlan (for library operators that
    * introduce their own plan nodes — `Dataset.ofRows` is
    * private[sql]).
    */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame. */
  def analyzed(df: DataFrame):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Block until all queued listener events have been delivered
    * (`listenerBus` is private[spark]) — metrics listeners receive
    * task events asynchronously, so readers must drain first.
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The session's autoBroadcastJoinThreshold in bytes (`sessionState`
    * is private[sql]; the conf string form would need byte-suffix
    * parsing).
    */
  def autoBroadcastThreshold(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.autoBroadcastJoinThreshold

  /** The DataFrame re-rooted on its own executed RDD[InternalRow] —
    * LOGICAL-lineage truncation for iterative operators whose
    * generation-N plan otherwise nests every previous generation's
    * text (q_pagerank's explain dump reached 95 k lines at 5
    * iterations; plan stringification and per-iteration analysis are
    * driver-side cost at any scale). This is `localCheckpoint`'s plan
    * surgery WITHOUT its GC-managed block lifetime: no data is
    * materialized or retained here — the wrapped frame executes the
    * original physical plan through the returned RDD, so the caller's
    * own persist()/unpersist() discipline (and CacheHandles release)
    * keeps working unchanged, and fault recovery still recomputes
    * through the retained RDD lineage exactly as it did through the
    * unpersisted parent cache before.
    */
  def truncateLineage(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    val rdd = ds.queryExecution.toRdd
    classic.Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(rdd, ds,
        isStreaming = false))
  }

  /** A local Seq as a Dataset whose leaf is an RDD of the encoded
    * rows, not a `LocalRelation` holding them (`createDataset(seq)`
    * puts every row inside the logical plan, where each analyzer and
    * optimizer rule that maps a node's expressions maps and compares
    * all of them again). The rows are encoded as `createDataset`
    * encodes them — eagerly on the driver, with the same serializer,
    * so encoding errors surface at this call and elements need not be
    * Java-serializable — and sliced as `LocalTableScanExec` slices
    * them (min(n, leaf-node parallelism) partitions). Each slice
    * ships as ONE packed byte array ([[PackedRows]]), which the
    * executor walks in place: a partition of row objects would be
    * Java-serialized row by row into every task of every action (by
    * the driver's scheduler endpoint, one launch at a time) and
    * rebuilt row by row on the executor. The leaf reports the size
    * estimate the `LocalRelation` would have, so broadcast planning
    * is unchanged.
    */
  def localDataset[T](spark: SparkSession, data: Seq[T], enc: Encoder[T]): Dataset[T] = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val toRow = encoderFor(enc).createSerializer()
    val output = DataTypeUtils.toAttributes(enc.schema)
    val n = data.length
    val slices = math.min(math.max(n, 1), session.leafNodeDefaultParallelism)
    val packed = PackedRows.pack(data.iterator.map(d => toRow(d).asInstanceOf[UnsafeRow]), n, slices)
    val numFields = output.length
    val rdd = session.sparkContext.parallelize(ArraySeq.unsafeWrapArray(packed), slices)
      .mapPartitions(_.flatMap(PackedRows.unpack(_, numFields)))
    val stats = Statistics(sizeInBytes = EstimationUtils.getSizePerRow(output) * n)
    classic.Dataset[T](session, LogicalRDD(output, rdd)(session, Some(stats)))(enc)
  }
}
