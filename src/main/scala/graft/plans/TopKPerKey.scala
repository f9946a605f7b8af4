package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.graftbridge.Bridge

/** Native top-k-per-key as a full custom operator stack: logical node
  * → planner strategy → two physical operators (partial + final).
  *
  * Semantics: keep each key's first `k` rows under `order` (e.g.
  * score DESC, id ASC for a deterministic tie-break), emitted in that
  * order per key. The same result as `row_number().over(partitionBy
  * key orderBy order) <= k`, and the same two-phase shape as the
  * `collect_list`+`slice` formulation in
  * [[graft.functions.Similarity.topKPerKey]] — but with a bounded
  * binary heap per (key, partition) instead of materializing each
  * group as an array: memory is O(keys × k) per task regardless of
  * group sizes, rows never serialize into intermediate arrays, and
  * the shuffle carries at most k rows per key per map partition.
  *
  * This is the tier-(c) custom-operator path (SURVEY §3): the
  * operator the engine genuinely can't express without either a
  * window (full sort per key) or per-group array materialization.
  */
object TopKPerKey {

  /** Logical node: pure metadata (keys, ordering, k) over the child. */
  final case class TopKPerKeyNode(keys: Seq[Expression], order: Seq[SortOrder],
                                  k: Int, child: LogicalPlan) extends UnaryNode {
    override def output: Seq[Attribute] = child.output
    override protected def withNewChildInternal(c: LogicalPlan): TopKPerKeyNode =
      copy(child = c)
  }

  /** Bounded-heap top-k. `partial = true` runs before the shuffle on
    * arbitrary partitions (emission order irrelevant — only the
    * k-per-key bound matters); the final pass requires key-clustered
    * input and emits each key's rows in `order`.
    */
  final case class TopKExec(keys: Seq[Expression], order: Seq[SortOrder],
                            k: Int, partial: Boolean, child: SparkPlan)
      extends UnaryExecNode {
    override def output: Seq[Attribute] = child.output
    override protected def withNewChildInternal(c: SparkPlan): TopKExec =
      copy(child = c)
    override def requiredChildDistribution: Seq[Distribution] =
      if (partial) UnspecifiedDistribution :: Nil
      else ClusteredDistribution(keys) :: Nil

    // row-preserving per partition: downstream operators clustered on
    // the same keys (e.g. a rank window over the ≤k survivors) must
    // see the child's partitioning, or they re-shuffle needlessly
    override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
      child.outputPartitioning

    override protected def doExecute(): RDD[InternalRow] = {
      val keyExprs = keys
      val orderExprs = order
      val childOutput = child.output
      val limit = k
      val isPartial = partial
      // partial-pass memory guard: with near-unique keys a 128 MB split
      // could otherwise copy ~every row into heaps (several× expansion
      // as UnsafeRow copies + PQ overhead) with no spill path. When the
      // key map crosses this bound, emit-and-clear: each flush still
      // sends ≤ k rows per key, so the final pass merges the same
      // result — identical to how Spark's partial aggregates fall back
      // to pass-through emission under memory pressure.
      val maxKeys = conf.getConfString(
        "spark.graft.topk.partialMaxKeys", "65536").toInt
      child.execute().mapPartitions { iter =>
        val keyProj = UnsafeProjection.create(keyExprs, childOutput)
        val rowOrd = GenerateOrdering.generate(orderExprs, childOutput)
        // max-heap by `order`: head is the WORST kept row, evicted
        // when a better one arrives — classic bounded top-k
        val heaps = scala.collection.mutable.LinkedHashMap
          .empty[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]
        def consume(row: InternalRow): Unit = {
          val key = keyProj(row)
          heaps.get(key) match {
            case Some(pq) =>
              if (pq.size < limit) pq.enqueue(row.copy())
              else if (rowOrd.compare(row, pq.head) < 0) {
                pq.dequeue(); pq.enqueue(row.copy())
              }
            case None =>
              val pq = scala.collection.mutable.PriorityQueue
                .empty[InternalRow](rowOrd.asInstanceOf[Ordering[InternalRow]])
              pq.enqueue(row.copy())
              heaps.put(key.copy(), pq)
          }
        }
        if (isPartial) new Iterator[InternalRow] {
          private var out: Iterator[InternalRow] = Iterator.empty
          private def fill(): Unit =
            while (!out.hasNext && (iter.hasNext || heaps.nonEmpty)) {
              while (iter.hasNext && heaps.size < maxKeys) consume(iter.next())
              if (heaps.nonEmpty) {
                // snapshot before clear — the emitting iterator must
                // not read through the live (about-to-refill) map
                val drained = heaps.values.toArray
                heaps.clear()
                out = drained.iterator.flatMap(_.iterator)
              }
            }
          override def hasNext: Boolean = { fill(); out.hasNext }
          override def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException("empty iterator")
            out.next()
          }
        } else {
          iter.foreach(consume)
          heaps.valuesIterator.flatMap(_.dequeueAll.reverseIterator)
        }
      }
    }
  }

  /** Keep each key's first `k` rows under `order` — `order` entries
    * are (columnName, descending?). Works on any session: it makes
    * the DataFrame's session plan the node ([[GraftStrategy.ensure]]).
    */
  def topK(df: DataFrame, keyCols: Seq[String],
           order: Seq[(String, Boolean)], k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = df.sparkSession
    GraftStrategy.ensure(spark)
    val analyzed = Bridge.analyzed(df)
    def attr(name: String): Attribute =
      analyzed.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${analyzed.output.map(_.name)}"))
    val keys = keyCols.map(attr)
    val sortOrder = order.map { case (name, desc) =>
      SortOrder(attr(name), if (desc) Descending else Ascending)
    }
    Bridge.ofRows(spark, TopKPerKeyNode(keys, sortOrder, k, analyzed))
  }
}
