package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Single-pass BM25 score-into-heaps operator (optimization round 19,
  * the "Not yet optimized" item the round-19 record deferred: the
  * retrieval family's remaining scoring CPU was spread across per-row
  * machinery the [[ScoreKernels.Bm25Scores]] expression could not
  * reach from outside — the per-doc collect_list ObjectHashAggregate,
  * the corpus×queries-struct Generate explode, and the TopKPerKey
  * partial probes on every generated row).
  *
  * This operator collapses all three: it consumes the document
  * (id, term-index, contribution) rows the broadcast term join
  * produces, CLUSTERED and LOCALLY SORTED by id (required child
  * distribution/ordering — the tf table is already hash(id)-
  * distributed on every serving path, so only a spillable local sort
  * is added, never an exchange), scores each document against the
  * compiled [[ScoreKernels.Bm25QuerySet]] the moment its last row
  * streams past, and offers the (doc, score) straight into per-query
  * bounded top-k arrays held in primitives. Per partition it emits at
  * most queries × k rows — exactly the bound the generic
  * [[TopKPerKey]] partial pass guaranteed — and the existing
  * TopKPerKey final merge (and its pinned ordering semantics)
  * consumes them unchanged downstream.
  *
  * Memory is O(queries × k + query-vocabulary scratch) per task —
  * strictly less than the collect_list hash aggregate it replaces
  * (whole-split per-doc arrays), and the doc grouping rides Spark's
  * spillable SortExec rather than an unspillable operator-local map.
  *
  * Result identity with the replaced pipeline, piece by piece:
  * per-(query, doc) sums accumulate in ascending term-index order
  * (identical to [[ScoreKernels.bm25Scores]]), scores round through
  * the same r4 BEFORE any comparison, and the kept set per query is
  * the k best under (score DESC, doc_id ASC) — the TopKPerKey
  * ordering the explode+partial pipeline fed. Bm25TopKSpec pins the
  * full-pipeline equality against the legacy plan built inline.
  */
object Bm25TopK {

  private def freshOutput(idNullable: Boolean): Seq[Attribute] = Seq(
    AttributeReference("query_id", LongType, nullable = false)(),
    AttributeReference("doc_id", LongType, nullable = idNullable)(),
    AttributeReference("score", DoubleType, nullable = false)())

  /** Logical node: child must produce exactly (id LONG, idx INT,
    * c DOUBLE); output is (query_id, doc_id, score). The output
    * attribute seq is a constructor field so plan copies keep the
    * expression ids stable.
    */
  final case class ScoreTopKNode(qs: ScoreKernels.Bm25QuerySet, k: Int,
                                 child: LogicalPlan,
                                 outputAttrs: Seq[Attribute]) extends UnaryNode {
    override def output: Seq[Attribute] = outputAttrs
    override def producedAttributes: AttributeSet = AttributeSet(outputAttrs)
    override protected def withNewChildInternal(c: LogicalPlan): ScoreTopKNode =
      copy(child = c)
  }

  final case class ScoreTopKExec(qs: ScoreKernels.Bm25QuerySet, k: Int,
                                 outputAttrs: Seq[Attribute], child: SparkPlan)
      extends UnaryExecNode {
    override def output: Seq[Attribute] = outputAttrs
    override def producedAttributes: AttributeSet = AttributeSet(outputAttrs)
    override protected def withNewChildInternal(c: SparkPlan): ScoreTopKExec =
      copy(child = c)
    // all of one document's rows in one partition (satisfied for free
    // by the tf table's existing by-id distribution on every path)...
    override def requiredChildDistribution: Seq[Distribution] =
      ClusteredDistribution(Seq(child.output.head)) :: Nil
    // ...and contiguous within it, so doc state is O(1) and the sort
    // (a radix sort on a long key, spillable) is the only grouping cost
    override def requiredChildOrdering: Seq[Seq[SortOrder]] =
      Seq(Seq(SortOrder(child.output.head, Ascending)))

    override protected def doExecute(): RDD[InternalRow] = {
      val queries = qs
      val limit = k
      val schema = org.apache.spark.sql.types.StructType(outputAttrs.map(a =>
        org.apache.spark.sql.types.StructField(a.name, a.dataType, a.nullable)))
      child.execute().mapPartitions { iter =>
        val nQ = queries.nQueries
        val nT = queries.nTerms
        // per-doc scratch, reset between docs by replaying the doc's
        // own (bounded, ≤ nT) touched lists — never a full array clear
        val termC = new Array[Double](nT)
        val termSeen = new Array[Boolean](nT)
        val touchedT = new Array[Int](nT)
        var nTouchedT = 0
        val acc = new Array[Double](nQ)
        val qTouched = new Array[Boolean](nQ)
        val touchedQ = new Array[Int](nQ)
        var nTouchedQ = 0
        // per-query bounded top-k kept best-first under
        // (score DESC, doc_id ASC) — the TopKPerKey order
        val heapScore = Array.ofDim[Double](nQ, limit)
        val heapDoc = Array.ofDim[Long](nQ, limit)
        val heapNull = Array.ofDim[Boolean](nQ, limit)
        val heapN = new Array[Int](nQ)

        // doc_id ASC with NULLS FIRST (the Ascending default, matching
        // the sort the TopKPerKey final applied to the explode rows)
        def docLt(aNull: Boolean, a: Long, bNull: Boolean, b: Long): Boolean =
          if (aNull && bNull) false
          else if (aNull) true
          else if (bNull) false
          else a < b

        // score DESC under Spark's double ordering (NaN above every
        // number and equal to itself, -0.0 == 0.0) — the order the
        // TopKPerKey final merge sorts by; Java's `>` would make a NaN
        // score lose every comparison instead
        def beats(s: Double, dNull: Boolean, d: Long,
                  ws: Double, wn: Boolean, wd: Long): Boolean = {
          val c = SQLOrderingUtil.compareDoubles(s, ws)
          c > 0 || (c == 0 && docLt(dNull, d, wn, wd))
        }

        def offer(q: Int, dNull: Boolean, d: Long, s: Double): Unit = {
          val n = heapN(q)
          val sc = heapScore(q); val dc = heapDoc(q); val nu = heapNull(q)
          // compare against the worst kept (last slot)
          if (n == limit && !beats(s, dNull, d, sc(n - 1), nu(n - 1), dc(n - 1))) return
          // insertion position: first slot this row beats
          var i = if (n == limit) n - 1 else n
          while (i > 0 && beats(s, dNull, d, sc(i - 1), nu(i - 1), dc(i - 1))) {
            sc(i) = sc(i - 1); dc(i) = dc(i - 1); nu(i) = nu(i - 1)
            i -= 1
          }
          sc(i) = s; dc(i) = d; nu(i) = dNull
          if (n < limit) heapN(q) = n + 1
        }

        def finishDoc(dNull: Boolean, d: Long): Unit = {
          // score in ascending term-index order — bit-identical
          // accumulation to ScoreKernels.bm25Scores (which scatters by
          // idx and walks t = 0..nTerms); replaying the touched list in
          // sorted order visits the same terms in the same order
          java.util.Arrays.sort(touchedT, 0, nTouchedT)
          var ti = 0
          while (ti < nTouchedT) {
            val t = touchedT(ti)
            val c = termC(t)
            val qsOf = queries.term2q(t)
            var j = 0
            while (j < qsOf.length) {
              val q = qsOf(j)
              if (!qTouched(q)) { qTouched(q) = true; touchedQ(nTouchedQ) = q; nTouchedQ += 1 }
              acc(q) += c
              j += 1
            }
            ti += 1
          }
          var qi = 0
          while (qi < nTouchedQ) {
            val q = touchedQ(qi)
            offer(q, dNull, d, math.floor(acc(q) * 10000.0 + 0.5) / 10000.0)
            acc(q) = 0.0
            qTouched(q) = false
            qi += 1
          }
          nTouchedQ = 0
          ti = 0
          while (ti < nTouchedT) {
            termSeen(touchedT(ti)) = false
            ti += 1
          }
          nTouchedT = 0
        }

        var open = false
        var curNull = false
        var curId = 0L
        while (iter.hasNext) {
          val row = iter.next()
          val idNull = row.isNullAt(0)
          val id = if (idNull) 0L else row.getLong(0)
          if (!open || idNull != curNull || (!idNull && id != curId)) {
            if (open) finishDoc(curNull, curId)
            open = true; curNull = idNull; curId = id
          }
          // a null term index / contribution cannot occur by
          // construction (both come from the broadcast term table's
          // non-null columns); skipping defensively matches "no
          // contribution" rather than reading an undefined slot
          if (!row.isNullAt(1) && !row.isNullAt(2)) {
            val idx = row.getInt(1)
            if (!termSeen(idx)) {
              termSeen(idx) = true
              touchedT(nTouchedT) = idx; nTouchedT += 1
            }
            // (id, idx) is unique by construction — tf is keyed by
            // (doc, term) and the term table has one row per term; on
            // an impossible duplicate, last-write-wins mirrors the
            // ScoreKernels.bm25Scores scatter exactly
            termC(idx) = row.getDouble(2)
          }
        }
        if (open) finishDoc(curNull, curId)

        val proj = UnsafeProjection.create(schema)
        val outRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(3)
        new Iterator[InternalRow] {
          private var q = 0
          private var i = 0
          private def advance(): Unit =
            while (q < nQ && i >= heapN(q)) { q += 1; i = 0 }
          override def hasNext: Boolean = { advance(); q < nQ }
          override def next(): InternalRow = {
            advance()
            outRow.update(0, queries.qids(q))
            if (heapNull(q)(i)) outRow.update(1, null)
            else outRow.update(1, heapDoc(q)(i))
            outRow.update(2, heapScore(q)(i))
            i += 1
            proj(outRow)
          }
        }
      }
    }
  }

  /** Per-partition BM25 top-k over (id LONG, idx INT, c DOUBLE) rows:
    * emits ≤ queries×k (query_id, doc_id, score) rows per partition —
    * feed the result through [[TopKPerKey.topK]] for the global merge.
    * Planned by [[GraftStrategy]] on any session.
    */
  def scoreTopK(df: DataFrame, qs: ScoreKernels.Bm25QuerySet, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = df.sparkSession
    GraftStrategy.ensure(spark)
    val analyzed = Bridge.analyzed(df)
    require(analyzed.output.length == 3 &&
      analyzed.output(0).dataType == LongType &&
      analyzed.output(1).dataType == IntegerType &&
      analyzed.output(2).dataType == DoubleType,
      s"scoreTopK child must be (id LONG, idx INT, c DOUBLE), got " +
        analyzed.output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(", "))
    Bridge.ofRows(spark, ScoreTopKNode(qs, k, analyzed,
      freshOutput(analyzed.output.head.nullable)))
  }
}
