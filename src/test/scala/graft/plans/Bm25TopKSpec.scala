package graft.plans

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec

/** Pins the single-pass [[Bm25TopK]] operator against the wave-1
  * pipeline it replaces — collect_list per doc + the
  * [[ScoreKernelCols.bm25Scores]] kernel + Generate explode + the
  * TopKPerKey partial/final pair. Both sides accumulate each
  * (query, doc) sum in ascending term-index order and round through
  * the same r4, so the comparison is BIT-identical, not just
  * r4-equal (ScoreKernelsSpec separately pins the whole serving path
  * against the original broadcast-fan-out + hash-aggregate plan).
  *
  * The operator's per-partition emission is only a partial top-k;
  * every case below feeds it through the same TopKPerKey final merge
  * the serving path uses, exactly as Retrieval.scoreBm25 wires it.
  */
class Bm25TopKSpec extends AnyFunSpec {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The wave-1 shape, inline (pre-wave-6 scoreBm25 tail). */
  private def legacy(entries: DataFrame, qs: ScoreKernels.Bm25QuerySet,
                     k: Int): DataFrame = {
    val perDoc = entries
      .select(col("id"), struct(col("idx"), col("c").as("c")).as("e"))
      .groupBy("id").agg(collect_list(col("e")).as("tc"))
    val scored = perDoc
      .select(col("id"), explode(ScoreKernelCols.bm25Scores(col("tc"), qs)).as("qsc"))
      .select(col("qsc.query_id").as("query_id"), col("id").as("doc_id"),
        col("qsc.score").as("score"))
    TopKPerKey.topK(scored, Seq("query_id"),
      Seq("score" -> true, "doc_id" -> false), k)
  }

  private def viaOperator(entries: DataFrame, qs: ScoreKernels.Bm25QuerySet,
                          k: Int): DataFrame =
    TopKPerKey.topK(Bm25TopK.scoreTopK(entries, qs, k), Seq("query_id"),
      Seq("score" -> true, "doc_id" -> false), k)

  private def assertSame(entries: DataFrame, qs: ScoreKernels.Bm25QuerySet,
                         k: Int): Unit = {
    val want = legacy(entries, qs, k)
    val got = viaOperator(entries, qs, k)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  /** qids 100..100+nQ-1; term t belongs to queries with q ≡ t (mod 3)
    * plus query 0 on every term (overlapping memberships). */
  private def querySet(nQ: Int, nT: Int): ScoreKernels.Bm25QuerySet = {
    val qids = Array.tabulate(nQ)(i => 100L + i)
    val t2q = Array.tabulate(nT) { t =>
      (0 until nQ).filter(q => q == 0 || q % 3 == t % 3).toArray.sorted
    }
    new ScoreKernels.Bm25QuerySet(qids, t2q)
  }

  describe("Bm25TopK.scoreTopK") {
    it("matches the collect_list + bm25Scores + explode pipeline bit-for-bit " +
       "across a multi-partition shuffle") {
      val nT = 7
      val qs = querySet(5, nT)
      // 240 docs × a term subset each, deliberately round-robin split so
      // EnsureRequirements must insert the hash(id) exchange and docs
      // arrive fragmented across input partitions
      val entries = spark.range(0, 240).select(col("id"))
        .crossJoin(spark.range(0, nT).select(col("id").cast("int").as("idx")))
        .filter((col("id") + col("idx")) % 3 =!= 0)
        .select(col("id"), col("idx"),
          (sin(col("id") * 7 + col("idx")) * 3.0).as("c"))
        .repartition(7)
      assertSame(entries, qs, 10)
      val planned = Bm25TopK.scoreTopK(entries, qs, 10)
      val physical = planned.queryExecution.executedPlan.toString
      assert(physical.contains("ScoreTopK"))
      assert(physical.contains("Exchange hashpartitioning(id"))
    }

    it("keeps ties on score in doc_id ASC order and null doc ids first") {
      val qs = new ScoreKernels.Bm25QuerySet(Array(7L), Array(Array(0)))
      // four docs with identical contributions => identical scores,
      // plus a null-id doc group; k=3 keeps nulls-first then smallest ids
      val rows = Seq[(java.lang.Long, Int, Double)](
        (5L, 0, 2.0), (3L, 0, 2.0), (9L, 0, 2.0), (null, 0, 2.0))
      val entries = rows.toDF("id", "idx", "c")
      val got = viaOperator(entries, qs, 3)
        .orderBy(col("score").desc, col("doc_id").asc_nulls_first)
        .collect()
      assert(got.length === 3)
      assert(got(0).isNullAt(1))
      assert(got(1).getLong(1) === 3L && got(2).getLong(1) === 5L)
      assertSame(entries, qs, 3)
    }

    it("handles k larger than the candidate set, k=1, and docs touching " +
       "no query terms of a given query") {
      val qs = querySet(4, 5)
      val entries = Seq(
        (1L, 0, 1.5), (1L, 3, -0.5), (2L, 1, 0.25), (3L, 4, 4.0), (3L, 0, 0.0))
        .toDF("id", "idx", "c")
      assertSame(entries, qs, 100)
      assertSame(entries, qs, 1)
    }

    it("sums in ascending term-index order regardless of row arrival order") {
      val qs = new ScoreKernels.Bm25QuerySet(Array(1L), Array(Array(0), Array(0), Array(0)))
      // 0.1 + 0.2 + 0.3 associates differently than 0.3 + 0.2 + 0.1;
      // both sides must pick the ascending-idx order
      val fwd = Seq((1L, 0, 0.1), (1L, 1, 0.2), (1L, 2, 0.3)).toDF("id", "idx", "c")
      val rev = Seq((1L, 2, 0.3), (1L, 1, 0.2), (1L, 0, 0.1)).toDF("id", "idx", "c")
      val a = viaOperator(fwd, qs, 1).collect()
      val b = viaOperator(rev, qs, 1).collect()
      assert(a.length === 1 && b.length === 1)
      assert(java.lang.Double.doubleToLongBits(a(0).getDouble(2)) ===
        java.lang.Double.doubleToLongBits(b(0).getDouble(2)))
      assertSame(fwd, qs, 1)
    }

    it("ranks a NaN score above every number, as Spark's ordering does") {
      val qs = new ScoreKernels.Bm25QuerySet(Array(7L), Array(Array(0)))
      // the NaN doc has the largest id, so it reaches every heap after
      // finite scores have filled it
      val entries = ((0L until 200L).map(id => (id, 0, id.toDouble)) :+
        ((1000L, 0, Double.NaN))).toDF("id", "idx", "c")
      val got = viaOperator(entries, qs, 2)
        .orderBy(col("score").desc, col("doc_id")).collect()
      assert(got.map(_.getLong(1)).toSeq === Seq(1000L, 199L))
      assert(got(0).getDouble(2).isNaN)
      assertSame(entries, qs, 2)
    }

    it("rejects a child with the wrong shape") {
      val qs = querySet(1, 1)
      val bad = Seq((1, 0L, 1.0)).toDF("id", "idx", "c") // id INT, idx LONG
      assertThrows[IllegalArgumentException] {
        Bm25TopK.scoreTopK(bad, qs, 5)
      }
    }
  }
}
