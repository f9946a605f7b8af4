package graft.plans

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec

/** Pins the [[SortedRunPairs]] streaming operator against the
  * groupBy(band, bkey).collect_list + explode(longPairs) +
  * dropDuplicates pipeline it replaces on the edit-join path
  * (pair-SET equality — both forms end in dropDuplicates, so sets
  * are the contract), including the maxBucket cap, null ids (skipped
  * like collect_list), null bucket keys (one group like groupBy),
  * and multi-partition inputs that force the clustering exchange.
  */
class SortedRunPairsSpec extends AnyFunSpec {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The collect_list pipeline, inline (groupBy + LongPairs explode). */
  private def legacy(banded: DataFrame, maxBucket: Int): DataFrame = {
    val buckets = banded
      .groupBy("band", "bkey")
      .agg(collect_list(col("id")).as("ms"))
      .filter(size(col("ms")) >= 2)
      .filter(size(col("ms")) <= maxBucket)
    buckets
      .select(explode(ArrayPairsCols.longPairs(col("ms"))).as("pair"))
      .select(col("pair.id_a").as("id_a"), col("pair.id_b").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  private def viaOperator(banded: DataFrame, maxBucket: Int): DataFrame =
    SortedRunPairs.pairs(banded, maxBucket).dropDuplicates("id_a", "id_b")

  private def assertSame(banded: DataFrame, maxBucket: Int): Unit = {
    val want = legacy(banded, maxBucket)
    val got = viaOperator(banded, maxBucket)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  describe("SortedRunPairs.pairs") {
    it("matches the collect_list + longPairs pipeline on a fragmented " +
       "multi-partition key table") {
      // 400 ids spread over 120 buckets with sizes 1..7, rows round-robin
      // split so the operator's exchange must regroup them
      val banded = spark.range(0, 400).select(
          col("id"),
          (col("id") % 2).cast("int").as("band"),
          (col("id") % 60).as("bkey"))
        .repartition(7)
      assertSame(banded, 10000)
      val physical = SortedRunPairs.pairs(banded, 10000)
        .queryExecution.executedPlan.toString
      assert(physical.contains("RunPairs"))
    }

    it("drops buckets above maxBucket whole and keeps exact-cap buckets") {
      // bucket 0: 5 ids (over cap 4, dropped); bucket 1: 4 ids (kept,
      // exactly at cap); bucket 2: 2 ids; bucket 3: singleton
      val rows = Seq(
        (10L, 0, 0L), (11L, 0, 0L), (12L, 0, 0L), (13L, 0, 0L), (14L, 0, 0L),
        (20L, 0, 1L), (21L, 0, 1L), (22L, 0, 1L), (23L, 0, 1L),
        (30L, 0, 2L), (31L, 0, 2L),
        (40L, 0, 3L))
      val banded = rows.toDF("id", "band", "bkey").repartition(3)
      assertSame(banded, 4)
      assert(viaOperator(banded, 4).count() === 6 + 1) // C(4,2) + C(2,2)
      // the cap is counted: buckets 0..2 are candidates, bucket 0 and
      // its 5 ids dropped
      val pairs = SortedRunPairs.pairs(banded, 4)
      pairs.collect()
      assert(RunPairsMetrics.of(pairs) === Some((3L, 1L, 5L)))
    }

    it("skips null ids like collect_list and groups null keys like groupBy") {
      val rows = Seq[(java.lang.Long, Integer, java.lang.Long)](
        (1L, 0, 5L), (null, 0, 5L), (2L, 0, 5L),    // null id skipped -> pair (1,2)
        (3L, 0, null), (4L, 0, null),                // null bkey is ONE group
        (5L, null, 7L), (6L, null, 7L),              // null band is ONE group
        (7L, 1, 9L), (null, 1, 9L))                  // 1 non-null id: no pair
      val banded = rows.toDF("id", "band", "bkey").repartition(4)
      assertSame(banded, 100)
      val got = viaOperator(banded, 100).orderBy("id_a").collect()
      assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
        Seq((1L, 2L), (3L, 4L), (5L, 6L)))
    }

    it("emits value-ordered pairs with duplicate id values never self-pairing") {
      val rows = Seq((9L, 0, 1L), (3L, 0, 1L), (9L, 0, 1L), (1L, 0, 1L))
      val banded = rows.toDF("id", "band", "bkey")
      // legacy: bucket [9,3,9,1] -> longPairs b>a -> {(3,9),(1,9),(1,3)}
      // (duplicated (3,9)/(1,9) collapse in dropDuplicates)
      assertSame(banded, 100)
      assert(viaOperator(banded, 100).count() === 3)
    }

    it("handles a dense bucket's quadratic emission lazily (10k-pair run) " +
       "interleaved between small runs") {
      val dense = (0 until 150).map(i => (1000L + i, 0, 42L))
      val small = Seq((1L, 0, 10L), (2L, 0, 10L), (3L, 0, 99L), (4L, 0, 99L))
      val banded = (dense ++ small).toDF("id", "band", "bkey").repartition(5)
      assertSame(banded, 10000)
      assert(viaOperator(banded, 10000).count() === 150 * 149 / 2 + 2)
    }

    it("rejects a child with the wrong shape") {
      val bad = Seq((1, 0L, 1.0)).toDF("id", "band", "bkey")
      assertThrows[IllegalArgumentException] {
        SortedRunPairs.pairs(bad, 10)
      }
    }
  }
}
