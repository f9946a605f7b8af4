package graft.plans

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec

/** Pins BoundedCollectLong's contract: element-equal to collect_list
  * (as multisets) for every group within the cap, null (never a
  * truncated array) for groups over it, exact count unaffected.
  */
class BoundedCollectSpec extends AnyFunSpec {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  it("equals collect_list as a multiset under the cap; caps above it") {
    val limit = 5
    // group sizes 1, 4 (= limit-1), 5 (= limit), 9 (> limit)
    val rows = (Seq(("a", 1L)) ++
      (1 to 4).map(i => ("b", i.toLong)) ++
      (1 to 5).map(i => ("c", i.toLong)) ++
      (1 to 9).map(i => ("d", i.toLong))).toDF("k", "v")
      .repartition(7) // force multi-partition partials + merges
    val got = rows.groupBy("k")
      .agg(count(lit(1)).as("n"),
        sort_array(BoundedCollect.boundedCollectLong(col("v"), limit)).as("ms"))
    val want = rows.groupBy("k")
      .agg(count(lit(1)).as("n"), sort_array(collect_list(col("v"))).as("ms"))
    val g = got.collect().map(r => r.getString(0) -> (r.getLong(1), r.getSeq[Long](2))).toMap
    val w = want.collect().map(r => r.getString(0) -> (r.getLong(1), r.getSeq[Long](2))).toMap
    // exact counts always
    assert(g.view.mapValues(_._1).toMap === w.view.mapValues(_._1).toMap)
    // within the cap (including exactly `limit`): identical multisets
    for (k <- Seq("a", "b", "c")) assert(g(k)._2 === w(k)._2, s"group $k")
    // over the cap: null, never a truncated array
    assert(g("d")._2 === null, "group d")
  }

  it("a group over the cap is null even without a paired count filter") {
    val rows = ((1 to 9).map(i => ("big", i.toLong)) ++
      (1 to 3).map(i => ("small", i.toLong))).toDF("k", "v")
      .repartition(4) // partials overflow only after the merge
    val got = rows.groupBy("k")
      .agg(BoundedCollect.boundedCollectLong(col("v"), 5).as("ms"))
      .collect().map(r => r.getString(0) -> Option(r.getSeq[Long](1))).toMap
    assert(got("big").isEmpty,
      s"truncated array observed for an overflowed group: ${got("big")}")
    assert(got("small").map(_.sorted) == Some(Seq(1L, 2L, 3L)))
  }

  it("null inputs are skipped like collect_list") {
    val rows = Seq(("a", Some(1L)), ("a", None), ("a", Some(2L)))
      .toDF("k", "v")
    val got = rows.groupBy("k")
      .agg(sort_array(BoundedCollect.boundedCollectLong(col("v"), 10)).as("ms"))
      .head.getSeq[Long](1)
    assert(got === Seq(1L, 2L))
  }
}
