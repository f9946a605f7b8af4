package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EditDistanceJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Brute-force reference: every in-block pair, exact levenshtein. */
  private def brute(df: org.apache.spark.sql.DataFrame, maxDist: Int) =
    df.as("a").join(df.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("dist", levenshtein(col("a.name"), col("b.name")))
      .filter(col("dist") <= maxDist)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("dist"))
      .as[(Long, Long, Int)].collect().toSet

  test("deletion-neighborhood blocking finds exactly the brute-force pair set") {
    // hand-picked edit shapes: substitutions (1 and 2), pure deletions,
    // insert+delete SHIFT pairs (the case positional segment blocking
    // misses), equal strings, cross-block lookalikes (must NOT pair),
    // and a far pair (dist 3, must NOT pair)
    val rows = Seq(
      (1L, "Customer#000000001", 0),
      (2L, "Customer#000000002", 0), // dist 1 vs id 1
      (3L, "Customer#000000012", 0), // dist 2 vs id 1, dist 1 vs id 2
      (4L, "Customer#000000120", 0), // shift of id 3 (ins+del, dist 2)
      (5L, "Customer#00000001", 0),  // deletion of id 1 (dist 1)
      (6L, "Customer#000000001", 1), // same name, different block: no pair with id 1
      (7L, "Customer#000333001", 0), // dist 3 from id 1: excluded at maxDist 2
      (8L, "Customer#000000001", 0)) // exact duplicate of id 1 (dist 0)
      .toDF("id", "name", "blk")
    val got = EditDistanceJoin.selfJoin(rows, "id", "name", Seq("blk"), maxDist = 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == brute(rows, 2))
    // spot-check the shift pair survived (3, 4) and cross-block didn't
    assert(got.exists(p => p._1 == 3L && p._2 == 4L && p._3 == 2))
    assert(!got.exists(p => (p._1, p._2) == (1L, 6L)))
  }

  test("agrees with brute force on a randomized corpus (incl. varied lengths)") {
    // deterministic pseudo-random names over a tiny alphabet with
    // varied lengths — dense edit-distance structure, every edit shape
    val base = spark.range(300).select(
      col("id"),
      concat(lit("n"),
        substring(md5(col("id").cast("string")), 1, 6),
        // ragged tails: length varies by 0-2 so cross-length pairs exist
        substring(md5(col("id").cast("string")), lit(8), (col("id") % 3).cast("int")))
        .as("name"),
      (col("id") % 2).cast("int").as("blk"))
    // fold digits to 'z' to densify the alphabet (more true pairs)
    val dense = base.withColumn("name", regexp_replace(col("name"), "[0-9]", "z"))
    val got = EditDistanceJoin.selfJoin(dense, "id", "name", Seq("blk"), maxDist = 2)
      .as[(Long, Long, Int)].collect().toSet
    val want = brute(dense, 2)
    assert(want.nonEmpty, "degenerate corpus: brute force found no pairs")
    assert(got == want)
  }

  test("maxDist 1 tightens the verify without changing the candidate machinery") {
    val rows = Seq(
      (1L, "abcdef", 0), (2L, "abcdeg", 0), (3L, "abcdgg", 0))
      .toDF("id", "name", "blk")
    val got = EditDistanceJoin.selfJoin(rows, "id", "name", Seq("blk"), maxDist = 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == brute(rows, 1))
    assert(got == Set((1L, 2L, 1), (2L, 3L, 1)))
  }

  test("candidatePairs fails loudly on a key table with a second band") {
    // ids 1 and 2 share a bucket key but not a band: not a candidate
    // pair, and the operator path (which shuffles bkey alone) must
    // refuse the table rather than merge the bands
    val keyed = Seq((1L, 0, 42L), (2L, 1, 42L), (3L, 0, 7L))
      .toDF("id", "band", "bkey")
    val e = intercept[Exception](EditDistanceJoin.candidatePairs(keyed, 100).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains("band must be 0")), e.toString)
    // deletionKeys' literal band folds the check out of the plan
    val names = Seq((1L, "abcdef", 0), (2L, "abcdeg", 0)).toDF("id", "name", "blk")
    val plan = EditDistanceJoin.candidatePairs(
      EditDistanceJoin.deletionKeys(names, "id", "name", Seq("blk")), 100)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("raise_error"), plan)
  }
}
