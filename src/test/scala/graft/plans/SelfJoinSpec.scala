package graft.plans

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The output of every custom logical node joins with itself: the
  * analyzer must be able to re-instance a node's fresh output
  * attributes (`MultiInstanceRelation`), or the join fails with
  * "Failure when resolving conflicting references". One case per
  * public entry point that ends in such a node.
  */
class SelfJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again tonight"),
    (3L, "completely different content about distributed analytics engines"),
    (4L, "the quick brown fox jumps over the lazy dog again and again today")
  ).toDF("doc_id", "text")

  private val cases: Seq[(String, () => DataFrame, Seq[String])] = Seq(
    ("EditDistanceJoin.selfJoin (RunPairsNode)", () =>
      graft.operators.EditDistanceJoin.selfJoin(
        Seq((1L, "smith", 0), (2L, "smyth", 0), (3L, "smithe", 0), (4L, "jones", 0))
          .toDF("id", "name", "blk"), "id", "name", Seq("blk")),
      Seq("id_a", "id_b")),
    ("Retrieval.bm25TopK (ScoreTopKNode)", () =>
      graft.functions.Retrieval.bm25TopK(docs,
        Seq((100L, "quick fox"), (101L, "analytics engines")).toDF("doc_id", "text"),
        "doc_id", "text", topK = 2),
      Seq("query_id", "doc_id")),
    ("Dedup.minhashCandidates (RunPairsNode)", () =>
      graft.functions.Dedup.minhashCandidates(docs, "doc_id", "text"),
      Seq("id_a", "id_b")))

  cases.foreach { case (name, build, keys) =>
    test(s"$name output joins with itself on its key") {
      val df = build()
      val n = df.count()
      assert(n > 0)
      assert(df.join(df, keys).count() === n)
    }
  }
}
