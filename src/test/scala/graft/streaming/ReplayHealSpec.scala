package graft.streaming

import graft.SparkTestSession
import graft.functions.{Dedup, GraphIndex, LinkageIndex, SimJoinIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** Pins the crash window the tagged-delta mechanism exists for: a
  * checkpoint replay that runs AFTER the batch's index append must
  * re-score against the pre-append view (the batch's own tagged
  * deltas are excluded by [[Dedup.readHashIndex]]) — without the
  * exclusion, every replayed doc matches its own freshly-appended
  * hashes and spanDedupIngest would overwrite its partition with
  * dup_frac = 1.0 for every row, and curateIngest would zero its kept
  * set and stats while the output partition kept the original rows.
  * Simulated exactly like StreamingSpec's decontam restart test: file
  * source, process one batch (output written AND index grown), delete
  * the checkpoint commit marker, restart → Spark re-runs the same
  * batch_id.
  */
class ReplayHealSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def dropNewestCommit(ckpt: String): Unit = {
    val commitDir = new java.io.File(s"$ckpt/commits")
    val commits = commitDir.listFiles().filter(_.getName.forall(_.isDigit))
    assert(commits.nonEmpty)
    val newest = commits.maxBy(_.getName.toInt)
    new java.io.File(commitDir, s".${newest.getName}.crc").delete()
    assert(newest.delete())
  }

  test("spanDedupIngest: replay AFTER the index append re-scores identically") {
    val dir = java.nio.file.Files.createTempDirectory("graft_span_rs").toString
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val half = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    Dedup.writeSpanIndex(half, "doc_id", "text", 8, s"$dir/index")
    batch.coalesce(1).write.parquet(s"$dir/in")
    def stream() = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(s"$dir/in")
    val q1 = Streams.spanDedupIngest(stream(), s"$dir/index", s"$dir/out",
      s"$dir/ckpt")
    q1.stop()
    val before = spark.read.parquet(s"$dir/out")
      .select("doc_id", "n_spans", "n_dup")
      .as[(Long, Long, Long)].collect().toSet
    assert(before.nonEmpty)
    assert(before.exists { case (_, s, d) => d < s },
      "degenerate setup: every doc already fully duplicated")
    // the append DID land (this is the post-append crash window)
    val vdir = graft.operators.Versioned.resolve(spark, s"$dir/index").get
    assert(graft.operators.Versioned.listDeltas(spark, vdir).nonEmpty)
    dropNewestCommit(s"$dir/ckpt")
    val q2 = Streams.spanDedupIngest(stream(), s"$dir/index", s"$dir/out",
      s"$dir/ckpt")
    q2.stop()
    val after = spark.read.parquet(s"$dir/out")
      .select("doc_id", "n_spans", "n_dup")
      .as[(Long, Long, Long)].collect().toSet
    assert(after == before,
      "post-append replay changed the verdicts (self-match through the index?)")
    // and the replayed append committed nothing new
    assert(graft.operators.Versioned.listDeltas(spark, vdir).size == 1)
  }

  test("recreated checkpoint (batch ids reset to 0) never aliases the old incarnation's tags") {
    // deleting and recreating a checkpoint is routine reprocessing:
    // the new incarnation's batch 0 must NOT exclude the OLD
    // incarnation's batch-0 delta (tags fold in the checkpoint's own
    // query id, which regenerates on recreation) — under a
    // path-derived tag the re-processed docs would dodge the seen set
    // and re-emit, violating value-level exactly-once
    val dir = java.nio.file.Files.createTempDirectory("graft_tag_alias").toString
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    docs.coalesce(1).write.parquet(s"$dir/in")
    Dedup.writeHashIndex(Seq.empty[Array[Byte]].toDF("h"), s"$dir/exact")
    Dedup.writeHashIndex(Seq.empty[Long].toDF("h"), s"$dir/span")
    def stream() = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(s"$dir/in")
    val q1 = Streams.curateIngest(stream(), s"$dir/exact", s"$dir/span",
      s"$dir/out", s"$dir/stats", s"$dir/ckpt")
    q1.stop()
    val kept0 = spark.read.parquet(s"$dir/out").count()
    assert(kept0 > 0)
    // recreate: delete the checkpoint, keep indexes and output
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(s"$dir/ckpt"))
    val q2 = Streams.curateIngest(stream(), s"$dir/exact", s"$dir/span",
      s"$dir/out", s"$dir/stats", s"$dir/ckpt")
    q2.stop()
    // the reprocessing batch (a NEW incarnation's batch 0) saw every
    // hash in the index — it must keep nothing and grow nothing
    assert(spark.read.parquet(s"$dir/out").count() == kept0,
      "reprocessed docs re-emitted: the new incarnation excluded the old tags")
    Seq("exact", "span").foreach { ix =>
      val vd = graft.operators.Versioned.resolve(spark, s"$dir/$ix").get
      assert(graft.operators.Versioned.listDeltas(spark, vd).size <= 1,
        s"$ix index grew on reprocessing")
    }
  }

  test("curateIngest: replay AFTER both appends recomputes kept set and stats identically") {
    val dir = java.nio.file.Files.createTempDirectory("graft_curate_rs").toString
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    docs.coalesce(1).write.parquet(s"$dir/in")
    Dedup.writeHashIndex(Seq.empty[Array[Byte]].toDF("h"), s"$dir/exact")
    Dedup.writeHashIndex(Seq.empty[Long].toDF("h"), s"$dir/span")
    def stream() = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(s"$dir/in")
    val q1 = Streams.curateIngest(stream(), s"$dir/exact", s"$dir/span",
      s"$dir/out", s"$dir/stats", s"$dir/ckpt")
    q1.stop()
    def outSet() = spark.read.parquet(s"$dir/out")
      .select("doc_id", "dup_frac").as[(Long, Double)].collect().toSet
    def statsRows() = spark.read.parquet(s"$dir/stats")
      .select("batch_id", "scored", "filtered", "kept", "trimmed")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val (o1, s1) = (outSet(), statsRows())
    assert(o1.nonEmpty && s1.head._4 > 0)
    dropNewestCommit(s"$dir/ckpt")
    val q2 = Streams.curateIngest(stream(), s"$dir/exact", s"$dir/span",
      s"$dir/out", s"$dir/stats", s"$dir/ckpt")
    q2.stop()
    assert(outSet() == o1, "replay changed the kept set")
    assert(statsRows() == s1,
      "replay zeroed the stats while the output partition kept its rows")
    // replayed appends commit nothing new on either index
    Seq("exact", "span").foreach { ix =>
      val vd = graft.operators.Versioned.resolve(spark, s"$dir/$ix").get
      assert(graft.operators.Versioned.listDeltas(spark, vd).size <= 1,
        s"$ix index grew on replay")
    }
  }

  test("graph/linkage/simjoin ingest: a lost sink partition heals from the batch's own delta") {
    // the crash window between a face's delta commit and its sink
    // write: on replay the append commits nothing (its ids are already
    // indexed), so the face must re-locate the delta carrying the
    // batch's tag and re-emit the partition from it
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val customers = graft.Tables.customer(spark, sf)
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    val blocks = Seq("c_nationkey", "c_mktsegment")
    // (face, base rows → index, batch rows, run the face over a stream)
    val faces: Seq[(String, String => Unit, DataFrame,
        (DataFrame, String, String, String) => StreamingQuery)] = Seq(
      ("graphIngest",
        ix => { GraphIndex.writeIndex(docs.filter(col("doc_id") < 200),
          "doc_id", "text", ix); () },
        docs.filter(col("doc_id") >= 200),
        (s, ix, out, ck) => Streams.graphIngest(s, ix, out, ck)),
      ("linkageIngest",
        ix => { LinkageIndex.writeIndex(customers.filter(col("c_custkey") % 3 === 0),
          "c_custkey", "c_name", blocks, ix); () },
        customers.filter(col("c_custkey") % 3 =!= 0),
        (s, ix, out, ck) => Streams.linkageIngest(s, ix, out, ck,
          idCol = "c_custkey", nameCol = "c_name", blockCols = blocks)),
      ("simjoinIngest",
        ix => { SimJoinIndex.writeIndex(docs.filter(col("doc_id") % 3 === 0),
          "doc_id", "text", ix); () },
        docs.filter(col("doc_id") % 3 =!= 0),
        (s, ix, out, ck) => Streams.simjoinIngest(s, ix, out, ck)))
    faces.foreach { case (face, build, batch, run) =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft_heal_$face").toString
      val (ix, out, ckpt) = (s"$dir/index", s"$dir/out", s"$dir/ckpt")
      build(ix)
      batch.coalesce(1).write.parquet(s"$dir/in")
      def stream() = spark.readStream.schema(batch.schema).parquet(s"$dir/in")
      def rows() = spark.read.parquet(s"$out/batch_id=0").collect().toSet
      def deltas() = graft.operators.Versioned.listDeltas(spark,
        graft.operators.Versioned.resolve(spark, ix).get)
      run(stream(), ix, out, ckpt).stop()
      val before = rows()
      assert(before.nonEmpty, s"$face: degenerate setup, batch 0 emitted nothing")
      val committed = deltas()
      assert(committed.size == 1, s"$face: expected one delta, got $committed")
      // lose the sink partition and the checkpoint commit: the delta
      // is committed, the output is not
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(s"$out/batch_id=0"))
      dropNewestCommit(ckpt)
      run(stream(), ix, out, ckpt).stop()
      assert(rows() == before, s"$face: the healed partition differs from the original")
      assert(deltas() == committed, s"$face: the replay committed a second delta")
    }
  }
}
