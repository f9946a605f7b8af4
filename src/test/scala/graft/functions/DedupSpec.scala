package graft.functions

import graft.SparkTestSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 1
    (3L, "completely different content about distributed analytics engines at scale"),
    (4L, "the quick brown fox jumps over the lazy dog again and again today") // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val res = Dedup.exact(docs, "text", "doc_id")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(res == Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
  }

  test("shingles: k consecutive tokens, short docs fall back to whole text") {
    val sh = Seq((1L, "a b c d"), (2L, "a b")).toDF("id", "text")
      .select(col("id"), Dedup.shingles(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(1L).sorted == Seq("a b c", "b c d"))
    assert(sh(2L) == Seq("a b"))
  }

  test("shingleHashes matches shingle count and is duplicate-preserving") {
    val n = Dedup.shingleHashes(Seq((1L, "a b c d e")).toDF("id", "text"), "id", "text")
      .count()
    assert(n == 3) // "a b c", "b c d", "c d e"
    val short = Dedup.shingleHashes(Seq((1L, "a b")).toDF("id", "text"), "id", "text")
    assert(short.count() == 1)
  }

  test("minhash signature of identical docs is identical; est_jaccard = 1") {
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(cands((1L, 4L)) == 1.0)
    assert(cands.contains((1L, 2L))) // near-dup must be a candidate
    assert(cands((1L, 2L)) > 0.3 && cands((1L, 2L)) < 1.0)
    assert(!cands.contains((1L, 3L)) || cands((1L, 3L)) < 0.3)
  }

  test("ngram jaccard: exact dup = 1.0, near-dup in (0,1), computed exactly") {
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text")
    val j = Dedup.ngramJaccard(docs, cands, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, v) => (a, b) -> v }.toMap
    assert(j((1L, 4L)) == 1.0)
    // docs 1,2 share 10 of their 11 shingle positions → |∩|=10, |∪|=12
    assert(math.abs(j((1L, 2L)) - 10.0 / 12.0) < 1e-9)
  }

  test("ngram containment: subset doc scores 1.0 toward its superset") {
    // doc 6 is a strict prefix of doc 5 → every shingle of 6 is in 5:
    // cont(6→5) = 1.0 while Jaccard is only |6|/|5| — the relation
    // Jaccard under-scores and containment is built to catch.
    val d = Seq(
      (5L, "alpha beta gamma delta epsilon zeta eta theta"),
      (6L, "alpha beta gamma delta epsilon")
    ).toDF("doc_id", "text")
    val cands = Seq((5L, 6L)).toDF("id_a", "id_b")
    val r = Dedup.ngramContainment(d, cands, "doc_id", "text")
      .as[(Long, Long, Double, Double)].collect().head
    // A=doc5 (6 shingles), B=doc6 (3 shingles), all of B's in A
    assert(r == ((5L, 6L, 3.0 / 6.0, 1.0)))
  }

  test("spanRows/spanRowsMd5: one row per k-window; short docs yield none") {
    val d = Seq((1L, "a b c d e"), (2L, "a b")).toDF("id", "text")
    val rows = Dedup.spanRows(d, "id", "text", 4)
      .as[(Long, Long)].collect()
    assert(rows.count(_._1 == 1L) == 2) // "a b c d", "b c d e"
    assert(!rows.exists(_._1 == 2L))
    // md5 form agrees on row shape AND on the documented identity:
    // binary md5 of the space-joined span
    val md5Rows = Dedup.spanRowsMd5(d, "id", "text", 4)
      .select(col("id"), org.apache.spark.sql.functions.lower(
        org.apache.spark.sql.functions.hex(col("h"))).as("hx"))
      .as[(Long, String)].collect()
    assert(md5Rows.count(_._1 == 1L) == 2 && md5Rows.forall(_._2.length == 32))
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("a b c d".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(md5Rows.map(_._2).contains(expected))
    // identical windows hash identically across docs
    val shared = Dedup.spanRows(
      Seq((1L, "x y z w"), (2L, "x y z w")).toDF("id", "text"), "id", "text", 4)
      .as[(Long, Long)].collect().toMap
    assert(shared(1L) == shared(2L))
  }

  test("simhash: identical docs get identical hashes; hamming pairs found") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, h) => (a, b) -> h }.toMap
    assert(pairs((1L, 4L)) == 0L)
    assert(pairs.get((1L, 2L)).forall(_ <= 3L))
    assert(!pairs.contains((1L, 3L)))
  }

  test("simhash banding preserves recall guarantee for maxHamming > 3") {
    // docs 1 and 2 differ slightly; whatever their hamming distance,
    // every pair within maxHamming must be found (pigeonhole over
    // maxHamming+1 bands)
    val pairs5 = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 7)
      .as[(Long, Long, Long)].collect().map { case (a, b, h) => (a, b) -> h }.toMap
    val pairs3 = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Long)].collect().map { case (a, b, h) => (a, b) -> h }.toMap
    // supersets: everything found at 3 must be found at 7
    assert(pairs3.keySet.subsetOf(pairs5.keySet))
    assert(pairs5((1L, 4L)) == 0L)
  }

  test("bucket cap drops degenerate buckets") {
    val boiler = (1L to 20L).map(i => (i, "same boilerplate text repeated everywhere ok"))
      .toDF("doc_id", "text")
    val capped = Dedup.minhashCandidates(boiler, "doc_id", "text", maxBucket = 5)
    assert(capped.count() == 0) // every bucket exceeds the cap → dropped
    val uncapped = Dedup.minhashCandidates(boiler, "doc_id", "text", maxBucket = 100)
    assert(uncapped.count() == 20L * 19L / 2)
  }

  test("oversized-bucket drops are observed, not silent") {
    // the no-silent-caps rule as a test: a deliberately undersized cap
    // must SHOW UP as a nonzero dropped-bucket/dropped-id metric of the
    // pair operator that ran the job, so a mis-sized banding is a
    // number on a dashboard instead of quietly missing duplicates
    val boiler = (1L to 25L).map(i =>
      (i, if (i <= 20) "same boilerplate text repeated everywhere ok"
          else s"unique document number $i with its own words entirely"))
      .toDF("doc_id", "text")
    // cap of 5 drops the 20-doc boilerplate bucket in every band but
    // keeps the query non-degenerate (pair (21..25 near-dups absent —
    // the point is the DROP metric, not the pairs)
    val capped = Dedup.minhashCandidates(boiler, "doc_id", "text", maxBucket = 5)
    // collect() (not count()) — metrics live on THIS Dataset's
    // QueryExecution; count() would execute a derived one
    capped.collect()
    val (_, droppedBuckets, droppedIds) = graft.plans.RunPairsMetrics.of(capped).get
    // 16 bands × one all-boilerplate bucket each, 20 ids per bucket
    assert(droppedBuckets == 16L)
    assert(droppedIds == 16L * 20)
    // a well-sized cap reports zero drops on the same data
    val ok = Dedup.minhashCandidates(boiler, "doc_id", "text", maxBucket = 100)
    ok.collect()
    val (_, okBuckets, okIds) = graft.plans.RunPairsMetrics.of(ok).get
    assert(okBuckets == 0L)
    assert(okIds == 0L)
  }

  test("all-buckets-dropped degenerate case is observable with AQE off (Spark quirk)") {
    // when EVERY bucket is dropped AQE propagates the empty relation
    // over the pair operator, so the final adaptive plan no longer
    // carries it and its metrics cannot be read — the stage ran, the
    // plan lost it. Pin the quirk (and that the metrics are correct
    // with AQE off) so a Spark upgrade that keeps the node shows up as
    // this test failing.
    val boiler = (1L to 20L).map(i => (i, "same boilerplate text repeated everywhere ok"))
      .toDF("doc_id", "text")
    val aqeCase = Dedup.minhashCandidates(boiler, "doc_id", "text", maxBucket = 5)
    assert(aqeCase.collect().isEmpty)
    assert(graft.plans.RunPairsMetrics.of(aqeCase).isEmpty,
      "AQE now keeps the pair operator under empty-relation propagation — " +
        "drop the AQE-off workaround in this test and celebrate")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val capped = Dedup.minhashCandidates(boiler, "doc_id", "text", maxBucket = 5)
      assert(capped.collect().isEmpty)
      val (candidateBuckets, droppedBuckets, droppedIds) =
        graft.plans.RunPairsMetrics.of(capped).get
      assert(droppedBuckets == 16L)
      assert(droppedIds == 16L * 20)
      assert(candidateBuckets == 16L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("simhash bucket-cap drops are observed, not silent") {
    // 20 identical boilerplate docs fill one bucket per band (4 bands
    // at maxHamming 3) past the cap of 5; the duplicate pair 21/22
    // shares no band with them and keeps four buckets under the cap,
    // so the run is not all-dropped (AQE would lose the metric)
    val pairText = "an unrelated pair of notes on river barges and canal locks in winter"
    val docsWithPair = ((1L to 20L).map(i => (i, "same boilerplate text repeated everywhere ok")) ++
      Seq((21L, pairText), (22L, pairText))).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docsWithPair, "doc_id", "text", maxBucket = 5)
    // collect() on THIS Dataset — observedMetrics live on its QueryExecution
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((21L, 22L)))
    val m = pairs.queryExecution.observedMetrics("lsh_drops_simhash")
    assert(m.getAs[Long]("dropped_buckets") == 4L)
    assert(m.getAs[Long]("dropped_ids") == 4L * 20)
  }

  test("long-id pair entry points reject other id types before any job") {
    val texts = Seq(("a", "some text here", "smith", 0)).toDF("doc_id", "text", "name", "blk")
    val vecs = Seq(("a", Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("graft_idcheck").toString
    // (function, id column, call)
    val calls: Seq[(String, String, () => Any)] = Seq(
      ("Dedup.minhashCandidates", "doc_id", () => Dedup.minhashCandidates(texts, "doc_id", "text")),
      ("Dedup.lshBandSweep", "doc_id", () => Dedup.lshBandSweep(texts, "doc_id", "text")),
      ("Dedup.sharedShingleEdges", "doc_id", () => Dedup.sharedShingleEdges(texts, "doc_id", "text")),
      ("Dedup.simhashPairs", "doc_id", () => Dedup.simhashPairs(texts, "doc_id", "text")),
      ("Similarity.embeddingNearDups", "vec_id", () => Similarity.embeddingNearDups(vecs, 0.9)),
      ("Similarity.bruteForceTopK", "vec_id", () => Similarity.bruteForceTopK(vecs, vecs, 1)),
      ("EditDistanceJoin.selfJoin", "doc_id", () =>
        graft.operators.EditDistanceJoin.selfJoin(texts, "doc_id", "name", Seq("blk"))),
      ("LinkageIndex.writeIndex", "doc_id", () =>
        LinkageIndex.writeIndex(texts, "doc_id", "name", Seq("blk"), root)),
      ("LinkageIndex.appendIndex", "doc_id", () =>
        LinkageIndex.appendIndex(texts, "doc_id", "name", Seq("blk"), root)))
    val sc = spark.sparkContext
    sc.setJobGroup("graft-idcheck", "id type checks")
    try calls.foreach { case (fn, idCol, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(s"$fn: id column '$idCol' must be bigint, got string"),
        e.getMessage)
    } finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup("graft-idcheck").isEmpty)
  }

  test("compactHashIndex folds committed deltas, carries replay-live tagged ones") {
    val root = java.nio.file.Files.createTempDirectory("graft_hidx").toString
    def h(xs: Long*) = xs.toDF("h")
    val vdir = Dedup.writeHashIndex(h(1, 2, 3), root)
    Dedup.appendHashIndex(spark, root, vdir, h(4), tag = Some("q1_b0"))
    Dedup.appendHashIndex(spark, root, vdir, h(5), tag = Some("q1_b1"))
    Dedup.appendHashIndex(spark, root, vdir, h(6), tag = Some("q2_b0"))
    Dedup.appendHashIndex(spark, root, vdir, h(7)) // untagged batch append
    assert(graft.operators.Versioned.listDeltas(spark, vdir).size == 4)
    val nv = Dedup.compactHashIndex(spark, root)
    def hashes(excl: Option[String] = None) =
      Dedup.readHashIndex(spark, nv, excl).as[Long].collect().toSet
    // membership preserved exactly
    assert(hashes() == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    // only the replay-LIVE deltas remain: q1's batch 1 (its batch 0 is
    // provably committed) and q2's batch 0; the untagged delta folded
    val ds = graft.operators.Versioned.listDeltas(spark, nv)
    assert(ds.size == 2, s"deltas after compaction: $ds")
    // replay exclusion still works for the live batches...
    assert(hashes(Some("q1_b1")) == Set(1L, 2L, 3L, 4L, 6L, 7L))
    assert(hashes(Some("q2_b0")) == Set(1L, 2L, 3L, 4L, 5L, 7L))
    // ...and the folded batch's tag is gone — its hashes are base now
    // (that batch can never replay: a later q1 batch exists)
    assert(hashes(Some("q1_b0")) == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    // appends keep working on the compacted version
    Dedup.appendHashIndex(spark, root, nv, h(8), tag = Some("q1_b2"))
    assert(Dedup.readHashIndex(spark, nv).as[Long].collect().toSet.size == 8)
  }

  test("maximalSpanBlocks: holder-set changes split blocks; extents are maximal") {
    // k=4. "a b c d" is held by all three docs; "b c d e"/"c d e f"
    // only by docs 1-2 — so the 6-token shared block in docs 1-2
    // SPLITS where the sharing set changes, and doc 3 gets the 4-token
    // block alone.
    val d = Seq(
      (1L, "a b c d e f x1 y1 z1 w1"),
      (2L, "q2 a b c d e f y2 z2 w2"),
      (3L, "a b c d r3 s3 t3 u3")
    ).toDF("doc_id", "text")
    val got = Dedup.maximalSpanBlocks(d, "doc_id", "text", k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = Set(
      (1L, 0, 4L, 3L), (1L, 1, 5L, 2L),
      (2L, 1, 4L, 3L), (2L, 2, 5L, 2L),
      (3L, 0, 4L, 3L))
    assert(got == want, s"missing: ${want -- got}; spurious: ${got -- want}")
  }

  test("maximalSpanBlocks equals a true-holder-set driver recompute at sf0.001") {
    // recompute with ACTUAL holder sets (not signatures) — also
    // validates that the XOR signature introduced no collision splits
    val k = 8
    val docsDf = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val raw = docsDf.select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val spans = raw.flatMap { case (id, text) =>
      val toks = text.split(" ").filter(_.nonEmpty)
      (0 to toks.length - k).map(i => (id, i, toks.slice(i, i + k).mkString(" ")))
    }
    val holders = spans.map { case (id, _, sp) => (sp, id) }.distinct
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = spans
      .filter { case (_, _, sp) => holders(sp).size >= 2 }
      .groupBy(_._1)
      .flatMap { case (id, occ) =>
        val sorted = occ.sortBy(_._2).map { case (_, pos, sp) => (pos, holders(sp)) }
        val blocks = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Long)]
        var start = -1; var prevPos = -2; var prevSet: Set[Long] = Set.empty; var n = 0
        def flush(): Unit = if (n > 0)
          blocks += ((id, start, (n + k - 1).toLong, prevSet.size.toLong))
        sorted.foreach { case (pos, set) =>
          if (pos != prevPos + 1 || set != prevSet) { flush(); start = pos; n = 0 }
          prevPos = pos; prevSet = set; n += 1
        }
        flush()
        blocks
      }.toSet
    val got = Dedup.maximalSpanBlocks(docsDf, "doc_id", "text", k)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want, s"missing: ${(want -- got).take(5)}; spurious: ${(got -- want).take(5)}")
    assert(got.nonEmpty, "sf0.001 must contain maximal duplicated passages")
    assert(got.exists(_._3 > k.toLong),
      "at least one passage must be LONGER than k (the operator's point)")
  }
}
