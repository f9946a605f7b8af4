package graft.functions

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Product-quantization quality gates: codebook shapes, code ranges,
  * the compression claim, and — the quantitative gate for the
  * rows-only q_ann_pq — recall@10 against brute force on the
  * deterministic clustered corpus (see AnnTestData for why recall on
  * uniform-random vectors is meaningless).
  */
class PqSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("codebooks have the requested shape and codes stay in range") {
    val emb = AnnTestData.clustered(spark, n = 400)
    val cbs = Pq.trainCodebooks(emb, "vec_id", "embedding", m = 8, ksub = 16)
    assert(cbs.length == 8)
    assert(cbs.forall(_.length == 16))
    assert(cbs.forall(_.forall(_.length == 8))) // 64 dims / 8 subspaces
    val codes = Pq.encode(emb, "embedding", cbs)
      .select("pq_code").as[Seq[Int]].collect()
    assert(codes.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)))
    // the compression claim: 8 codes of <16 vs 64 doubles
    assert(codes.head.length * 1 < 64 * 8 / 8)
  }

  test("pqTopK recall@10 >= 0.9 vs brute force on a clustered corpus") {
    // q_ann_pq parameters (m=8, ksub=64, rerankFactor=8) —
    // deterministic sample + data → exactly repeatable
    val emb = AnnTestData.clustered(spark)
    val queries = emb.filter($"vec_id" < 20)
    val cbs = Pq.trainCodebooks(emb, "vec_id", "embedding", m = 8, ksub = 64)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, queries, k = 10))
    val approx = pairs(Pq.pqTopK(emb, queries, k = 10, cbs, rerankFactor = 8))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, f"PQ recall@10 degraded: $recall%.3f < 0.9")
  }

  test("PqEncode codes match a driver-side argmax recomputation") {
    val emb = AnnTestData.clustered(spark, n = 200)
    val cbs = Pq.trainCodebooks(emb, "vec_id", "embedding", m = 8, ksub = 16)
    val got = Pq.encode(emb, "embedding", cbs)
      .select($"vec_id", $"embedding", $"pq_code")
      .as[(Long, Seq[Double], Seq[Int])].collect()
    got.foreach { case (id, v, codes) =>
      val sub = v.length / 8
      val want = (0 until 8).map { s =>
        val vs = v.slice(s * sub, (s + 1) * sub)
        val scores = cbs(s).map { c =>
          vs.zip(c).map { case (a, b) => a * b }.sum - c.map(x => x * x).sum / 2.0
        }
        scores.indexOf(scores.max) // first max, like the expression
      }
      assert(codes == want, s"vec $id")
    }
  }

  test("ivfPqTopK recall@10 >= 0.85 with both levels of approximation") {
    val emb = AnnTestData.clustered(spark)
    val queries = emb.filter($"vec_id" < 20)
    val cents = Ivf.trainCentroids(emb, "vec_id", "embedding", k = 16)
    val cbs = Pq.trainCodebooks(emb, "vec_id", "embedding", m = 8, ksub = 64)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, queries, k = 10))
    val approx = pairs(Pq.ivfPqTopK(emb, queries, k = 10, cents, cbs,
      nprobe = 4, rerankFactor = 8))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.85, f"IVF+PQ recall@10 degraded: $recall%.3f < 0.85")
  }

  test("reranked sims are exact and ordered") {
    val emb = AnnTestData.clustered(spark, n = 300)
    val cbs = Pq.trainCodebooks(emb, "vec_id", "embedding", m = 8, ksub = 16)
    val res = Pq.pqTopK(emb, emb.filter($"vec_id" === 0L), k = 5, cbs)
      .as[(Long, Int, Long, Double)].collect()
    assert(res.length == 5)
    val sims = res.sortBy(_._2).map(_._4)
    assert(sims.sorted.reverse.toSeq == sims.toSeq)
    // sims are exact r4-rounded cosines, recomputable driver-side
    val vecs = Similarity.normalized(emb, "embedding")
      .select($"vec_id", $"embedding").as[(Long, Seq[Double])].collect().toMap
    res.foreach { case (q, _, n, sim) =>
      val exact = vecs(q).zip(vecs(n)).map { case (a, b) => a * b }.sum
      val r4 = math.floor(exact * 10000 + 0.5) / 10000
      assert(sim == r4, s"neighbor $n: $sim vs $r4")
    }
  }

  test("index round-trip: codebooks bit-exact, indexed path equals direct") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pq").toString
    val emb = AnnTestData.clustered(spark)
    val queries = emb.filter($"vec_id" < 20)
    val cents = Ivf.trainCentroids(emb, "vec_id", "embedding", k = 16)
    val cbs = Pq.trainCodebooks(emb, "vec_id", "embedding", m = 8, ksub = 64)
    Pq.writeIndex(emb, dir, cents, cbs)
    // codebooks survive the round-trip bit-exactly
    val reloaded = Pq.readCodebooks(spark, dir)
    assert(reloaded.length == cbs.length)
    assert(reloaded.map(_.map(_.toSeq).toSeq).toSeq ==
      cbs.map(_.map(_.toSeq).toSeq).toSeq)
    // hot index carries codes only; raw vectors live in the rerank table
    val vdir = graft.operators.Versioned.resolve(spark, dir).get
    val codeCols = spark.read.parquet(s"$vdir/codes").columns.toSet
    assert(codeCols == Set("neighbor_id", "pq_code", "ivf_cell"))
    assert(new java.io.File(s"$vdir/codes").listFiles()
      .exists(_.getName.startsWith("ivf_cell=")))
    // the indexed path returns exactly what train-and-query returns
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id", "sim")
        .as[(Long, Int, Long, Double)].collect().toSet
    val direct = rows(Pq.ivfPqTopK(emb, queries, k = 10, cents, cbs,
      nprobe = 4, rerankFactor = 8))
    val indexed = rows(Pq.ivfPqTopKIndexed(spark, dir, queries, k = 10,
      nprobe = 4, rerankFactor = 8))
    assert(indexed == direct)
  }

  test("appendToIndex lands codes+vectors as one delta; replay no-ops; compaction folds") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_app").toString
    val emb = AnnTestData.clustered(spark)
    val base = emb.filter($"vec_id" < 1500)
    val batch = emb.filter($"vec_id" >= 1500)
    val queries = emb.filter($"vec_id" < 20)
    val cents = Ivf.trainCentroids(base, "vec_id", "embedding", k = 16)
    val cbs = Pq.trainCodebooks(base, "vec_id", "embedding", m = 8, ksub = 64)
    Pq.writeIndex(base, dir, cents, cbs)
    Pq.appendToIndex(batch, dir)
    // one atomically-renamed delta holding BOTH tables (codes without
    // rerank vectors would silently drop shortlist rows at the rerank
    // join — the pair must commit together)
    val vdir = graft.operators.Versioned.resolve(spark, dir).get
    val deltas = graft.operators.Versioned.listDeltas(spark, vdir)
    assert(deltas.size == 1)
    val deltaLocal = new org.apache.hadoop.fs.Path(deltas.head).toUri.getPath
    assert(new java.io.File(s"$deltaLocal/codes").exists())
    assert(new java.io.File(s"$deltaLocal/vectors").exists())
    // appended index ≡ full build with the same centroids/codebooks
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id", "sim")
        .as[(Long, Int, Long, Double)].collect().toSet
    val full = java.nio.file.Files.createTempDirectory("graft_pq_full").toString
    Pq.writeIndex(emb, full, cents, cbs)
    val expected = rows(Pq.ivfPqTopKIndexed(spark, full, queries, k = 10,
      nprobe = 4, rerankFactor = 8))
    assert(rows(Pq.ivfPqTopKIndexed(spark, dir, queries, k = 10,
      nprobe = 4, rerankFactor = 8)) == expected)
    // at-least-once replay: nothing added, no second delta
    Pq.appendToIndex(batch, dir)
    assert(graft.operators.Versioned.listDeltas(spark,
      graft.operators.Versioned.resolve(spark, dir).get).size == 1)
    // compaction: fresh single-base version, answers unchanged
    Pq.compactIndex(spark, dir)
    val cdir = graft.operators.Versioned.resolve(spark, dir).get
    assert(graft.operators.Versioned.listDeltas(spark, cdir).isEmpty)
    assert(spark.read.parquet(s"$cdir/codes").count() == 2000)
    assert(rows(Pq.ivfPqTopKIndexed(spark, dir, queries, k = 10,
      nprobe = 4, rerankFactor = 8)) == expected)
  }

  test("compactIndex keeps a delta committed while it waited for the writer lock") {
    import graft.operators.Versioned
    import java.nio.file.{Files, Path}
    import java.util.concurrent.CountDownLatch
    def copyTree(from: Path, to: Path): Unit = {
      val walk = Files.walk(from)
      try walk.forEach { p =>
        val t = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
      } finally walk.close()
    }
    def local(p: String): Path = java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(p).toUri.getPath)
    val emb = AnnTestData.clustered(spark, n = 120)
    val base = emb.filter($"vec_id" < 100)
    val cents = Ivf.trainCentroids(base, "vec_id", "embedding", k = 4)
    val cbs = Pq.trainCodebooks(base, "vec_id", "embedding", m = 8, ksub = 8)
    val dir = Files.createTempDirectory("graft_pq_race")
    Pq.writeIndex(base, dir.toString, cents, cbs)
    // the batch's delta, prepared by appendToIndex on a copy of the index
    val copy = Files.createTempDirectory("graft_pq_race_copy")
    copyTree(dir, copy)
    Pq.appendToIndex(emb.filter($"vec_id" >= 100), copy.toString)
    val prepared = local(Versioned.listDeltas(spark,
      Versioned.resolve(spark, copy.toString).get).head)
    // A holds the writer lock inside commitDelta until released; B
    // compacts meanwhile and must wait for the lock
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    @volatile var failure: Option[Throwable] = None
    def thread(body: => Unit): Thread = new Thread(() =>
      try body catch { case t: Throwable => failure = Some(t) })
    val appender = thread {
      Versioned.commitDelta(spark, dir.toString,
        Versioned.resolve(spark, dir.toString).get) { d =>
        entered.countDown()
        release.await()
        copyTree(prepared, local(d))
      }
    }
    appender.start()
    entered.await()
    val compactor = thread(Pq.compactIndex(spark, dir.toString))
    compactor.start()
    def waitsForLock: Boolean = compactor.getState == Thread.State.BLOCKED &&
      compactor.getStackTrace.exists(f =>
        f.getClassName == "graft.operators.Versioned$" && f.getMethodName == "commitNew")
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (!waitsForLock && compactor.isAlive && System.nanoTime() < deadline)
      Thread.sleep(10)
    val blocked = waitsForLock
    release.countDown()
    appender.join()
    compactor.join()
    failure.foreach(throw _)
    assert(blocked, "compactIndex never waited on the writer lock")
    val cdir = Versioned.resolve(spark, dir.toString).get
    assert(Versioned.listDeltas(spark, cdir).isEmpty)
    assert(spark.read.parquet(s"$cdir/codes").select("neighbor_id").as[Long]
      .collect().toSet == (0L until 120L).toSet)
    assert(spark.read.parquet(s"$cdir/vectors").count() == 120)
  }

  test("a second writeIndex commits a new version; readers never see a partial") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_v").toString
    val emb = AnnTestData.clustered(spark, n = 300)
    val cents = Ivf.trainCentroids(emb, "vec_id", "embedding", k = 8)
    val cbs = Pq.trainCodebooks(emb, "vec_id", "embedding", m = 8, ksub = 16)
    Pq.writeIndex(emb, dir, cents, cbs)
    val v1 = graft.operators.Versioned.resolve(spark, dir).get
    Pq.writeIndex(emb, dir, cents, cbs)
    val v2 = graft.operators.Versioned.resolve(spark, dir).get
    assert(v1 != v2 && v2.endsWith("_v=2"))
    // an uncommitted orphan (crash before _COMMITTED) is never resolved
    val orphan = new java.io.File(s"$dir/_v=9"); orphan.mkdirs()
    assert(graft.operators.Versioned.resolve(spark, dir).get == v2)
  }
}
