package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Scale design (SURVEY.md §5): the query set is broadcast; cosine
  * scores are computed partition-local with `zip_with`/`aggregate`
  * (sequential fold → deterministic, codegen'd, no UDF); top-k uses
  * a two-phase partial-then-final aggregation so only k×queries rows
  * per partition ever shuffle. The LSH variant buckets vectors by
  * random-hyperplane sign bits to shrink the candidate set ~2^p-fold
  * before exact scoring.
  */
object Similarity {

  /** Dot product of two double arrays — codegen'd sequential loop
    * ([[graft.plans.ArrayDot]]); bit-identical to the left-to-right
    * fold DuckDB's list_dot_product performs.
    */
  def dot(a: Column, b: Column): Column = graft.plans.ArrayDot.array_dot(a, b)

  /** Cosine similarity; computed in double regardless of input float. */
  def cosine(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast("double"))
    val bd = transform(b, x => x.cast("double"))
    dot(ad, bd) / (sqrt(dot(ad, ad)) * sqrt(dot(bd, bd)))
  }

  /** Round-robin repartition to full parallelism: per-vector work
    * (normalization, signatures) must not be serialized by a
    * single-row-group source file.
    */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Replaces `vecCol` with its unit-normalized double form, so
    * downstream pairwise cosine is a single dot product — norms are
    * computed once per vector instead of twice per candidate pair.
    *
    * Zero-norm (all-zero) vectors have no direction, so they are
    * nulled out rather than divided to NaN — their sims become null
    * and drop out of top-k / threshold comparisons explicitly instead
    * of as silent NaN propagation.
    */
  private[functions] def normalized(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn(vecCol, graft.plans.ArrayUnit.array_unit(col(vecCol)))

  /** Brute-force top-k cosine neighbors for each query vector, a
    * vector never being its own neighbor (query_id ≠ neighbor_id).
    *
    * The bounded query set is collected once and compiled into the
    * codegen [[graft.plans.CosineSims]] kernel, which scores one
    * corpus vector against every query in a tight loop (left-to-right
    * ArrayDot fold, r4-rounded sims, null sims for zero-norm
    * vectors). Phase 1 keeps only the local top-k per (query,
    * input-partition); phase 2 merges the partials. Shuffle volume:
    * k × queries × partitions rows, independent of corpus size.
    * `idCol` must be long on both sides.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    Dedup.requireLongIds("Similarity.bruteForceTopK", corpus, idCol)
    Dedup.requireLongIds("Similarity.bruteForceTopK", queries, idCol)
    // Round 19: the kernel replaced a BroadcastNestedLoopJoin on
    // query_id ≠ neighbor_id, which paid the join-row machinery per
    // PAIR before the one 64-dim dot product that matters (~21 CPU-s
    // for 437 k pairs at sf0.1). ScoreKernelsSpec pins the results
    // bit-for-bit against that join form.
    val rows = normalized(queries, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .collect() // bounded query set
      .filterNot(_.isNullAt(0)) // a null query id pairs with nothing (null ≠ x is null)
      .sortBy(_.getLong(0))
    val qs = new graft.plans.ScoreKernels.CosineQuerySet(
      rows.map(_.getLong(0)),
      rows.map(r => if (r.isNullAt(1)) null
        else r.getSeq[Double](1).toArray))
    val scored = normalized(spread(corpus), vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
      .select(col("neighbor_id"), explode(graft.plans.ScoreKernelCols
        .cosineSims(struct(col("neighbor_id"), col("cvec")), qs)).as("qsc"))
      .select(col("qsc.query_id").as("query_id"), col("neighbor_id"),
        col("qsc.sim").as("sim"))
    topKPerKey(scored, "query_id", k)
  }

  /** Two-phase distributed top-k by (sim DESC, neighbor_id ASC),
    * via the native bounded-heap operator
    * ([[graft.plans.TopKPerKey]]): partial heaps before the shuffle,
    * ≤k rows per key per map partition shuffled, no group arrays.
    * The rank window after it touches ≤k rows per key and reuses the
    * operator's hash(key) output partitioning.
    */
  private[functions] def topKPerKey(scored: DataFrame, keyCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = graft.plans.TopKPerKey.topK(scored, Seq(keyCol),
      Seq("sim" -> true, "neighbor_id" -> false), k)
    val w = Window.partitionBy(keyCol).orderBy(col("sim").desc, col("neighbor_id"))
    top.withColumn("rank", row_number().over(w))
      .select(col(keyCol), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** p-bit random-hyperplane signature. Hyperplane p's component j is
    * a deterministic pseudo-random value in [-0.5, 0.5) derived from
    * xxhash64(p, j) — reproducible with zero stored state. Computed by
    * the codegen'd [[graft.plans.HyperplaneSig]] loop (the HOF
    * `aggregate(zip_with(...))` form is interpreted per element per
    * plane — see SimilaritySpec for the bit-identical equivalence
    * check). Null vectors (zero-norm embeddings) signature to 0L,
    * matching the HOF form's `when(null > 0)` collapse.
    */
  def lshSignature(vecCol: Column, planes: Int = 16): Column =
    coalesce(graft.plans.HyperplaneSig.hyperplane_sig(vecCol, planes), lit(0L))

  /** ANN via hyperplane LSH: candidates share ≥1 of the two 8-bit
    * signature halves with the query (pigeonhole for small angular
    * distance), then exact cosine rerank keeps the top-k.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, planes: Int = 16,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val half = planes / 2
    def banded(raw: DataFrame, id: String, vec: String) = {
      val df = normalized(raw, vecCol)
      df.select(col(idCol).as(id), col(vecCol).as(vec),
          lshSignature(col(vecCol), planes).as("sig"))
        .select(col(id), col(vec),
          posexplode(array(
            col("sig").bitwiseAND(lit((1L << half) - 1)),
            shiftright(col("sig"), half))))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    }
    val c = banded(spread(corpus), "neighbor_id", "cvec")
    val q = broadcast(banded(queries, "query_id", "qvec"))
    val cands = c.join(q, Seq("band", "bkey"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("qvec"), col("cvec"))
      .dropDuplicates("query_id", "neighbor_id")
    val scored = cands.select(col("query_id"), col("neighbor_id"),
      graft.functions.EngineNeutral.r4(dot(col("qvec"), col("cvec"))).as("sim"))
    topKPerKey(scored, "query_id", k)
  }

  /** Driver-side twin of [[EngineNeutral.md5Long60]]: the identical
    * 60-bit value, for generating LITERAL weight tables whose values
    * any md5-capable engine reproduces.
    */
  private[functions] def md5Long60Local(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.parseLong(
      d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
  }

  /** Portable hyperplane matrix: plane p's component j is
    * (md5Long60("p:j") mod 100000)/100000 − 0.5 — the same
    * pseudo-random [-0.5, 0.5) family the xxhash64 face draws from,
    * but from a hash both engines share.
    */
  private[functions] def portablePlaneWeights(planes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(planes, dim)((p, j) =>
      (md5Long60Local(s"$p:$j") % 100000L) / 100000.0 - 0.5)

  /** [[lshTopK]] with ENGINE-PORTABLE signatures (round 18): the
    * hyperplane components come from md5 rather than xxhash64, so the
    * candidate set — and with r4-rounded rerank sims, the entire
    * result — is reproducible by the DuckDB oracle (the
    * q_dedup_embedding precedent, extended from axis-aligned sign
    * bits to true random hyperplanes). The weight matrix is computed
    * ONCE on the driver (planes×dim md5s ≈ 512 hashes total) and
    * shipped as literal arrays, which also deletes the per-row hash
    * chain [[graft.plans.HyperplaneSig]] pays (planes×dim xxhash64
    * calls PER ROW) — each plane's signature bit is one codegen'd
    * [[graft.plans.ArrayDot]] against a constant vector. Sign parity
    * holds because both engines evaluate the identical double
    * pipeline: x/‖x‖ per element (ArrayUnit ≡ [x/nrm FOR x IN e]),
    * then a left-to-right multiply-accumulate (ArrayDot ≡
    * list_dot_product) against identical weights — a flipped bit
    * would need a dot within one ulp of 0.
    */
  def lshTopKPortable(corpus: DataFrame, queries: DataFrame, k: Int,
                      planes: Int = 8,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(planes > 0 && planes % 2 == 0 && planes <= 62,
      s"planes=$planes must be even and in 2..62")
    val dim = corpus.select(size(col(vecCol))).head.getInt(0)
    val w = portablePlaneWeights(planes, dim)
    val half = planes / 2
    def sig(vec: Column): Column =
      (0 until planes).map { p =>
        when(dot(vec, typedlit(w(p).toSeq)) > 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ bitwiseOR _)
    def banded(raw: DataFrame, id: String, vec: String) = {
      // zero-norm vectors have no direction and no signature — drop
      // them explicitly (the oracle's WHERE nrm <> 0), rather than
      // null-collapsing into bucket 0 to surface as null sims
      val df = normalized(raw, vecCol).filter(col(vecCol).isNotNull)
      df.select(col(idCol).as(id), col(vecCol).as(vec), sig(col(vecCol)).as("sig"))
        .select(col(id), col(vec),
          posexplode(array(
            col("sig").bitwiseAND(lit((1L << half) - 1)),
            shiftright(col("sig"), half))))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    }
    val c = banded(spread(corpus), "neighbor_id", "cvec")
    val q = broadcast(banded(queries, "query_id", "qvec"))
    val cands = c.join(q, Seq("band", "bkey"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("qvec"), col("cvec"))
      .dropDuplicates("query_id", "neighbor_id")
    val scored = cands.select(col("query_id"), col("neighbor_id"),
      graft.functions.EngineNeutral.r4(dot(col("qvec"), col("cvec"))).as("sim"))
    topKPerKey(scored, "query_id", k)
  }

  /** Embedding near-duplicate pairs: LSH-bucketed self-join, exact
    * cosine ≥ minSim verify. Same banding trick as [[lshTopK]].
    *
    * Size `planes` to the corpus: each of the two bands has
    * 2^(planes/2) buckets, and in-bucket pair generation is quadratic
    * in bucket size — pick planes ≈ 2·log2(n / targetBucketSize)
    * (e.g. n=20k, target ~100 → planes 16). For high thresholds the
    * recall cost of more planes is tiny (bit-agreement probability is
    * 1 − θ/π per plane).
    *
    * Pairs come id-only from [[graft.plans.SortedRunPairs]], whose SQL
    * metrics count the buckets dropped by `maxBucket`. `idCol` must be
    * long.
    */
  def embeddingNearDups(corpus: DataFrame, minSim: Double, planes: Int = 16,
                        maxBucket: Int = 10000,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    Dedup.requireLongIds("Similarity.embeddingNearDups", corpus, idCol)
    val half = planes / 2
    val vecs = normalized(spread(corpus), vecCol)
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
    val banded = vecs
      .select(col("id"), lshSignature(col("vec"), planes).as("sig"))
      .select(col("id"),
        posexplode(array(
          col("sig").bitwiseAND(lit((1L << half) - 1)),
          shiftright(col("sig"), half))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    // id-only pairs inside capped buckets (the operator's required
    // distribution places the one exchange), then codegen'd joins
    // pull the (wide) vectors back in for the exact-cosine verify
    graft.plans.SortedRunPairs.pairs(banded, maxBucket)
      .dropDuplicates("id_a", "id_b")
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        graft.functions.EngineNeutral.r4(dot(col("vec_a"), col("vec_b"))).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** Smallest band width h (≥ 2) whose bucket count 2^h brings the
    * mean bucket below `targetBucket`: min h with 2^h·targetBucket ≥ n,
    * capped at `maxHalf` (each of the two bands consumes `half`
    * leading vector coordinates, so 2·maxHalf must stay ≤ dim).
    * Integer-only on purpose — an external SQL oracle reproduces it
    * exactly (`min h from range where (1<<h)*target >= n`), with no
    * float log2/ceil rounding to disagree about.
    *
    * This is the planes ≈ 2·log2(n/targetBucket) sizing formula made
    * self-applying: in-bucket pair generation is quadratic in bucket
    * size, so a FIXED planes value turns linear corpus growth into
    * quadratic candidate growth (measured at the 10× checkpoint:
    * 65× shuffle on 10× rows with planes=8) — the bucket count has
    * to grow with n to hold mean bucket size, and so candidate
    * volume, proportional to n.
    */
  def adaptiveHalf(n: Long, targetBucket: Int = 125, maxHalf: Int = 16): Int =
    (2 to maxHalf).find(h => (1L << h) * targetBucket >= n).getOrElse(maxHalf)

  /** [[embeddingNearDupsAxis]] with the band width sized from the
    * corpus via [[adaptiveHalf]] — the form the gated query uses.
    * Costs one count() job up front (index-build shape); vectors with
    * zero norm are excluded from the count exactly as the blocking
    * excludes them.
    */
  def embeddingNearDupsAxisAuto(corpus: DataFrame, minSim: Double,
                                targetBucket: Int = 125, maxBucket: Int = 10000,
                                idCol: String = "vec_id",
                                vecCol: String = "embedding"): DataFrame = {
    val n = normalized(corpus, vecCol).filter(col(vecCol).isNotNull).count()
    val half = adaptiveHalf(n, targetBucket)
    embeddingNearDupsAxis(corpus, minSim, planes = 2 * half, maxBucket, idCol, vecCol)
  }

  /** [[embeddingNearDups]] with deterministic axis-aligned blocking:
    * bit i of the signature is the sign of coordinate i (a legitimate
    * hyperplane family — the coordinate axes), split into two bands.
    *
    * Unlike random hyperplanes, the buckets are reproducible in plain
    * SQL — signs survive normalization untouched, so bucket membership
    * involves NO floating-point arithmetic and an external oracle
    * computes identical buckets. The gated q_dedup_embedding uses this
    * form so it can hash-match a DuckDB oracle; random planes (better
    * bucket spread on sign-skewed corpora) remain available above.
    * Same scale shape: capped in-bucket id-only pairs, exact-cosine
    * verify on r4-rounded sims. Size `planes` with [[adaptiveHalf]]
    * (or call [[embeddingNearDupsAxisAuto]]) — a fixed value goes
    * quadratic as the corpus outgrows it.
    */
  def embeddingNearDupsAxis(corpus: DataFrame, minSim: Double, planes: Int = 8,
                            maxBucket: Int = 10000, idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val half = planes / 2
    // round 19: the r18 persist existed for THREE consumers (banding +
    // both pair-attach join sides); with sims computed in-bucket the
    // normalize→select subtree has exactly ONE consumer and the
    // materialization pass was pure overhead — inline it so the scan,
    // normalize and banding fuse into one codegen stage.
    val vecs = normalized(spread(corpus), vecCol)
      .filter(col(vecCol).isNotNull) // zero-norm vectors have no direction
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
    def bandKey(from: Int, until: Int): Column =
      (from until until).map { i =>
        when(element_at(col("vec"), i + 1) >= 0.0, lit(1L << (i - from)))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    val banded = vecs
      .select(col("id"), col("vec"),
        posexplode(array(bandKey(0, half), bandKey(half, planes))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    // round 19: sims computed IN the buckets by the VecPairSims kernel
    // (the SimhashBucketPairs precedent) instead of id-only pairs +
    // two merge joins re-attaching the 520 B vectors per candidate
    // pair (31.4 MB pair-attach shuffle, AQE-coalesced 2-task join
    // stages at sf0.1). The bucket pipeline is collect_list with the
    // observed maxBucket cap (the three no-silent-caps counters), then
    // a round-robin spread before the quadratic explode (bucket rows
    // carry the vectors, ~targetBucket×528 B each — still KBs; AQE
    // would coalesce them onto few tasks otherwise), and the kernel
    // emits pairs in the same id_b > id_a value order with
    // sim = ArrayDot(vec_a, vec_b)'s exact fold. A pair found by both
    // bands carries the identical sim, so the cross-band
    // dropDuplicates keeps the same one row the id-pair dedup kept,
    // and filter-after-dedup ≡ dedup-after-filter on equal sims.
    val buckets = banded
      .groupBy("band", "bkey")
      .agg(collect_list(struct(col("id"), col("vec"))).as("ms"))
      .filter(size(col("ms")) >= 2)
      .observe("lsh_drops_embedding_axis",
        sum(when(size(col("ms")) > maxBucket, 1L).otherwise(0L)).as("dropped_buckets"),
        sum(when(size(col("ms")) > maxBucket, size(col("ms")).cast("long"))
          .otherwise(0L)).as("dropped_ids"),
        count(lit(1)).as("candidate_buckets"))
      .filter(size(col("ms")) <= maxBucket)
    buckets
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .select(explode(graft.plans.ArrayPairsCols.vecPairSims(col("ms"))).as("pair"))
      .select(col("pair.id_a").as("id_a"), col("pair.id_b").as("id_b"),
        col("pair.sim").as("rawsim"))
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"),
        graft.functions.EngineNeutral.r4(col("rawsim")).as("sim"))
      .filter(col("sim") >= minSim)
  }
}
