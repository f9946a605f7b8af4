package graft.queries

import graft.Tables
import graft.functions.{Dedup, Multimodal, Retrieval, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data operators (SURVEY.md §2 rows 28-39) over the
  * `documents` and `embeddings` tables. Hash/LSH-based operators have
  * no portable SQL form → rows-only driver check + ScalaTest property
  * specs; everything else carries a DuckDB oracle.
  */
object LlmQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Deterministic IVF centroids per sf dir (index built once). */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()

  /** Committed lexical-index version dir per sf dir (built once per
    * session, like the IVF centroids — the production split: pay the
    * corpus aggregation at index-build time, serve every query round
    * from the persisted tf/df/stats tables). Shared with every query
    * whose sparse leg scores the same corpus split (q_bm25_indexed,
    * q_rrf_fusion_indexed) — ONE index, many serving faces.
    */
  private val lexIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[queries] def lexIndexVdir(s: SparkSession, d: String): String =
    lexIndexCache.computeIfAbsent(d, _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_lexindex").toString
      Retrieval.writeLexicalIndex(
        Tables.documents(s, d).filter(col("source") =!= "src0"),
        "doc_id", "text", root)
    })

  /** Build-once minhash signature index over the even-doc corpus —
    * the q_dedup_minhash_inc serve path (the lexIndexVdir convention:
    * deterministic per dir, so iteration 1 of a bench run carries the
    * one-time build, later iterations measure the serve).
    */
  private val minhashIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[queries] def minhashIndexVdir(s: SparkSession, d: String): String =
    minhashIndexCache.computeIfAbsent(d, _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_minhashindex").toString
      graft.functions.MinhashIndex.writeIndex(
        Tables.documents(s, d).filter(col("doc_id") % 2 === 0),
        "doc_id", "text", root)
    })

  /** Build-once simhash index over the even-doc corpus — the
    * q_dedup_simhash_inc serve path (the minhashIndexVdir convention).
    */
  private val simhashIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[queries] def simhashIndexVdir(s: SparkSession, d: String): String =
    simhashIndexCache.computeIfAbsent(d, _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_simhashindex").toString
      graft.functions.SimhashIndex.writeIndex(
        Tables.documents(s, d).filter(col("doc_id") % 2 === 0),
        "doc_id", "text", root)
    })

  /** Deterministic PQ codebooks per sf dir (trained once). */
  private val codebookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Double]]]]()

  val queries: Map[String, Q] = Map(
    // 28. Exact dedup: group on md5(text) — shuffle carries 32-byte
    //     hashes, not document bytes.
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exact(Tables.documents(s, d), "text", "doc_id")
        .select(col("keep_id"), col("n_copies"))
        .orderBy("keep_id")),

    // 28b. Incremental dedup: a new batch (doc_id ≥ 250) dedups
    //      in-batch AND anti-joins the existing corpus's key index
    //      (doc_id < 250) — each ingest round touches only the new
    //      data plus a 16-byte-key hash index, never re-dedups the
    //      whole corpus. Keyed on a normalized 5-token prefix
    //      fingerprint so cross-boundary collisions actually occur.
    "q_dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val key = md5(concat_ws(" ",
        slice(split(lower(col("text")), " "), 1, 5)).cast("binary"))
      Dedup.incremental(
          docs.filter(col("doc_id") >= 250),
          docs.filter(col("doc_id") < 250), key, "doc_id")
        .select(col("text_hash"), col("keep_id"), col("n_copies"))
        .orderBy("keep_id")
    }),

    // 29. MinHash+LSH near-dup candidates. Hash-gated since round 17:
    //     the signatures are portable md5-derived double hashes, so
    //     the DuckDB oracle reproduces the exact candidate set and
    //     est_jaccard values (the q_approx_distinct precedent).
    "q_dedup_minhash" -> ((s, d) =>
      Dedup.minhashCandidates(Tables.documents(s, d), "doc_id", "text")
        .filter(col("est_jaccard") >= 0.5)
        .orderBy("id_a", "id_b")),

    // 29d. MinHash near-dup through the PERSISTED signature index
    //      (round 18): the incremental crawl workflow — even doc_ids
    //      are the indexed corpus (signatures + band buckets persisted
    //      once, functions.MinhashIndex), odd doc_ids the new batch,
    //      probed in O(batch + matched buckets) with the corpus text
    //      never re-scanned. Portable signatures make this the first
    //      INDEXED near-dup face with a full hash gate: the oracle
    //      reproduces every band bucket, candidate pair, and
    //      est_jaccard bit-for-bit.
    "q_dedup_minhash_inc" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.functions.MinhashIndex.candidates(s, minhashIndexVdir(s, d),
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
          minEstJaccard = 0.5)
        .orderBy("id_a", "id_b")
    }),

    // 29c. Near-dup clustering: exact shared-shingle edges →
    //      connected components → one row per cluster with its
    //      canonical keep id. This is the step that turns every
    //      pair-producing dedup operator into corpus reduction; the
    //      shared-shingle edge rule is deterministic (unlike LSH), so
    //      DuckDB reproduces it exactly (recursive-CTE min-label
    //      closure) and this is a full hash-match row.
    "q_dedup_clusters" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val edges = Dedup.sharedShingleEdges(docs, "doc_id", "text",
        shingleK = 3, minShared = 5, minDf = 2, maxDf = 20)
      val comps = graft.operators.ConnectedComponents.labelPropagation(
        docs.select(col("doc_id").as("id")), edges)
      val out = comps.groupBy("comp")
        .agg(count(lit(1)).as("n_docs"), min("id").as("keep_id"))
        .orderBy("comp")
      out
    }),

    // 29e. The COMPLETE LSH dedup pipeline (round 18): minhash
    //      candidates (est ≥ 0.5, the gate q_minhash_calibration
    //      validates) → connected components → one row per cluster
    //      with the canonical keep id. q_dedup_clusters walks exact
    //      shared-shingle edges; this walks the SKETCH's edges — the
    //      version that runs at 100 TB, where exact all-pairs edge
    //      generation is off the table. Portable signatures keep it
    //      fully hash-gated (oracle reproduces the candidate set,
    //      then the same recursive min-label closure).
    "q_minhash_clusters" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val edges = Dedup.minhashCandidates(docs, "doc_id", "text")
        .filter(col("est_jaccard") >= 0.5)
        .select("id_a", "id_b")
      val comps = graft.operators.ConnectedComponents.labelPropagation(
        docs.select(col("doc_id").as("id")), edges)
      comps.groupBy("comp")
        .agg(count(lit(1)).as("n_docs"), min("id").as("keep_id"))
        .orderBy("comp")
    }),

    // 30. SimHash near-dups within hamming distance 3. Hash-gated
    //     since round 17: 60-bit portable md5-derived simhashes, the
    //     oracle reproduces hashes, banding, and popcounts exactly.
    "q_dedup_simhash" -> ((s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text", maxHamming = 3)
        .orderBy("id_a", "id_b")),

    // 30b. SimHash near-dup through the PERSISTED signature index
    //      (round 18, the 15th family): even doc_ids are the indexed
    //      corpus (8-byte simhashes + pigeonhole band buckets
    //      persisted once, functions.SimhashIndex), odd doc_ids the
    //      new batch, probed in O(batch + matched buckets) with the
    //      corpus text never re-scanned. Portable 60-bit simhashes
    //      make it hash-gated: the oracle reproduces every band
    //      bucket, candidate pair, and hamming distance bit-for-bit.
    "q_dedup_simhash_inc" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.functions.SimhashIndex.candidates(s, simhashIndexVdir(s, d),
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
        .orderBy("id_a", "id_b")
    }),

    // 31. Exact n-gram Jaccard verify on candidate pairs. Candidates
    //     come from deterministic shared-shingle blocking (same
    //     machinery and parameters as q_dedup_clusters' edges), so the
    //     whole query is SQL-expressible and hash-oracled; the MinHash
    //     candidate path stays gated via q_dedup_minhash.
    "q_ngram_jaccard" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cands = Dedup.sharedShingleEdges(docs, "doc_id", "text",
        shingleK = 3, minShared = 5, minDf = 2, maxDf = 20)
        .select("id_a", "id_b")
      Dedup.ngramJaccard(docs, cands, "doc_id", "text")
        .filter(col("jaccard") >= 0.5)
        .orderBy("id_a", "id_b")
    }),

    // 32. Embedding-cosine near-dup pairs, axis-aligned sign blocking
    //     (deterministic — hash-oracled; random-hyperplane variant
    //     stays exercised by q_ann_lsh). Band width self-sizes from
    //     the corpus (Similarity.adaptiveHalf — integer logic the
    //     oracle mirrors), holding mean bucket ~125 at any SF so
    //     candidate volume stays linear in rows. The synthetic
    //     embeddings have no true near-dups (max pairwise cosine
    //     ≈ 0.5), so the threshold demonstrates the operator on the
    //     most-similar tail; production callers pass ~0.9.
    "q_dedup_embedding" -> ((s, d) =>
      Similarity.embeddingNearDupsAxisAuto(Tables.embeddings(s, d), minSim = 0.3)
        .orderBy("id_a", "id_b")),

    // 33. Brute-force cosine top-k ANN: query set broadcast,
    //     partition-local partial top-k, tiny final merge.
    "q_ann_bruteforce" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 10)
        .orderBy("query_id", "rank")
    }),

    // 34. LSH-bucketed ANN. HASH-gated since round 18: hyperplane
    //     weights are md5-derived literals (Similarity
    //     .lshTopKPortable), so the DuckDB oracle reproduces every
    //     signature bit, band bucket, candidate pair, and r4 rerank
    //     sim — the last graduation VERDICT r17 #8 asked to evaluate.
    //     The xxhash64 HyperplaneSig face remains for callers that
    //     don't need cross-engine parity; this one is also cheaper
    //     per row (no per-element hash chain — constant weights).
    "q_ann_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.lshTopKPortable(emb, emb.filter(col("vec_id") < 5),
          k = 10, planes = 8)
        .orderBy("query_id", "rank")
    }),

    // 34b. IVF ANN: coarse k-means cells + nprobe probing (rows-only:
    //      cell assignment is quantizer-defined). Centroids are
    //      deterministic per corpus, so training is memoized per dir —
    //      the index-build/query split every IVF deployment has.
    "q_ann_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val centroids = centroidCache.computeIfAbsent(d, _ =>
        graft.functions.Ivf.trainCentroids(emb, "vec_id", "embedding", k = 16))
      graft.functions.Ivf.ivfTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
          centroids, nprobe = 4)
        .orderBy("query_id", "rank")
    }),

    // 34c. PQ ANN (rows-only: codes are quantizer-defined): vectors
    //      compressed to m=8 sub-codes, candidates scored by ADC
    //      table lookups, shortlist exactly reranked. Recall floor is
    //      PqSpec's gate.
    "q_ann_pq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cbs = codebookCache.computeIfAbsent(d, _ =>
        graft.functions.Pq.trainCodebooks(emb, "vec_id", "embedding",
          m = 8, ksub = 64))
      graft.functions.Pq.pqTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
          cbs, rerankFactor = 8)
        .orderBy("query_id", "rank")
    }),

    // 34d. IVF+PQ composed ANN (rows-only): coarse cells prune, PQ
    //      codes score by ADC, shortlist reranks exactly. Recall gate
    //      in PqSpec.
    "q_ann_ivfpq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val centroids = centroidCache.computeIfAbsent(d, _ =>
        graft.functions.Ivf.trainCentroids(emb, "vec_id", "embedding", k = 16))
      val cbs = codebookCache.computeIfAbsent(d, _ =>
        graft.functions.Pq.trainCodebooks(emb, "vec_id", "embedding",
          m = 8, ksub = 64))
      graft.functions.Pq.ivfPqTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
          centroids, cbs, nprobe = 4, rerankFactor = 8)
        .orderBy("query_id", "rank")
    }),

    // 93. Unigram-LM perplexity scoring: corpus token probabilities
    //     (one map-side-combined shuffle on the token), broadcast back
    //     to the exploded docs, mean NLL per document — the classic
    //     cheap quality-filter signal (KenLM's shape with a unigram
    //     model). Scale: the vocab table is tiny after aggregation and
    //     broadcasts; the per-doc agg shuffles (doc_id, partial-sum)
    //     pairs only. r6 floor-rounding absorbs cross-engine ln/sum
    //     last-bit drift.
    "q_lm_score" -> ((s, d) => {
      val toks = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("t"))
      val vocab = toks.groupBy("t").agg(count(lit(1)).as("c"))
      // total tokens = Σ vocab counts: derives from the SAME aggregate
      // subplan, so ReusedExchange computes vocab once and the corpus
      // is scanned twice total (vocab + the scoring join), not 3×
      val total = vocab.agg(sum("c").as("n_total"))
      val probs = vocab.crossJoin(broadcast(total))
        .select(col("t"),
          (-log(col("c").cast("double") / col("n_total"))).as("nll"))
      toks.join(broadcast(probs), "t")
        .groupBy("doc_id")
        .agg(graft.functions.EngineNeutral.roundHalfUp(avg("nll"), 6).as("avg_nll"),
          count(lit(1)).as("n_tokens"))
        .orderBy("doc_id")
    }),

    // 93b. Bigram-LM scoring with Stupid Backoff (the web-scale LM
    //      smoothing: score = c(w₁w₂)/c(w₁) when the bigram was seen
    //      in training, else 0.4 · Laplace-smoothed unigram — no
    //      discounting to estimate, exactly the published large-corpus
    //      recipe). LM trains on even doc_ids, scores odd ones, so
    //      held-out docs genuinely hit unseen bigrams and both
    //      branches are exercised. Scale shape: the bigram count
    //      table is CORPUS-derived (unbounded — at 100 TB it is
    //      billions of rows) so the scoring join on the 8-byte bigram
    //      hash is merge-hinted, never a planner broadcast; the two
    //      unigram joins ride broadcasts (vocab-bounded); per-doc
    //      bigrams come from a doc-partitioned window lead (bounded
    //      groups). r6 floor-rounding absorbs ln/sum last-bit drift.
    "q_bigram_lm" -> ((s, d) => {
      // round-18: the three aligned hashes come from the k=1/k=2
      // shingle kernels zipped positionally (h1_i = arr1[i], h2_i =
      // arr1[i+1], bh_i = xxhash64(t_i, t_{i+1}) = arr2[i] by the hash
      // chain rule) — the former posexplode + per-doc window.lead
      // shuffled every token string through a doc_id exchange and
      // sorted it just to form adjacent pairs. TextHashSpec pins the
      // kernel hash values; values here are bit-identical.
      // persisted + eager: train and score both consume this subtree,
      // and AQE runs those stages concurrently (see sharedShingleEdges).
      // Bench/Verify clear cached lineage between queries.
      val arr1 = graft.plans.TextHashCols.shingleXx64(col("text"), 1, fallback = false)
      val arr2 = graft.plans.TextHashCols.shingleXx64(col("text"), 2, fallback = false)
      val bigrams = graft.plans.CacheHandles.track("query.bigramlm.bigrams",
        Tables.spread(Tables.documents(s, d))
          .select(col("doc_id"),
            explode(arrays_zip(
              slice(arr1, lit(1), size(arr2)),
              slice(arr1, lit(2), size(arr2)),
              arr2)).as("z"))
          .select(col("doc_id"), col("z").getField("0").as("h1"),
            col("z").getField("1").as("h2"), col("z").getField("2").as("bh"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY))
      bigrams.count()
      val train = bigrams.filter(col("doc_id") % 2 === 0)
      val score = bigrams.filter(col("doc_id") % 2 === 1)
      val bigramC = train.groupBy("bh").agg(count(lit(1)).as("bc"))
      val uniC = graft.plans.CacheHandles.track("query.bigramlm.unigrams",
        Tables.documents(s, d).filter(col("doc_id") % 2 === 0)
          .select(explode(Dedup.tokens(col("text"))).as("t"))
          .select(xxhash64(col("t")).as("h"))
          .groupBy("h").agg(count(lit(1)).as("uc"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY))
      val stats = uniC.agg(sum("uc").as("n_total"), count(lit(1)).as("v"))
      val nll = -log(
        when(col("bc").isNotNull && col("c1").isNotNull,
          col("bc").cast("double") / col("c1"))
          .otherwise(lit(0.4) * (coalesce(col("uc2"), lit(0L)) + lit(1.0)) /
            (col("n_total") + col("v"))))
      score
        .join(bigramC.hint("merge"), Seq("bh"), "left")
        .join(broadcast(uniC.select(col("h").as("h1"), col("uc").as("c1"))),
          Seq("h1"), "left")
        .join(broadcast(uniC.select(col("h").as("h2"), col("uc").as("uc2"))),
          Seq("h2"), "left")
        .crossJoin(broadcast(stats))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          count(when(col("bc").isNull || col("c1").isNull, 1)).as("n_backoff"),
          graft.functions.EngineNeutral.roundHalfUp(avg(nll), 6).as("avg_nll"))
        .orderBy("doc_id")
    }),

    // 94. Deterministic hash-weighted subsampling: keep a document iff
    //     md5(text)'s first 32 bits, as a uniform u ∈ [0,1), fall
    //     under its language's sampling rate — the reproducible
    //     Bernoulli every mixture pipeline needs (the same doc is
    //     kept/dropped identically on every rerun and engine, unlike
    //     rand()). Pure scan-stage filter: no shuffle at all.
    "q_sample_weighted" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          // round-18: codegen md5-prefix kernel, same value (TextHashSpec)
          (graft.plans.TextHashCols.md5Prefix(col("text"), 8) / lit(4294967296.0)).as("u"),
          when(col("lang") === "en", 0.5)
            .when(col("lang") === "zh", 0.9)
            .otherwise(1.0).as("rate"))
        .filter(col("u") < col("rate"))
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // 29b. Boilerplate detection: shingles appearing in many documents
    //      (top-50 by document count; deterministic tie-break).
    "q_boilerplate" -> ((s, d) =>
      Dedup.frequentShingles(Tables.documents(s, d), "text", minCount = 2)
        .orderBy(col("n").desc, col("shingle"))
        .limit(50)),

    // 37b. Approximate top-k frequent tokens via the SpaceSaving
    //      TypedImperativeAggregate sketch (fixed memory, partial→final
    //      merge — no distinct-key shuffle). Exact whenever the
    //      vocabulary fits the sketch capacity — which is what makes
    //      the SQL oracle valid. capacityFactor 256 → capacity 5120:
    //      ScaleUp SFs grow the vocabulary per copy, and with the
    //      k×8=160 default the sketch went (correctly) approximate at
    //      sf1 and diverged from the exact-count oracle. 5120 entries
    //      is still a few hundred KB of bounded sketch state; the
    //      capacity-vs-exactness contract itself is pinned in
    //      SpaceSavingSpec.
    "q_freq_tokens" -> ((s, d) =>
      Tables.spread(Tables.documents(s, d))
        .select(explode(Dedup.tokens(col("text"))).as("tok"))
        .agg(graft.plans.SpaceSavingTopK.approx_top_k(col("tok"), 20,
          capacityFactor = 256).as("top"))
        .selectExpr("inline(top)")
        .select(col("item").as("tok"), col("count").as("n"))
        .orderBy(col("n").desc, col("tok"))),

    // 35. Language ID: stopword-set scoring with argmax (declared-order
    //     tie-break), fully columnar.
    "q_lang_id" -> ((s, d) =>
      Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), TextAnalysis.langIdScored(col("text")).as("lang_guess"))
        .orderBy("doc_id")),

    // 36. Quality scoring.
    "q_text_quality" -> ((s, d) =>
      Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"),
          length(col("text")).as("len"),
          TextAnalysis.nWords(col("text")).as("n_words"),
          TextAnalysis.avgWordLen(col("text")).as("avg_word_len"),
          TextAnalysis.densityScore(col("text")).as("density"))
        .orderBy("doc_id")),

    // 37. Token counting: whitespace + BPE-ish regex pieces.
    "q_token_count" -> ((s, d) =>
      Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"),
          TextAnalysis.tokenCountWhitespace(col("text")).as("ws_tokens"),
          TextAnalysis.tokenCountRegex(col("text")).as("re_tokens"))
        .orderBy("doc_id")),

    // 38. Rolling-hash fingerprint. Full hash oracle since r10:
    //     DuckDB's list_reduce reproduces the byte fold exactly on the
    //     verified-ASCII corpus (see the oracle's comment for the
    //     parity preconditions and the empty-text guard).
    "q_fingerprint" -> ((s, d) =>
      Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    // 39b. PII redaction (emails/phones → typed placeholders), the
    //      standard pre-training scrub. The synthetic corpus carries
    //      no natural PII, so the query stamps a deterministic
    //      email+phone per doc from its own fields and then counts
    //      and redacts them — the operator is the regex columns; the
    //      stamped text just gives it nonzero work both engines
    //      reproduce exactly. Output carries md5(redacted) so the
    //      oracle checks the full redacted string, not just counts.
    "q_pii_redact" -> ((s, d) =>
      Tables.spread(Tables.documents(s, d))
        .withColumn("pii_text",
          concat(col("text"), lit(" contact "), col("source"), lit("_"),
            col("doc_id").cast("string"), lit("@example.com or call 555-"),
            lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"), lit("-0199")))
        .select(col("doc_id"),
          TextAnalysis.emailCount(col("pii_text")).as("n_emails"),
          TextAnalysis.phoneCount(col("pii_text")).as("n_phones"),
          md5(TextAnalysis.redactPii(col("pii_text")).cast("binary")).as("redacted_md5"))
        .orderBy("doc_id")),

    // 39c. BM25 ranked retrieval: source 'src0' documents stand in
    //      for the query workload (same convention as decontam), every
    //      other document is corpus; top-5 per query by Okapi BM25
    //      (k1=1.2, b=0.75). Query-derived tables are broadcast by
    //      construction, corpus tokens reduce to xxhash64 term keys in
    //      the scan stage, ranking is the native bounded TopKPerKey —
    //      see functions/Retrieval.scala for the 100 TB shape.
    "q_bm25" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Retrieval.bm25TopK(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", topK = 5)
        .orderBy("query_id", "rank")
    }),

    // 112b. BM25 through the PERSISTED lexical index — the production
    //      path (build once, serve every round from tf/df/stats
    //      parquet): writeLexicalIndex commits a Versioned index for
    //      the sf dir on first touch (cached per session, the IVF
    //      centroid convention), then scoring reads three pruned
    //      tables instead of re-aggregating the corpus. Same oracle as
    //      q_bm25 — RetrievalSpec pins the two paths bit-identical,
    //      and this gate drives the indexed path against DuckDB too.
    "q_bm25_indexed" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Retrieval.bm25TopKIndexed(s, lexIndexVdir(s, d),
          docs.filter(col("source") === "src0"), "doc_id", "text", topK = 5)
        .orderBy("query_id", "rank")
    }),

    // 39. Multimodal: binary payload + typed metadata through the
    //     batched decode pipeline (real mapPartitions plumbing; PNG/
    //     JPEG dimensions, WAV rate/channels/duration AND MP4
    //     duration/tracks/dims/frames are all parsed from genuine
    //     containers; oracle recomputes everything from content
    //     length).
    "q_multimodal_meta" -> ((s, d) =>
      Multimodal.decodeMeta(s, Tables.spread(Tables.documents(s, d)), "doc_id", "text")
        .select(col("doc_id"), col("media_type"), col("payload_bytes"),
          col("width"), col("height"), col("n_frames"),
          col("sample_rate"), col("channels"), col("duration_ms"),
          col("n_tracks"),
          graft.functions.EngineNeutral.roundHalfUp(col("mean_luma"), 6)
            .as("mean_luma"),
          graft.functions.EngineNeutral.roundHalfUp(col("rms_amplitude"), 6)
            .as("rms_amplitude"))
        .orderBy("doc_id"))
  )

  /** The BM25 oracle, shared by q_bm25 (in-job aggregation) and
    * q_bm25_indexed (persisted-index path) — the two must produce the
    * identical result set.
    */
  private val bm25OracleSql: String =
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
         |  FROM documents
         |), corpus AS (
         |  SELECT doc_id, toks FROM t WHERE source <> 'src0'
         |), tf AS (
         |  SELECT doc_id, tok, count(*) AS tf, any_value(dl) AS dl FROM (
         |    SELECT doc_id, unnest(toks) AS tok, len(toks) AS dl FROM corpus)
         |  GROUP BY 1, 2
         |), stats AS (
         |  SELECT count(*) AS n, sum(len(toks))::DOUBLE / count(*) AS avgdl
         |  FROM corpus
         |), dfreq AS (
         |  SELECT tok, count(*) AS df FROM tf GROUP BY 1
         |), q AS (
         |  SELECT doc_id AS query_id, unnest(list_distinct(toks)) AS tok
         |  FROM t WHERE source = 'src0'
         |), scored AS (
         |  SELECT q.query_id, tf.doc_id,
         |    floor(sum(
         |      ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5)) *
         |      (tf.tf * (1.2 + 1.0)) /
         |      (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))
         |    ) * 10000 + 0.5) / 10000.0 AS score
         |  FROM q
         |  JOIN tf ON tf.tok = q.tok
         |  JOIN dfreq ON dfreq.tok = q.tok
         |  CROSS JOIN stats
         |  GROUP BY 1, 2
         |), ranked AS (
         |  SELECT query_id, doc_id, score,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY score DESC, doc_id) AS rank
         |  FROM scored
         |)
         |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, score
         |FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin

  val oracles: Map[String, String] = Map(
    // BM25 parity is at the token-STRING level (the Spark side joins
    // xxhash64 term keys — identical matches modulo 2⁻⁶⁴ collisions);
    // idf/avgdl are the same closed-form doubles in both engines
    // (avgdl = exact integer sum / count), the per-pair score is
    // r4-rounded BEFORE ranking so (score DESC, doc_id) order — and
    // the emitted rank — is engine-reproducible.
    "q_bm25" -> bm25OracleSql,
    // the indexed path must produce the identical result set — same
    // oracle, so the gate proves index-build + indexed scoring
    // end-to-end, not just spec-level parity with the in-job path
    "q_bm25_indexed" -> bm25OracleSql,
        "q_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    // PORTABLE minhash (round 17 — the q_approx_distinct precedent):
    // signatures are min over Kirsch–Mitzenmacher double hashes
    // (h1 + i·h2) mod (2⁶¹−1) of the distinct shingle STRINGS, with
    // h1 = 60-bit and h2 = 56-bit md5 prefixes, so plain signed-64
    // integer math reproduces every signature component bit-for-bit
    // in both engines. Banding groups by the 4-component band VALUE
    // (Spark groups by xxhash64 of it — identical grouping modulo
    // 2⁻⁶⁴ collisions); est_jaccard is a ratio of the same integers.
    "q_dedup_minhash" ->
      """WITH sh AS (
        |  SELECT id, unnest(list_distinct(
        |    CASE WHEN len(toks) >= 3
        |      THEN [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)]
        |      ELSE [array_to_string(toks, ' ')] END)) AS s
        |  FROM (SELECT doc_id AS id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks
        |        FROM documents)
        |), hh AS (
        |  SELECT id,
        |    CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h1,
        |    CAST('0x' || substr(md5(s || '#'), 1, 14) AS BIGINT) AS h2
        |  FROM sh
        |), sig AS (
        |  SELECT id, i, min((h1 + i * h2) % 2305843009213693951) AS m
        |  FROM hh CROSS JOIN range(64) r(i)
        |  GROUP BY 1, 2
        |), band AS (
        |  SELECT id, i // 4 AS band,
        |    array_to_string(list(m ORDER BY i), ',') AS bkey
        |  FROM sig GROUP BY id, i // 4
        |), capped AS (
        |  SELECT id, band, bkey FROM (
        |    SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bs FROM band)
        |  WHERE bs BETWEEN 2 AND 1000
        |), cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM capped a JOIN capped b
        |    ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
        |), est AS (
        |  SELECT c.id_a, c.id_b,
        |    sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END)::DOUBLE / 64 AS est_jaccard
        |  FROM cand c
        |  JOIN sig sa ON sa.id = c.id_a
        |  JOIN sig sb ON sb.id = c.id_b AND sb.i = sa.i
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b, est_jaccard FROM est
        |WHERE est_jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    // The q_dedup_minhash candidate set (est ≥ 0.5) walked to
    // connected components by the q_dedup_clusters recursive
    // min-label closure — the sketch-edge cluster pipeline.
    "q_minhash_clusters" ->
      """WITH RECURSIVE sh AS (
        |  SELECT id, unnest(list_distinct(
        |    CASE WHEN len(toks) >= 3
        |      THEN [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)]
        |      ELSE [array_to_string(toks, ' ')] END)) AS s
        |  FROM (SELECT doc_id AS id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks
        |        FROM documents)
        |), hh AS (
        |  SELECT id,
        |    CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h1,
        |    CAST('0x' || substr(md5(s || '#'), 1, 14) AS BIGINT) AS h2
        |  FROM sh
        |), sig AS (
        |  SELECT id, i, min((h1 + i * h2) % 2305843009213693951) AS m
        |  FROM hh CROSS JOIN range(64) r(i)
        |  GROUP BY 1, 2
        |), band AS (
        |  SELECT id, i // 4 AS band,
        |    array_to_string(list(m ORDER BY i), ',') AS bkey
        |  FROM sig GROUP BY id, i // 4
        |), capped AS (
        |  SELECT id, band, bkey FROM (
        |    SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bs FROM band)
        |  WHERE bs BETWEEN 2 AND 1000
        |), cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM capped a JOIN capped b
        |    ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
        |), edges AS (
        |  SELECT c.id_a, c.id_b
        |  FROM cand c
        |  JOIN sig sa ON sa.id = c.id_a
        |  JOIN sig sb ON sb.id = c.id_b AND sb.i = sa.i
        |  GROUP BY 1, 2
        |  HAVING sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END)::DOUBLE / 64 >= 0.5
        |), sym AS (
        |  SELECT id_a AS src, id_b AS dst FROM edges
        |  UNION ALL SELECT id_b, id_a FROM edges
        |), walk(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT w.id, s.dst FROM walk w JOIN sym s ON s.src = w.r
        |), comps AS (
        |  SELECT id, min(r) AS comp FROM walk GROUP BY id
        |)
        |SELECT comp, count(*) AS n_docs, min(id) AS keep_id
        |FROM comps GROUP BY comp ORDER BY comp""".stripMargin,
    // The persisted-index bipartite shape: corpus = even ids (the
    // indexed side, bucket-capped at 1000 on ITS population alone),
    // batch = odd ids. Same portable signatures; the oracle groups by
    // band VALUE where Spark buckets by xxhash64 of it.
    "q_dedup_minhash_inc" ->
      """WITH sh AS (
        |  SELECT id, unnest(list_distinct(
        |    CASE WHEN len(toks) >= 3
        |      THEN [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)]
        |      ELSE [array_to_string(toks, ' ')] END)) AS s
        |  FROM (SELECT doc_id AS id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks
        |        FROM documents)
        |), hh AS (
        |  SELECT id,
        |    CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h1,
        |    CAST('0x' || substr(md5(s || '#'), 1, 14) AS BIGINT) AS h2
        |  FROM sh
        |), sig AS (
        |  SELECT id, i, min((h1 + i * h2) % 2305843009213693951) AS m
        |  FROM hh CROSS JOIN range(64) r(i)
        |  GROUP BY 1, 2
        |), band AS (
        |  SELECT id, i // 4 AS band,
        |    array_to_string(list(m ORDER BY i), ',') AS bkey
        |  FROM sig GROUP BY id, i // 4
        |), corpus AS (SELECT * FROM band WHERE id % 2 = 0
        |), batch  AS (SELECT * FROM band WHERE id % 2 = 1
        |), keepb AS (
        |  SELECT band, bkey FROM corpus GROUP BY band, bkey
        |  HAVING count(*) <= 1000
        |), cand AS (
        |  SELECT DISTINCT c.id AS id_a, q.id AS id_b
        |  FROM corpus c
        |  JOIN keepb USING (band, bkey)
        |  JOIN batch q USING (band, bkey)
        |), est AS (
        |  SELECT c.id_a, c.id_b,
        |    sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END)::DOUBLE / 64 AS est_jaccard
        |  FROM cand c
        |  JOIN sig sa ON sa.id = c.id_a
        |  JOIN sig sb ON sb.id = c.id_b AND sb.i = sa.i
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b, est_jaccard FROM est
        |WHERE est_jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    // PORTABLE 60-bit simhash (round 17): per-token md5-prefix hashes,
    // ±1 bit sums, sign→bit assembly — every simhash reproduced
    // bit-for-bit, then the same 4-band pigeonhole (15 bits each,
    // maxHamming 3), per-bucket cap, and exact popcount verify.
    "q_dedup_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id AS id,
        |    unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS t
        |  FROM documents
        |), th AS (
        |  SELECT id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h FROM tok
        |), bits AS (
        |  SELECT id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS sb
        |  FROM th CROSS JOIN range(60) r(b) GROUP BY 1, 2
        |), sim AS (
        |  SELECT id, sum(CASE WHEN sb > 0 THEN (1::BIGINT << b) ELSE 0 END) AS sh
        |  FROM bits GROUP BY 1
        |), banded AS (
        |  SELECT id, sh, b AS band, (sh >> CAST(b * 15 AS INT)) & 32767 AS bkey
        |  FROM sim CROSS JOIN range(4) r(b)
        |), capped AS (
        |  SELECT id, sh, band, bkey FROM (
        |    SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bs FROM banded)
        |  WHERE bs BETWEEN 2 AND 1000
        |)
        |SELECT DISTINCT a.id AS id_a, b.id AS id_b,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        |FROM capped a JOIN capped b
        |  ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    // The persisted-index bipartite shape (the q_dedup_minhash_inc
    // precedent): corpus = even ids (the indexed side, bucket-capped
    // at 1000 on ITS population alone — no lower bound, a singleton
    // corpus bucket can still match a batch doc), batch = odd ids.
    // Same portable simhashes, same 4×15-bit pigeonhole bands.
    "q_dedup_simhash_inc" ->
      """WITH tok AS (
        |  SELECT doc_id AS id,
        |    unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS t
        |  FROM documents
        |), th AS (
        |  SELECT id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h FROM tok
        |), bits AS (
        |  SELECT id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS sb
        |  FROM th CROSS JOIN range(60) r(b) GROUP BY 1, 2
        |), sim AS (
        |  SELECT id, sum(CASE WHEN sb > 0 THEN (1::BIGINT << b) ELSE 0 END) AS sh
        |  FROM bits GROUP BY 1
        |), banded AS (
        |  SELECT id, sh, b AS band, (sh >> CAST(b * 15 AS INT)) & 32767 AS bkey
        |  FROM sim CROSS JOIN range(4) r(b)
        |), corpus AS (SELECT * FROM banded WHERE id % 2 = 0
        |), batch  AS (SELECT * FROM banded WHERE id % 2 = 1
        |), keepb AS (
        |  SELECT band, bkey FROM corpus GROUP BY band, bkey
        |  HAVING count(*) <= 1000
        |)
        |SELECT DISTINCT c.id AS id_a, q.id AS id_b,
        |  CAST(bit_count(xor(c.sh, q.sh)) AS INT) AS hamming
        |FROM corpus c
        |JOIN keepb USING (band, bkey)
        |JOIN batch q USING (band, bkey)
        |WHERE bit_count(xor(c.sh, q.sh)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    // The rolling hash is the same fold in both engines:
    // acc = (acc·31 + byte) mod 1e9+7 over the text. Spark folds UTF-8
    // BYTES (codegen RollingHash); the oracle folds ord(char), which
    // equals the byte exactly when the corpus is pure ASCII — verified
    // for every driver SF (0 docs match [^\x00-\x7F]), and a non-ASCII
    // drop would fail loudly as a hash mismatch, not silently.
    // list_prepend(0) seeds the fold so list_reduce's first-element
    // initialization matches the zero-seeded Spark fold. Empty text
    // needs an explicit 0: DuckDB's string_split('', '') is ['']
    // (not []) and ord('') is -1, so the un-guarded fold would yield
    // -1 where Spark's fold over zero bytes yields 0.
    "q_fingerprint" ->
      """SELECT doc_id, CASE WHEN length(text) = 0 THEN 0 ELSE list_reduce(
        |  list_prepend(0::BIGINT,
        |    [ord(c)::BIGINT FOR c IN string_split(text, '')]),
        |  (a, b) -> (a * 31 + b) % 1000000007) END AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    // bigram/unigram parity at the token-STRING level (Spark joins
    // xxhash64 keys); the seen-branch ratio is the same two exact
    // integers in both engines, the backoff branch the same closed
    // form, and r6 floor-rounding on the per-doc mean absorbs ln/sum
    // last-bit drift (q_lm_score's convention)
    "q_bigram_lm" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id, u.t1 AS t1, u.t2 AS t2 FROM (
        |    SELECT doc_id, unnest([{'t1': toks[i+1], 't2': toks[i+2]}
        |      FOR i IN range(0, len(toks) - 1)]) AS u
        |    FROM t WHERE len(toks) >= 2)
        |), bc AS (
        |  SELECT t1, t2, count(*) AS bc FROM bg WHERE doc_id % 2 = 0 GROUP BY 1, 2
        |), uc AS (
        |  SELECT tok, count(*) AS uc FROM (
        |    SELECT unnest(toks) AS tok FROM t WHERE doc_id % 2 = 0) GROUP BY 1
        |), stats AS (
        |  SELECT CAST(sum(uc) AS BIGINT) AS n_total, count(*) AS v FROM uc
        |)
        |SELECT s.doc_id, count(*) AS n_bigrams,
        |  count(CASE WHEN bc.bc IS NULL OR u1.uc IS NULL THEN 1 END) AS n_backoff,
        |  floor(avg(-ln(CASE WHEN bc.bc IS NOT NULL AND u1.uc IS NOT NULL
        |      THEN bc.bc::DOUBLE / u1.uc
        |      ELSE 0.4 * (coalesce(u2.uc, 0) + 1.0) / (stats.n_total + stats.v)
        |    END)) * 1000000 + 0.5) / 1000000.0 AS avg_nll
        |FROM bg s
        |LEFT JOIN bc ON bc.t1 = s.t1 AND bc.t2 = s.t2
        |LEFT JOIN uc u1 ON u1.tok = s.t1
        |LEFT JOIN uc u2 ON u2.tok = s.t2
        |CROSS JOIN stats
        |WHERE s.doc_id % 2 = 1
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_dedup_incremental" ->
      """WITH k AS (
        |  SELECT doc_id, md5(array_to_string(
        |    string_split(lower(text), ' ')[1:5], ' ')) AS text_hash
        |  FROM documents),
        |b AS (
        |  SELECT text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |  FROM k WHERE doc_id >= 250 GROUP BY text_hash)
        |SELECT text_hash, keep_id, n_copies FROM b
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM k c WHERE c.doc_id < 250 AND c.text_hash = b.text_hash)
        |ORDER BY keep_id""".stripMargin,
    // Same edge rule as the Spark side (distinct 3-token shingles,
    // doc-frequency band [2,20], ≥5 shared shingles per pair), then
    // min-label connected components as a recursive transitive
    // closure — UNION-distinct bounds the walk, and dedup-cluster
    // graphs are tiny blobs so the closure stays small.
    "q_dedup_clusters" ->
      """WITH RECURSIVE sh AS (
        |  SELECT id, unnest(list_distinct(
        |    CASE WHEN len(toks) >= 3
        |      THEN [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)]
        |      ELSE [array_to_string(toks, ' ')] END)) AS shingle
        |  FROM (SELECT doc_id AS id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks
        |        FROM documents)
        |), kept AS (
        |  SELECT id, shingle FROM (
        |    SELECT id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM sh)
        |  WHERE df BETWEEN 2 AND 20
        |), edges AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.id < b.id
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |), sym AS (
        |  SELECT id_a AS src, id_b AS dst FROM edges
        |  UNION ALL SELECT id_b, id_a FROM edges
        |), walk(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT w.id, s.dst FROM walk w JOIN sym s ON s.src = w.r
        |), comps AS (
        |  SELECT id, min(r) AS comp FROM walk GROUP BY id
        |)
        |SELECT comp, count(*) AS n_docs, min(id) AS keep_id
        |FROM comps GROUP BY comp ORDER BY comp""".stripMargin,
    "q_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        |    x -> length(x) > 0)) AS t
        |  FROM documents),
        |v AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
        |n AS (SELECT count(*) AS n_total FROM toks),
        |p AS (SELECT t, -ln(c::DOUBLE / n_total) AS nll FROM v, n)
        |SELECT doc_id, floor(avg(nll) * 1000000 + 0.5) / 1000000.0 AS avg_nll,
        |  count(*) AS n_tokens
        |FROM toks JOIN p USING (t) GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_sample_weighted" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) / 4294967296.0 AS u,
        |    CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.9 ELSE 1.0 END AS rate
        |  FROM documents)
        |WHERE u < rate ORDER BY doc_id""".stripMargin,
    // Shingle parity with the Spark side is at the STRING level: Spark
    // compares xxhash64(shingle) sets, the oracle compares the shingle
    // strings themselves — identical counts modulo 2⁻⁶⁴ collisions.
    // Candidates replicate sharedShingleEdges (df band [2,20], ≥5
    // shared); jaccard is a ratio of the same two integers in both
    // engines, so the doubles are bit-identical.
    "q_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT id, unnest(list_distinct(
        |    CASE WHEN len(toks) >= 3
        |      THEN [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)]
        |      ELSE [array_to_string(toks, ' ')] END)) AS shingle
        |  FROM (SELECT doc_id AS id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks
        |        FROM documents)
        |), kept AS (
        |  SELECT id, shingle FROM (
        |    SELECT id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM sh)
        |  WHERE df BETWEEN 2 AND 20
        |), cand AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.id < b.id
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |), sizes AS (
        |  SELECT id, count(*) AS n FROM sh GROUP BY id
        |), inter AS (
        |  SELECT c.id_a, c.id_b, count(*) AS ni
        |  FROM cand c JOIN sh a ON a.id = c.id_a
        |  JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT i.id_a, i.id_b, i.ni::DOUBLE / (na.n + nb.n - i.ni) AS jaccard
        |  FROM inter i JOIN sizes na ON na.id = i.id_a
        |  JOIN sizes nb ON nb.id = i.id_b)
        |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    // Axis-aligned sign blocking: bucket membership is sign-only (no
    // float arithmetic — normalization preserves sign), so buckets are
    // engine-exact; only the r4-rounded cosine touches floats. The
    // per-(band,bucket) size cap mirrors embeddingNearDupsAxis'
    // maxBucket=10000 exactly, and the band width `half` mirrors
    // Similarity.adaptiveHalf's integer sizing (min h ≥ 2 with
    // 2^h·125 ≥ n), so the parity holds at ANY corpus size, not just
    // SFs where the cap never binds or a fixed width fits.
    "q_dedup_embedding" ->
      """WITH nv AS (
        |  SELECT id, [x / nrm FOR x IN e] AS u
        |  FROM (SELECT vec_id AS id, e, sqrt(list_sum([x*x FOR x IN e])) AS nrm
        |        FROM (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e
        |              FROM embeddings))
        |  WHERE nrm <> 0
        |), hp AS (
        |  SELECT coalesce(min(h), 16)::INT AS half FROM range(2, 17) t(h)
        |  WHERE (1::BIGINT << h) * 125 >= (SELECT count(*) FROM nv)
        |), sig AS (
        |  SELECT id, u,
        |    list_sum([CASE WHEN u[i] >= 0 THEN (1::BIGINT << (i - 1)) ELSE 0 END
        |              FOR i IN range(1, half + 1)]) AS lo,
        |    list_sum([CASE WHEN u[half + i] >= 0 THEN (1::BIGINT << (i - 1)) ELSE 0 END
        |              FOR i IN range(1, half + 1)]) AS hi
        |  FROM nv, hp
        |), lo_ok AS (
        |  SELECT lo FROM sig GROUP BY lo HAVING count(*) BETWEEN 2 AND 10000
        |), hi_ok AS (
        |  SELECT hi FROM sig GROUP BY hi HAVING count(*) BETWEEN 2 AND 10000
        |), cand AS (
        |  SELECT a.id AS id_a, b.id AS id_b, a.u AS ua, b.u AS ub
        |  FROM sig a JOIN sig b ON a.lo = b.lo AND a.id < b.id
        |  WHERE a.lo IN (SELECT lo FROM lo_ok)
        |  UNION
        |  SELECT a.id, b.id, a.u, b.u
        |  FROM sig a JOIN sig b ON a.hi = b.hi AND a.id < b.id
        |  WHERE a.hi IN (SELECT hi FROM hi_ok)
        |)
        |SELECT id_a, id_b, sim FROM (
        |  SELECT id_a, id_b,
        |    floor(list_dot_product(ua, ub) * 10000 + 0.5) / 10000.0 AS sim
        |  FROM cand)
        |WHERE sim >= 0.3 ORDER BY id_a, id_b""".stripMargin,
    "q_ann_bruteforce" ->
      """SELECT query_id, rank, neighbor_id, sim FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    floor(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
        |      (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) * 10000 + 0.5) / 10000.0 AS sim,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      floor(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
        |        (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
        |         sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) * 10000 + 0.5) / 10000.0 DESC,
        |      c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 5)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // Every stage mirrored exactly: unit-normalize (x/nrm per element),
    // md5-derived plane weights ((md5Long60("p:j") % 100000)/1e5 - 0.5),
    // signature = sign bits of left-to-right dots (list_dot_product ≡
    // ArrayDot), two half-width bands, candidate join, r4 rerank.
    "q_ann_lsh" ->
      """WITH nv AS (
        |  SELECT id, [x / nrm FOR x IN e] AS u
        |  FROM (SELECT vec_id AS id, e, sqrt(list_sum([x*x FOR x IN e])) AS nrm
        |        FROM (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e
        |              FROM embeddings))
        |  WHERE nrm <> 0
        |), w AS (
        |  SELECT p, j,
        |    ((('0x' || substr(md5(p || ':' || j), 1, 15))::BIGINT) % 100000)
        |      / 100000.0 - 0.5 AS wt
        |  FROM range(8) a(p), range(64) b(j)
        |), wl AS (
        |  SELECT p, list(wt ORDER BY j) AS wv FROM w GROUP BY p
        |), sg AS (
        |  SELECT id, sum(CASE WHEN list_dot_product(u, wv) > 0
        |    THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS sig
        |  FROM nv, wl GROUP BY id
        |), bands AS (
        |  SELECT id, 0 AS band, sig & 15 AS bkey FROM sg
        |  UNION ALL SELECT id, 1, sig >> 4 FROM sg
        |), cand AS (
        |  SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
        |  FROM bands q JOIN bands c ON q.band = c.band AND q.bkey = c.bkey
        |  WHERE q.id < 5 AND q.id <> c.id
        |), scored AS (
        |  SELECT query_id, neighbor_id,
        |    floor(list_dot_product(a.u, b.u) * 10000 + 0.5) / 10000.0 AS sim
        |  FROM cand JOIN nv a ON a.id = cand.query_id
        |            JOIN nv b ON b.id = cand.neighbor_id
        |)
        |SELECT query_id, rank, neighbor_id, sim FROM (
        |  SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "q_boilerplate" ->
      """SELECT shingle, n FROM (
        |  SELECT shingle, count(*) AS n FROM (
        |    SELECT unnest(list_distinct(
        |      CASE WHEN len(toks) >= 3
        |        THEN [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)]
        |        ELSE [array_to_string(toks, ' ')] END)) AS shingle
        |    FROM (SELECT list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks
        |          FROM documents))
        |  GROUP BY shingle HAVING count(*) >= 2)
        |ORDER BY n DESC, shingle LIMIT 50""".stripMargin,
    "q_freq_tokens" ->
      """SELECT tok, count(*) AS n FROM (
        |  SELECT unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS tok
        |  FROM documents)
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin,
    "q_lang_id" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    len(list_intersect(toks, ['the','and','of','to','is','in'])) AS s_en,
        |    len(list_intersect(toks, ['le','la','les','et','est','une'])) AS s_fr,
        |    len(list_intersect(toks, ['der','die','das','und','ist','ein'])) AS s_de,
        |    len(list_intersect(toks, ['el','los','las','y','es','una'])) AS s_es
        |  FROM t
        |)
        |SELECT doc_id,
        |  CASE WHEN greatest(s_en, s_fr, s_de, s_es) = 0 THEN 'unk'
        |       WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
        |       WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
        |       WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
        |       ELSE 'es' END AS lang_guess
        |FROM s ORDER BY doc_id""".stripMargin,
    "q_text_quality" ->
      """SELECT doc_id, length(text) AS len,
        |  len(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS n_words,
        |  floor(length(replace(text, ' ', ''))::DOUBLE /
        |    len(list_filter(string_split(text, ' '), t -> length(t) > 0)) * 100 + 0.5) / 100.0 AS avg_word_len,
        |  floor(length(replace(text, ' ', ''))::DOUBLE / length(text) * 10000 + 0.5) / 10000.0 AS density
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z0-9]+')) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_pii_redact" ->
      """WITH stamped AS (
        |  SELECT doc_id,
        |    text || ' contact ' || source || '_' || doc_id ||
        |    '@example.com or call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') ||
        |    '-0199' AS pii_text
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(pii_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(pii_text, '\d{3}-\d{3}-\d{4}')) AS n_phones,
        |  md5(regexp_replace(
        |    regexp_replace(pii_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g')) AS redacted_md5
        |FROM stamped ORDER BY doc_id""".stripMargin,
    // image rows carry REAL PNG/JPEG containers (+57/+17 wrapper
    // bytes) and audio rows REAL RIFF/WAVE containers (+44 + odd-pad)
    // whose headers the engine must parse back; the oracle recomputes
    // the embedded dimensions / rate / channels / duration from the
    // content length, so a broken header parser hash-mismatches.
    // Video rows stay on the documented stub formulas. Audio duration:
    // samples = data_len ÷ block_align (16-bit PCM → 2·channels),
    // duration_ms = samples·1000 ÷ rate, all integer division.
    "q_multimodal_meta" ->
      """WITH t AS (
        |  SELECT doc_id, n,
        |    (1 + n % 389) * (2 + n % 509) AS m,     -- PNG filtered-stream bytes h*(w+1)
        |    (1 + n % 509) * (1 + n % 389) AS wh,    -- PNG pixel count w*h
        |    n // 2 AS nw                            -- WAV complete 16-bit words
        |  FROM (SELECT doc_id, octet_length(encode(text)) AS n FROM documents)
        |)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  CASE WHEN doc_id % 6 = 0 THEN n + 75 + m + 5 * ((m + 65534) // 65535)
        |       WHEN doc_id % 3 = 0 THEN n + 17
        |       WHEN doc_id % 3 = 1 THEN n + 44 + n % 2
        |       ELSE n + 296 + (n % 3) * 140 END AS payload_bytes,
        |  CASE WHEN doc_id % 6 = 0 THEN
        |    floor(((wh // 256) * 32640
        |           + coalesce(list_sum([(j * 31 + n) % 256
        |                                FOR j IN range(0, wh % 256)]), 0)
        |          )::DOUBLE / wh * 1000000 + 0.5) / 1000000.0
        |  END AS mean_luma,
        |  CASE WHEN doc_id % 3 = 1 AND nw > 0 THEN
        |    floor(sqrt(list_sum([
        |        CASE WHEN ((14 * i + n) % 256) + 256 * ((14 * i + 7 + n) % 256) >= 32768
        |             THEN (((14 * i + n) % 256) + 256 * ((14 * i + 7 + n) % 256) - 65536)
        |                  * (((14 * i + n) % 256) + 256 * ((14 * i + 7 + n) % 256) - 65536)
        |             ELSE (((14 * i + n) % 256) + 256 * ((14 * i + 7 + n) % 256))
        |                  * (((14 * i + n) % 256) + 256 * ((14 * i + 7 + n) % 256))
        |        END FOR i IN range(0, nw)])::DOUBLE / nw) * 1000000 + 0.5) / 1000000.0
        |  END AS rms_amplitude,
        |  (CASE WHEN doc_id % 3 = 0 THEN 1 + n % 509
        |        WHEN doc_id % 3 = 1 THEN NULL
        |        ELSE 64 + n % 577 END)::INT AS width,
        |  (CASE WHEN doc_id % 3 = 0 THEN 1 + n % 389
        |        WHEN doc_id % 3 = 1 THEN NULL
        |        ELSE 64 + n % 433 END)::INT AS height,
        |  (CASE WHEN doc_id % 3 = 2 THEN 1 + n % 30 ELSE 1 END)::INT AS n_frames,
        |  (CASE WHEN doc_id % 3 = 1 THEN 8000 + (n % 8) * 4000
        |        ELSE NULL END)::INT AS sample_rate,
        |  (CASE WHEN doc_id % 3 = 1 THEN 1 + n % 2 ELSE NULL END)::INT AS channels,
        |  (CASE WHEN doc_id % 3 = 1 THEN
        |          ((n // ((1 + n % 2) * 2)) * 1000) // (8000 + (n % 8) * 4000)
        |        WHEN doc_id % 3 = 2 THEN 500 + n % 60000
        |        ELSE NULL END)::BIGINT AS duration_ms,
        |  (CASE WHEN doc_id % 3 = 2 THEN 1 + n % 3 ELSE NULL END)::INT AS n_tracks
        |FROM t ORDER BY doc_id""".stripMargin
  )
}
