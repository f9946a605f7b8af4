package graft.queries

import graft.Tables
import graft.functions.{Curation, EngineNeutral}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation queries (SURVEY.md §2 rows 45-51): the second wave
  * of training-data operators — segment dedup, repetition quality,
  * tf-idf, contamination, deterministic sampling/splitting, corpus
  * histograms. All carry DuckDB oracles.
  */
object CurationQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // 45. Corpus-wide segment dedup (CCNet-style, keep-first): per-doc
    //     segment totals and survivors after global dedup.
    "q_dedup_segments" -> ((s, d) =>
      Curation.segmentDedup(Tables.documents(s, d), "doc_id", "text", segLen = 8)
        .orderBy("doc_id")),

    // 46. Gopher-style repetition stats: duplicate-token fraction +
    //     top-bigram coverage per document.
    "q_repetition" -> ((s, d) =>
      Curation.repetitionStats(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // 47. Top-3 tf-idf keywords per document (df over the full corpus,
    //     output restricted to doc_id < 50).
    "q_tfidf" -> ((s, d) =>
      Curation.tfidfTopK(Tables.documents(s, d), "doc_id", "text", k = 3,
          docFilter = col("doc_id") < 50)
        .orderBy("doc_id", "rank")),

    // 48. Benchmark-contamination scan: distinct 3-gram shingles each
    //     corpus doc (id ≥ 20) shares with the benchmark set (id < 20).
    "q_contamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.contamination(
          docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
          "doc_id", "text", shingleK = 3)
        .orderBy("doc_id")
    }),

    // 49. Deterministic stratified sampling: content-hash bucket keeps
    //     ~4/16 of each source; per-source totals + realized rate.
    "q_sample_stratified" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_total"),
          count(when(Curation.sampleFlag(col("text"), 4), 1)).as("n_sampled"))
        .withColumn("rate",
          EngineNeutral.r4(col("n_sampled").cast("double") / col("n_total")))
        .orderBy("source")),

    // 50. Deterministic train/val/test split (12/2/2 sixteenths by
    //     content hash), counted per language.
    "q_split_assign" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"), Curation.splitAssign(col("text")).as("split"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "split")),

    // 51. Corpus length histogram: 50-char buckets of n_chars with the
    //     corpus share of each bucket.
    // 50b. Continuous sequence packing (GPT-style): fixed 512-token
    //      training sequences per shard, docs laid end-to-end and
    //      allowed to straddle boundaries. One per-shard window, two
    //      longs per doc through the shuffle.
    "q_pack" -> ((s, d) =>
      Curation.packSequences(
        Tables.spread(Tables.documents(s, d))
          .select(col("doc_id"),
            graft.functions.TextAnalysis.nWords(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", ctxLen = 512, shards = 8)
        .orderBy("doc_id")),

    // 50c. Overlapping token-window chunking (embedding/RAG prep):
    //      32-token chunks, 8-token overlap.
    "q_chunk" -> ((s, d) =>
      Curation.chunk(Tables.documents(s, d), "doc_id", "text",
          chunkTokens = 32, overlap = 8)
        .orderBy("doc_id", "chunk_id")),

    // 51b. End-to-end curation funnel: quality gate (word count) →
    //      language gate (scored stopword ID, unk dropped) → exact
    //      dedup keep-first → SPAN-LEVEL TRIM (drop docs mostly made
    //      of corpus-repeated k-word passages — q_span_dup_frac's
    //      signal acted on, the published stage after doc-level
    //      dedup) → LM PERPLEXITY GATE (q_lm_score's unigram-NLL
    //      machinery as a filter — the CCNet recipe's final stage:
    //      quality → lang → dedup → LM score; the LM trains on the
    //      post-dedup kept set in the SAME pass, so every scored
    //      token is in-vocabulary by construction) → per-language
    //      corpus stats. The composed form of rows 35/36/28/106/93 —
    //      one query, one oracle, proving the stages stack without
    //      driver round-trips.
    "q_curate_e2e" -> ((s, d) => {
      // doc_id is the one key this query places: the corpus spread is
      // a doc_id-keyed repartition (the same text bytes a round robin
      // would move), the keep semi-join below preserves that layout,
      // and the per-doc steps over the kept docs (the span dedup and
      // the NLL aggregate) read it without an exchange of their own
      val docs = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      // named one-pass Observe metrics at each funnel stage: the stage
      // row counts ride the job (no extra scan) and QueriesSpec asserts
      // them, so a silent filter/dedup regression fails the suite even
      // when the final aggregate happens to still hash-match
      val scored = docs.select(col("doc_id"), col("text"),
        graft.functions.TextAnalysis.nWords(col("text")).as("n_words"),
        graft.functions.TextAnalysis.langIdScored(col("text")).as("lang_guess"))
        .observe("curate_scored", count(lit(1)).as("rows"))
      // the funnel head is NOT persisted (round-19 wave 3 measurement):
      // caching it for its two references (keep aggregate + kept join
      // side) measured 2.48 → 3.15 s min-warm — the row
      // materialization breaks the scan→filter→join whole-stage fusion
      // and costs more than the saved langIdScored replay. The one
      // cache sits after the dedup (keptDocs below).
      val filtered = scored
        .filter(col("n_words") >= 10 && col("lang_guess") =!= "unk")
        .observe("curate_filtered", count(lit(1)).as("rows"))
      // keep-first dedup stays the groupBy(md5).agg(min) + semi-join
      // form: a row_number window over the content hash would collapse
      // the funnel to one pass, but a hash-derived window key is the
      // exact skew hazard ScaleGuard lints against (one
      // boilerplate/empty text duplicated at corpus scale = one giant
      // single-task window group, and AQE cannot skew-split windows) —
      // tested round 19 and reverted on the lint; locally the two
      // shapes measure identical (2.48 s).
      val keep = filtered
        .groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      val kept = filtered.join(keep, Seq("doc_id"), "left_semi")
        .observe("curate_kept", count(lit(1)).as("rows"))
      // persisted: the kept docs feed three consumers (the span
      // pipeline, the LM vocabulary aggregate and the per-doc NLL
      // aggregate) — without the persist each one replays the whole
      // scan→filter→dedup funnel (the q_simjoin shingle-persist
      // rationale). The cache holds one row per kept doc in the
      // doc_id-keyed layout, so no token row crosses an exchange on
      // its way to a per-doc step; Bench/Verify release it between
      // queries via CacheHandles
      val keptDocs = graft.plans.CacheHandles.track("query.curate.kept",
        kept.select(col("doc_id"), col("lang_guess"), col("n_words"), col("text"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY))
      // span-trim IN THE SAME PASS: the span pipeline carries
      // (lang_guess, n_words) alongside each span row, so the per-doc
      // duplicated-span fraction, the trim filter, and the final
      // per-language stats need NO join back to the kept docs. Every
      // kept doc has ≥10 words ≥ SpanK=8, so none drop out of the
      // explode. Span hashes come from the per-doc codegen kernel
      // (TextHashSpec pins it bit-identical to posexplode + lead +
      // xxhash64), so the plan has no window. Span document frequency
      // is the same scale-safe groupBy + merge-left-join shape as
      // q_span_dup_frac (Dedup.joinKeyStats — never a window over the
      // span hash).
      val spanK = 8
      val spans = keptDocs
        .select(col("doc_id"), col("lang_guess"), col("n_words"),
          explode(graft.plans.TextHashCols.shingleXx64(col("text"), spanK,
            fallback = false)).as("h"))
        .dropDuplicates("doc_id", "h")
      val trimmed = graft.functions.Dedup.joinKeyStats(spans, "h",
          Seq(count(lit(1)).as("nd")), col("nd") >= 2, "left")
        .groupBy(col("doc_id"))
        .agg(first(col("lang_guess")).as("lang_guess"),
          first(col("n_words")).as("n_words"),
          (count(col("nd")) / count(lit(1))).as("dup_frac"))
        .filter(col("dup_frac") <= 0.5)
        .observe("curate_span_trimmed", count(lit(1)).as("rows"))
      // LM gate: unigram probabilities from the kept corpus's OWN
      // token stream (vocab aggregates map-side, broadcasts back —
      // the q_lm_score shape), per-doc mean NLL r6-rounded so the
      // threshold comparison is engine-identical, then the fixed
      // cutoff. The token total sums a per-doc token count over the
      // kept docs, so the vocabulary is aggregated once. The NLL side
      // is docs-scale (unbounded), so the join back to the trimmed
      // survivors is merge-hinted.
      val toks = keptDocs.select(col("doc_id"),
        explode(graft.functions.Dedup.tokens(col("text"))).as("t"))
      val vocab = toks.groupBy("t").agg(count(lit(1)).as("c"))
      val totalN = keptDocs.agg(
        sum(graft.plans.TextHashCols.tokenCount(col("text"))).as("n_total"))
      val probs = vocab.crossJoin(broadcast(totalN))
        .select(col("t"),
          (-log(col("c").cast("double") / col("n_total"))).as("nll"))
      val nll = toks
        .join(broadcast(probs), "t")
        .groupBy("doc_id")
        .agg(EngineNeutral.roundHalfUp(avg("nll"), 6).as("avg_nll"))
      trimmed.join(nll.hint("merge"), Seq("doc_id"))
        .filter(col("avg_nll") <= graft.functions.Curation.CurateNllMax)
        .observe("curate_lm_kept", count(lit(1)).as("rows"))
        .groupBy("lang_guess")
        .agg(count(lit(1)).as("n_docs"), sum("n_words").as("total_tokens"))
        .orderBy("lang_guess")
    }),

    // 51c. Data-quality gate (Deequ-style): every rule is one
    //      aggregate expression, all rules in ONE scan. Range + set
    //      rules are tuned to produce nonzero violation counts on
    //      this data, so the gate demonstrably counts, not just
    //      passes.
    "q_data_quality" -> ((s, d) =>
      graft.functions.Checks.run(Tables.orders(s, d), Seq(
        graft.functions.Checks.NotNull("o_custkey"),
        graft.functions.Checks.Unique("o_orderkey"),
        graft.functions.Checks.InRange("o_totalprice", 0, 200000),
        graft.functions.Checks.InSet("o_orderstatus", Seq("F", "O"))))),

    // 51d. Corpus mixing / integer upsampling: epochs-per-document by
    //      mixture weight (here lang='en' ×3) via explode(sequence) —
    //      the deterministic data-mixing shape; no shuffle until the
    //      verification aggregate, and the explode multiplies rows
    //      inside the scan stage.
    "q_mix_upsample" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("copy_idx",
          explode(sequence(lit(1), when(col("lang") === "en", 3).otherwise(1))))
        .groupBy("lang", "copy_idx").agg(count(lit(1)).as("n"))
        .orderBy("lang", "copy_idx")),

    // 51f. Temperature-based mixture weights: the multilingual/
    //      multi-source sampling recipe (p_s ∝ n_s^α, α=0.3 — flattens
    //      the source distribution so head sources stop dominating
    //      without discarding them). Reports each source's token
    //      count, its temperature weight, and rel_epochs — how many
    //      times its data is effectively re-seen at a budget of one
    //      corpus pass (>1 for tail sources = upsampled). Per-source
    //      token counts are one map-side-combined aggregate over a
    //      scan-stage size(); the 20-row source table then crossJoins
    //      a broadcast scalar — nothing here scales with corpus rows.
    "q_mix_temperature" -> ((s, d) => {
      val counts = Tables.documents(s, d)
        .select(col("source"),
          size(graft.functions.Dedup.tokens(col("text"))).as("n_toks"))
        .groupBy("source").agg(sum("n_toks").as("n_tokens"))
      val tot = counts.agg(
        sum(pow(col("n_tokens").cast("double"), 0.3)).as("z"),
        sum("n_tokens").as("n_all"))
      counts.crossJoin(broadcast(tot))
        .select(col("source"), col("n_tokens"),
          EngineNeutral.roundHalfUp(
            pow(col("n_tokens").cast("double"), 0.3) / col("z"), 6).as("weight"),
          EngineNeutral.roundHalfUp(
            pow(col("n_tokens").cast("double"), 0.3) / col("z") *
              col("n_all") / col("n_tokens"), 6).as("rel_epochs"))
        .orderBy("source")
    }),

    // 51e. Per-source budget cap: keep documents in deterministic
    //      pseudo-random order (md5) until each source's running
    //      character budget is spent — the "cap every domain's
    //      contribution" curation op. One window shuffle partitioned
    //      by source; explicit ROWS frame so the running sum is
    //      tie-independent on both engines.
    "q_budget_cap" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source")
        .orderBy(md5(col("text").cast("binary")), col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      Tables.documents(s, d)
        .withColumn("cum", sum("n_chars").over(w))
        .filter(col("cum") <= 4000)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), max(col("cum")).as("chars_used"))
        .orderBy("source")
    }),

    "q_histogram" -> ((s, d) => {
      // share of total via a broadcast scalar join, not an empty-
      // partition window (which would funnel the buckets — and a
      // WindowExec single-partition warning — through one task); the
      // extra scan for the total is metadata-only (parquet row count)
      val hist = Tables.documents(s, d)
        .groupBy((expr("n_chars div 50") * 50).as("bucket"))
        .agg(count(lit(1)).as("n"))
      val total = Tables.documents(s, d).agg(count(lit(1)).as("_total"))
      hist.crossJoin(broadcast(total))
        .withColumn("share", EngineNeutral.r4(col("n").cast("double") / col("_total")))
        .drop("_total")
        .orderBy("bucket")
    }),

    // 51f. Quality-threshold survival sweep (round 17): before a
    //      100 TB curation run commits to a min-word-count gate, the
    //      sweep answers "what survives at each candidate threshold"
    //      in ONE scan — per-doc word counts cross-joined with a
    //      broadcast 10-row threshold grid, conditional aggregation
    //      (map-side combine collapses each partition to ≤10 rows
    //      before the shuffle). Output per threshold: surviving docs
    //      and tokens and their corpus shares — the curve that picks
    //      the gate for q_curate_e2e's quality stage.
    "q_threshold_sweep" -> ((s, d) => {
      val grid = (0 until 10).map(_ * 10)
      val docs = Tables.spread(Tables.documents(s, d))
        .select(size(graft.functions.Dedup.tokens(col("text"))).cast("long").as("n_words"))
      val thresholds = s.createDataFrame(
        s.sparkContext.parallelize(grid.map(org.apache.spark.sql.Row(_)), 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("min_words",
            org.apache.spark.sql.types.IntegerType, nullable = false))))
      docs.crossJoin(broadcast(thresholds))
        .groupBy("min_words")
        .agg(
          sum(when(col("n_words") >= col("min_words"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("n_words") >= col("min_words"), col("n_words")).otherwise(0L))
            .as("tokens_kept"),
          count(lit(1)).as("n_total"),
          sum(col("n_words")).as("tokens_total"))
        .select(col("min_words"), col("n_kept"), col("tokens_kept"),
          EngineNeutral.r6(col("n_kept").cast("double") / col("n_total")).as("doc_share"),
          EngineNeutral.r6(col("tokens_kept").cast("double") / col("tokens_total"))
            .as("token_share"))
        .orderBy("min_words")
    }),

    // 51g. Deterministic training-shard export manifest (round 17):
    //      the "global shuffle" step of a training export — every doc
    //      gets a portable 60-bit content-independent position key
    //      md5(doc_id), shard = key mod 16 (hash-partitioned, no
    //      global sort), within-shard order = the key itself. Output:
    //      one manifest row per shard (docs, chars, first/last doc in
    //      shard order — min/max over struct(h, doc_id), tie-free
    //      because doc_id is unique). One groupBy shuffle whose rows
    //      collapse map-side to 16; the WRITER face of the same plan
    //      (functions.Curation.exportShards, round 18) materializes
    //      the shards via partitionBy("shard") plus this manifest
    //      under one Versioned commit — ExportShardsSpec pins
    //      writer ≡ this query row-for-row.
    "q_export_shards" -> ((s, d) => {
      val h = EngineNeutral.md5Long60(col("doc_id").cast("string"))
      Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), col("n_chars"), h.as("h"))
        .withColumn("shard", pmod(col("h"), lit(16L)))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("n_chars"),
          min(struct(col("h"), col("doc_id"))).getField("doc_id").as("first_doc"),
          max(struct(col("h"), col("doc_id"))).getField("doc_id").as("last_doc"))
        .orderBy("shard")
    }),

    // 51h. Two-axis curation-gate survival surface (round 18):
    //      q_threshold_sweep picks the min-word gate; q_curate_e2e's
    //      OTHER tunable is the LM NLL cutoff (CurateNllMax, the r15
    //      perplexity gate). Same one-scan broadcast-grid shape, now
    //      over BOTH axes at once: per-doc (token count, r6-rounded
    //      mean unigram NLL — exactly the q_lm_score machinery, so
    //      the vocab aggregate broadcasts and the per-doc agg shuffles
    //      (doc_id, partial-sum) pairs only) × a broadcast 20-row
    //      (min_words × nll_max) grid, conditional aggregation
    //      collapsing map-side to ≤20 rows/partition. The NLL axis
    //      brackets CurateNllMax (the corpus median is ≈3.40); a
    //      FIXED grid rather than data-driven deciles keeps the
    //      threshold comparison engine-exact (both engines compare
    //      the same r6-rounded per-doc NLL to the same double
    //      literal — a decile boundary would add a percentile whose
    //      interpolation is the cross-engine risk the fixed grid
    //      avoids). This is the surface that picks BOTH of
    //      q_curate_e2e's gates before a 100 TB run commits to them.
    "q_nll_sweep" -> ((s, d) => {
      val docs = Tables.spread(Tables.documents(s, d))
      val toks = docs.select(col("doc_id"),
        explode(graft.functions.Dedup.tokens(col("text"))).as("t"))
      val vocab = toks.groupBy("t").agg(count(lit(1)).as("c"))
      val total = vocab.agg(sum("c").as("n_total"))
      val probs = vocab.crossJoin(broadcast(total))
        .select(col("t"),
          (-log(col("c").cast("double") / col("n_total"))).as("nll"))
      val perDoc = toks.join(broadcast(probs), "t")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          EngineNeutral.roundHalfUp(avg("nll"), 6).as("avg_nll"))
      val grid = for {
        mw <- Seq(0, 10, 20, 30)
        nm <- Seq(3.30, 3.35, 3.40, 3.45, 3.50)
      } yield org.apache.spark.sql.Row(mw, nm)
      val gridDf = s.createDataFrame(
        s.sparkContext.parallelize(grid, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("min_words",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("nll_max",
            org.apache.spark.sql.types.DoubleType, nullable = false))))
      val keep = col("n_words") >= col("min_words") &&
        col("avg_nll") <= col("nll_max")
      perDoc.crossJoin(broadcast(gridDf))
        .groupBy("min_words", "nll_max")
        .agg(
          sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
          sum(when(keep, col("n_words")).otherwise(0L)).as("tokens_kept"),
          count(lit(1)).as("n_total"),
          sum(col("n_words")).as("tokens_total"))
        .select(col("min_words"), col("nll_max"), col("n_kept"),
          col("tokens_kept"),
          EngineNeutral.r6(col("n_kept").cast("double") / col("n_total"))
            .as("doc_share"),
          EngineNeutral.r6(col("tokens_kept").cast("double") / col("tokens_total"))
            .as("token_share"))
        .orderBy("min_words", "nll_max")
    })
  )

  val oracles: Map[String, String] = Map(
    "q_dedup_segments" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks
        |  FROM documents
        |), segd AS (
        |  SELECT doc_id, [array_to_string(toks[(i-1)*8+1:(i-1)*8+8], ' ')
        |                  FOR i IN range(1, cast(ceil(len(toks)/8.0) AS INT) + 1)] AS segs
        |  FROM base
        |), ex AS (
        |  SELECT doc_id, unnest(segs) AS seg, unnest(range(1, len(segs)+1)) AS seg_idx
        |  FROM segd
        |), rn AS (
        |  SELECT doc_id,
        |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
        |  FROM ex
        |)
        |SELECT doc_id, count(*) AS n_segs,
        |  count(*) FILTER (WHERE rn = 1) AS n_kept
        |FROM rn GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_repetition" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks
        |  FROM documents
        |), stats AS (
        |  SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_distinct
        |  FROM base
        |), bg AS (
        |  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS b
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM base)
        |), top AS (
        |  SELECT doc_id, max(c) AS top_n FROM (
        |    SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b)
        |  GROUP BY doc_id
        |)
        |SELECT s.doc_id, s.n_tokens,
        |  floor((1.0 - n_distinct::DOUBLE / n_tokens) * 10000 + 0.5) / 10000.0 AS dup_token_frac,
        |  coalesce(top_n, 0) AS top_bigram_n,
        |  floor(coalesce(top_n, 0) * 2.0 / n_tokens * 10000 + 0.5) / 10000.0 AS top_bigram_frac
        |FROM stats s LEFT JOIN top USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS tok
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok
        |), dfreq AS (
        |  SELECT tok, count(*) AS df FROM tf GROUP BY tok
        |), nd AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, rank, tok, tfidf FROM (
        |  SELECT tf.doc_id, tf.tok,
        |    floor(tf.tf * ln(n_docs::DOUBLE / df) * 10000 + 0.5) / 10000.0 AS tfidf,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY floor(tf.tf * ln(n_docs::DOUBLE / df) * 10000 + 0.5) / 10000.0 DESC,
        |        tf.tok) AS rank
        |  FROM tf JOIN dfreq USING (tok), nd
        |  WHERE tf.doc_id < 50)
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "q_contamination" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 3
        |    THEN [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)]
        |    ELSE [array_to_string(toks, ' ')] END)) AS shingle
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks
        |        FROM documents)
        |)
        |SELECT c.doc_id, count(DISTINCT c.shingle) AS n_shared,
        |  count(DISTINCT b.doc_id) AS n_bench_docs
        |FROM sh c JOIN sh b ON c.shingle = b.shingle AND b.doc_id < 20
        |WHERE c.doc_id >= 20
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,
    "q_sample_stratified" ->
      """SELECT source, count(*) AS n_total,
        |  count(*) FILTER (WHERE substr(md5(text), 1, 1) IN ('0','1','2','3')) AS n_sampled,
        |  floor((count(*) FILTER (WHERE substr(md5(text), 1, 1) IN ('0','1','2','3')))::DOUBLE
        |    / count(*) * 10000 + 0.5) / 10000.0 AS rate
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_split_assign" ->
      """SELECT lang,
        |  CASE WHEN substr(md5(text), 1, 1) IN ('c','d') THEN 'val'
        |       WHEN substr(md5(text), 1, 1) IN ('e','f') THEN 'test'
        |       ELSE 'train' END AS split,
        |  count(*) AS n
        |FROM documents GROUP BY lang, split ORDER BY lang, split""".stripMargin,
    "q_pack" ->
      """WITH toks AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    len(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS n_tokens
        |  FROM documents
        |), cum AS (
        |  SELECT doc_id, shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS e
        |  FROM toks)
        |SELECT doc_id, shard,
        |  CAST((e - n_tokens) // 512 AS BIGINT) AS seq_id,
        |  CAST((e - n_tokens) % 512 AS BIGINT) AS seq_offset
        |FROM cum ORDER BY doc_id""".stripMargin,
    "q_chunk" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, unnest([{'chunk_id': i, 'chunk_text': array_to_string(toks[i*24+1:i*24+32], ' ')}
        |                         FOR i IN range(0, ((len(toks)-1)//24) + 1)]) AS u
        |  FROM t WHERE len(toks) > 0
        |)
        |SELECT doc_id, CAST(u.chunk_id AS BIGINT) AS chunk_id, u.chunk_text AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "q_curate_e2e" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS n_words,
        |    list_distinct(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, text, n_words,
        |    len(list_intersect(toks, ['the','and','of','to','is','in'])) AS s_en,
        |    len(list_intersect(toks, ['le','la','les','et','est','une'])) AS s_fr,
        |    len(list_intersect(toks, ['der','die','das','und','ist','ein'])) AS s_de,
        |    len(list_intersect(toks, ['el','los','las','y','es','una'])) AS s_es
        |  FROM t
        |), lang AS (
        |  SELECT doc_id, text, n_words,
        |    CASE WHEN greatest(s_en, s_fr, s_de, s_es) = 0 THEN 'unk'
        |         WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
        |         WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
        |         WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
        |         ELSE 'es' END AS lang_guess
        |  FROM s
        |), filt AS (
        |  SELECT * FROM lang WHERE n_words >= 10 AND lang_guess <> 'unk'
        |), keep AS (
        |  SELECT min(doc_id) AS doc_id FROM filt GROUP BY md5(text)
        |), keptd AS (
        |  SELECT doc_id, lang_guess, n_words,
        |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS tk
        |  FROM filt WHERE doc_id IN (SELECT doc_id FROM keep)
        |), sp AS (
        |  SELECT doc_id, lang_guess, n_words, unnest(list_distinct(
        |    [array_to_string(tk[i+1:i+8], ' ') FOR i IN range(0, len(tk) - 7)])) AS s
        |  FROM keptd
        |), nd AS (
        |  SELECT doc_id, lang_guess, n_words,
        |    count(*) OVER (PARTITION BY s) AS nd
        |  FROM sp
        |), frac AS (
        |  SELECT doc_id, any_value(lang_guess) AS lang_guess,
        |    any_value(n_words) AS n_words,
        |    count(CASE WHEN nd >= 2 THEN 1 END)::DOUBLE / count(*) AS dup_frac
        |  FROM nd GROUP BY doc_id
        |), lm0 AS (
        |  SELECT doc_id, unnest(tk) AS t FROM keptd
        |), v AS (SELECT t, count(*) AS c FROM lm0 GROUP BY t),
        |ntot AS (SELECT sum(c) AS n_total FROM v),
        |p AS (SELECT t, -ln(c::DOUBLE / n_total) AS nll FROM v, ntot),
        |doc_nll AS (
        |  SELECT doc_id,
        |    floor(avg(nll) * 1000000 + 0.5) / 1000000.0 AS avg_nll
        |  FROM lm0 JOIN p USING (t) GROUP BY doc_id
        |)
        |SELECT lang_guess, count(*) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS total_tokens
        |FROM frac JOIN doc_nll USING (doc_id)
        |WHERE dup_frac <= 0.5 AND avg_nll <= 3.41
        |GROUP BY lang_guess ORDER BY lang_guess""".stripMargin,
    "q_data_quality" ->
      """WITH n AS (SELECT count(*) AS n_rows FROM orders),
        |v AS (
        |  SELECT 'in_range(o_totalprice)' AS rule,
        |    count(*) FILTER (WHERE o_totalprice IS NOT NULL
        |      AND (o_totalprice < 0 OR o_totalprice > 200000)) AS violations
        |  FROM orders
        |  UNION ALL
        |  SELECT 'in_set(o_orderstatus)',
        |    count(*) FILTER (WHERE o_orderstatus IS NOT NULL
        |      AND o_orderstatus NOT IN ('F', 'O'))
        |  FROM orders
        |  UNION ALL
        |  SELECT 'not_null(o_custkey)', count(*) FILTER (WHERE o_custkey IS NULL)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'unique(o_orderkey)',
        |    count(o_orderkey) - count(DISTINCT o_orderkey) +
        |      greatest(count(*) FILTER (WHERE o_orderkey IS NULL) - 1, 0)
        |  FROM orders
        |)
        |SELECT rule, violations, n_rows, violations = 0 AS pass
        |FROM v, n ORDER BY rule""".stripMargin,
    "q_mix_upsample" ->
      """SELECT lang, copy_idx, count(*) AS n FROM (
        |  SELECT lang, unnest(generate_series(1,
        |    CASE WHEN lang = 'en' THEN 3 ELSE 1 END)) AS copy_idx
        |  FROM documents)
        |GROUP BY lang, copy_idx ORDER BY lang, copy_idx""".stripMargin,
    // temperature weights: both engines compute power(bigint, 0.3) on
    // the same exact token counts and the same left-associated
    // ratio chain; r6 floor-rounding absorbs pow/sum last-bit drift
    "q_mix_temperature" ->
      """WITH c AS (
        |  SELECT source, CAST(sum(
        |    len(list_filter(string_split(text, ' '), x -> length(x) > 0))
        |  ) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1
        |), z AS (
        |  SELECT sum(power(n_tokens, 0.3)) AS z,
        |    CAST(sum(n_tokens) AS BIGINT) AS n_all FROM c
        |)
        |SELECT source, n_tokens,
        |  floor(power(n_tokens, 0.3) / z * 1000000 + 0.5) / 1000000.0 AS weight,
        |  floor(power(n_tokens, 0.3) / z * n_all / n_tokens * 1000000 + 0.5)
        |    / 1000000.0 AS rel_epochs
        |FROM c CROSS JOIN z ORDER BY source""".stripMargin,
    "q_budget_cap" ->
      """SELECT source, count(*) AS n_kept, CAST(max(cum) AS BIGINT) AS chars_used FROM (
        |  SELECT source, sum(n_chars) OVER (PARTITION BY source
        |    ORDER BY md5(text), doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM documents)
        |WHERE cum <= 4000 GROUP BY source ORDER BY source""".stripMargin,
    "q_histogram" ->
      """SELECT (n_chars // 50) * 50 AS bucket, count(*) AS n,
        |  floor(count(*)::DOUBLE / (SELECT count(*) FROM documents) * 10000 + 0.5) / 10000.0 AS share
        |FROM documents GROUP BY bucket ORDER BY bucket""".stripMargin,
    // shares are ratios of exact integers; r6 mirrors EngineNeutral
    "q_threshold_sweep" ->
      """WITH docs AS (
        |  SELECT len(list_filter(string_split(text, ' '), t -> length(t) > 0))::BIGINT
        |    AS n_words
        |  FROM documents
        |), grid AS (SELECT (r * 10)::INT AS min_words FROM range(10) t(r))
        |SELECT min_words,
        |  sum(CASE WHEN n_words >= min_words THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |  sum(CASE WHEN n_words >= min_words THEN n_words ELSE 0 END)::BIGINT
        |    AS tokens_kept,
        |  floor(sum(CASE WHEN n_words >= min_words THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*) * 1000000 + 0.5) / 1000000.0 AS doc_share,
        |  floor(sum(CASE WHEN n_words >= min_words THEN n_words ELSE 0 END)::DOUBLE
        |    / sum(n_words) * 1000000 + 0.5) / 1000000.0 AS token_share
        |FROM docs CROSS JOIN grid
        |GROUP BY min_words ORDER BY min_words""".stripMargin,
    // first/last mirror Spark's min/max over struct(h, doc_id):
    // among min-h (max-h) holders, the min (max) doc_id — expressed
    // as correlated lookups since DuckDB's arg_min rejects ROW keys
    "q_export_shards" ->
      """WITH keyed AS (
        |  SELECT doc_id, n_chars,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 16
        |      AS shard
        |  FROM documents
        |), agg AS (
        |  SELECT shard, count(*) AS n_docs, sum(n_chars)::BIGINT AS n_chars,
        |    min(h) AS min_h, max(h) AS max_h
        |  FROM keyed GROUP BY 1
        |)
        |SELECT a.shard, a.n_docs, a.n_chars,
        |  (SELECT min(doc_id) FROM keyed k
        |   WHERE k.shard = a.shard AND k.h = a.min_h) AS first_doc,
        |  (SELECT max(doc_id) FROM keyed k
        |   WHERE k.shard = a.shard AND k.h = a.max_h) AS last_doc
        |FROM agg a ORDER BY a.shard""".stripMargin,
    // per-doc NLL is the q_lm_score shape; the grid's decimal literals
    // cast to DOUBLE so both engines compare the same r6-rounded value
    // to the same float64, and the 1/0 sums cast out of HUGEINT
    "q_nll_sweep" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        |    x -> length(x) > 0)) AS t
        |  FROM documents),
        |v AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
        |n AS (SELECT count(*) AS n_total FROM toks),
        |p AS (SELECT t, -ln(c::DOUBLE / n_total) AS nll FROM v, n),
        |doc AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_words,
        |    floor(avg(nll) * 1000000 + 0.5) / 1000000.0 AS avg_nll
        |  FROM toks JOIN p USING (t) GROUP BY doc_id),
        |grid AS (
        |  SELECT mw.min_words, CAST(nm.nll_max AS DOUBLE) AS nll_max
        |  FROM (VALUES (0),(10),(20),(30)) mw(min_words),
        |       (VALUES (3.30),(3.35),(3.40),(3.45),(3.50)) nm(nll_max))
        |SELECT g.min_words, g.nll_max,
        |  sum(CASE WHEN d.n_words >= g.min_words AND d.avg_nll <= g.nll_max
        |    THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |  sum(CASE WHEN d.n_words >= g.min_words AND d.avg_nll <= g.nll_max
        |    THEN d.n_words ELSE 0 END)::BIGINT AS tokens_kept,
        |  floor(sum(CASE WHEN d.n_words >= g.min_words AND d.avg_nll <= g.nll_max
        |    THEN 1 ELSE 0 END)::DOUBLE / count(*) * 1000000 + 0.5) / 1000000.0
        |    AS doc_share,
        |  floor(sum(CASE WHEN d.n_words >= g.min_words AND d.avg_nll <= g.nll_max
        |    THEN d.n_words ELSE 0 END)::DOUBLE / sum(d.n_words) * 1000000 + 0.5)
        |    / 1000000.0 AS token_share
        |FROM doc d CROSS JOIN grid g
        |GROUP BY g.min_words, g.nll_max
        |ORDER BY g.min_words, g.nll_max""".stripMargin
  )
}
