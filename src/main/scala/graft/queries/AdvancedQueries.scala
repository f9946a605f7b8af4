package graft.queries

import graft.Tables
import graft.functions.{Dedup, EngineNeutral}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fourth-wave operators (SURVEY.md §2 rows 70-83): classic TPC-H
  * shapes (Q10 top-k revenue, Q17 correlated-average, Q18 having-join,
  * Q22 anti-join + scalar subquery, Q4 exists, Q14 conditional share,
  * Q16 distinct-count + NOT IN, Q19 disjunctive predicates),
  * statistical anomaly detection, inverted-index construction, bigram
  * PMI co-occurrence, token distribution entropy, Markov event
  * transitions, and the bloom-prefiltered join.
  */
object AdvancedQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // 70. TPC-H Q10 shape: returned-item revenue, top 20 customers.
    //     lineitem⋈orders is the one real shuffle (both filtered at
    //     the scan first — date range and returnflag push down);
    //     customer and nation broadcast. The top-20 runs on the
    //     aggregated (per-customer) table, not the fact table.
    "q_tpch_q10" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1995-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1995-10-01").cast("timestamp"))
      Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(EngineNeutral.exactSum(
          col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // 71. TPC-H Q17 shape: correlated per-part average. The subquery
    //     decorrelates into one groupBy over the SAME pre-pruned
    //     lineitem slice (the part predicate is on part attributes
    //     only, so filtering first is equivalence-preserving): a
    //     broadcast semi-prune at the scan, one small agg, one join —
    //     never a per-row subquery execution.
    "q_tpch_q17" -> ((s, d) => {
      val pk = Tables.part(s, d)
        .filter(col("p_brand") === "Brand#4" && col("p_size") <= 10)
        .select("p_partkey")
      val li = Tables.lineitem(s, d)
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
        .select("l_partkey", "l_quantity", "l_extendedprice")
      val th = li.groupBy("l_partkey")
        .agg((avg("l_quantity") * 0.2).as("thresh"))
      li.join(th, "l_partkey")
        .filter(col("l_quantity") < col("thresh"))
        .agg(EngineNeutral.r2(
          EngineNeutral.exactSum(col("l_extendedprice"), 2) / lit(7.0))
          .as("avg_yearly"))
    }),

    // 72. TPC-H Q18 shape: large-volume orders. The HAVING runs as a
    //     map-side-combined agg over lineitem BEFORE any join — the
    //     qualifying set (~0.3% of orders) is what joins orders and
    //     broadcast customer, so join input shrinks by the filter's
    //     selectivity. l_quantity is integral, so the >300 boundary
    //     cannot be split by summation order.
    "q_tpch_q18" -> ((s, d) => {
      val tq = Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(sum("l_quantity").as("tq"))
        .filter(col("tq") > 300)
      tq.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_totalprice"), round(col("tq"), 2).as("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // 73. TPC-H Q22 shape: above-average balances with no completed
    //     orders. The global average is a 1-row broadcast scalar
    //     (ScaleGuard-exempt cross join); the NOT EXISTS is a
    //     left-anti hash join on custkey — never a per-row subquery.
    "q_tpch_q22" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val avgBal = c.filter(col("c_acctbal") > 0)
        .agg(avg("c_acctbal").as("avg_bal"))
      val fcust = Tables.orders(s, d)
        .filter(col("o_orderstatus") === "F").select("o_custkey")
      c.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(fcust, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          EngineNeutral.exactSum(col("c_acctbal"), 2).as("total_bal"))
        .orderBy("c_mktsegment")
    }),

    // 74. Statistical anomaly detection: events more than 3 sample
    //     standard deviations from their type's mean. Stats are one
    //     map-side-combined agg (5 rows) broadcast back over the
    //     stream — two scans, zero fact-table shuffles; at 100 TB the
    //     stats pass and the flag pass both stay partition-local.
    "q_anomaly" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val stats = ev.groupBy("event_type")
        .agg(avg("value").as("mu"), stddev_samp("value").as("sd"))
      ev.join(broadcast(stats), "event_type")
        .filter(abs(col("value") - col("mu")) > lit(3.0) * col("sd"))
        .select(col("event_id"), col("event_type"), col("value"),
          EngineNeutral.r4((col("value") - col("mu")) / col("sd")).as("z"))
        .orderBy("event_id")
    }),

    // 75. Inverted index: token → document frequency + posting list.
    //     Postings are BOUNDED: the native TopKPerKey operator keeps
    //     the 20 smallest doc ids per token (≤k rows per token per map
    //     partition shuffle), so no unbounded collect_list ever forms —
    //     the classic OOM of naive index builds. df counts are a
    //     separate map-side-combined agg on (token, doc) pairs.
    "q_inverted_index" -> ((s, d) => {
      val pairs = Tables.documents(s, d)
        .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("tok"))
        .distinct()
      val dfc = pairs.groupBy("tok")
        .agg(count(lit(1)).as("df"))
        .filter(col("df") >= 5)
      val top = graft.plans.TopKPerKey.topK(pairs, Seq("tok"),
        Seq("doc_id" -> false), k = 20)
      val postings = top.groupBy("tok")
        .agg(array_join(transform(sort_array(collect_list(col("doc_id"))),
          _.cast("string")), ",").as("postings"))
      // both sides are vocabulary-scale explode descendants — merge
      // keeps either from riding a tiny-SF size estimate into a
      // broadcast build; they share hashpartitioning(tok) anyway
      dfc.join(postings.hint("merge"), "tok")
        .select("tok", "df", "postings")
        .orderBy("tok")
    }),

    // 76. Bigram co-occurrence with PMI. Bigrams come from a
    //     partition-local zip of each token array with its own tail —
    //     no window, no shuffle to form pairs; then three
    //     map-side-combined aggs (pair, left-unigram, right-unigram)
    //     and hash joins back. PMI against position-conditional
    //     unigram rates: ln(n_ab·N / (n_a·n_b)).
    "q_cooccur" -> ((s, d) => {
      val ts = Dedup.tokens(col("text"))
      val pairs = Tables.documents(s, d)
        .select(ts.as("ts"))
        .filter(size(col("ts")) >= 2)
        .select(explode(zip_with(
          slice(col("ts"), lit(1), size(col("ts")) - 1),
          slice(col("ts"), lit(2), size(col("ts")) - 1),
          (x, y) => struct(x.as("a"), y.as("b")))).as("pr"))
        .select(col("pr.a").as("a"), col("pr.b").as("b"))
      val ab = pairs.groupBy("a", "b").agg(count(lit(1)).as("n"))
      val na = pairs.groupBy("a").agg(count(lit(1)).as("n_a"))
      val nb = pairs.groupBy("b").agg(count(lit(1)).as("n_b"))
      val tot = pairs.agg(count(lit(1)).as("n_total"))
      // the unigram tables are vocabulary-scale (explode-derived and
      // corpus-unbounded): merge-hinted so tiny-SF stats never ride
      // them into a broadcast build (the q_linkage sf10 lesson)
      ab.join(na.hint("merge"), "a").join(nb.hint("merge"), "b")
        .crossJoin(broadcast(tot))
        .select(col("a"), col("b"), col("n"),
          EngineNeutral.r4(log(
            (col("n").cast("double") * col("n_total").cast("double")) /
              (col("n_a").cast("double") * col("n_b").cast("double")))).as("pmi"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(50)
    }),

    // 77. Token-distribution entropy per source: H = log2(N) −
    //     Σ c·log2(c) / N over per-source token counts — one exploded
    //     (source, token) agg then a per-source fold, both
    //     partial→final; nothing driver-side, shuffle carries one
    //     count per distinct (source, token).
    "q_entropy" -> ((s, d) => {
      val cnt = Tables.documents(s, d)
        .select(col("source"), explode(Dedup.tokens(col("text"))).as("tok"))
        .groupBy("source", "tok")
        .agg(count(lit(1)).as("c"))
      cnt.groupBy("source")
        .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_distinct"),
          sum(col("c").cast("double") * log2(col("c").cast("double"))).as("sclc"))
        .select(col("source"), col("n_tokens"), col("n_distinct"),
          EngineNeutral.r4(log2(col("n_tokens").cast("double")) -
            col("sclc") / col("n_tokens").cast("double")).as("entropy"))
        .orderBy("source")
    }),

    // 78. Markov transition matrix over event streams: per-user
    //     previous-event via lag (one user-partitioned window — the
    //     only shuffle proportional to events), then transition counts
    //     and per-source-state probabilities over the tiny
    //     (types × types) table.
    "q_markov" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val tr = Tables.events(s, d)
        .select(col("user_id"), col("event_type").as("next_type"),
          col("ts"), col("event_id"))
        .withColumn("prev_type", lag("next_type", 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy("prev_type", "next_type")
        .agg(count(lit(1)).as("n"))
      val wp = Window.partitionBy("prev_type")
      tr.withColumn("p", EngineNeutral.r4(
          col("n").cast("double") / sum("n").over(wp).cast("double")))
        .orderBy("prev_type", "next_type")
    }),

    // 80. TPC-H Q4 shape: order-priority checking — orders with at
    //     least one lineitem shipped > 30 days after the order date.
    //     The EXISTS is a left-semi hash join on orderkey; the date
    //     comparison is its residual, evaluated inside the join, so
    //     nothing materializes per matching pair.
    "q_tpch_q4" -> ((s, d) => {
      val late = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
      Tables.orders(s, d).as("o")
        .join(late.as("l"),
          col("l.l_orderkey") === col("o.o_orderkey") &&
            col("l.l_shipdate") > col("o.o_orderdate") + expr("INTERVAL 30 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // 81. TPC-H Q14 shape: promo revenue share in one ship month —
    //     a conditional aggregate over a broadcast part join; the
    //     ship-date range pushes to the lineitem scan.
    "q_tpch_q14" -> ((s, d) => {
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .agg(EngineNeutral.r4(
          (lit(100.0) * sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0)))) /
            sum(rev)).as("promo_share"))
    }),

    // 82. TPC-H Q16 shape: distinct supplier counts per part attribute,
    //     excluding suppliers in bad standing (NOT IN ≡ left-anti
    //     against a broadcast-tiny exclusion set). countDistinct is a
    //     two-phase agg — dedup on (brand, type, suppkey) first, then
    //     count — both map-side combined.
    "q_tpch_q16" -> ((s, d) => {
      val excluded = Tables.supplier(s, d)
        .filter(col("s_acctbal") < 0).select("s_suppkey")
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).filter(col("p_size") <= 10)),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type")
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"))
        .limit(20)
    }),

    // 83. TPC-H Q19 shape: disjunctive brand/size/quantity predicates —
    //     the OR-of-ANDs evaluates as the broadcast join's residual;
    //     each arm's part attributes come from the build side, so the
    //     fact scan reads only the three columns it needs.
    "q_tpch_q19" -> ((s, d) => {
      val arm1 = col("p_brand") === "Brand#1" &&
        col("p_size").between(1, 10) && col("l_quantity") >= 10
      val arm2 = col("p_brand") === "Brand#2" &&
        col("p_size").between(11, 20) && col("l_quantity") >= 20
      val arm3 = col("p_brand") === "Brand#3" &&
        col("p_size").between(21, 30) && col("l_quantity") >= 30
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .filter(arm1 || arm2 || arm3)
        .agg(count(lit(1)).as("n"),
          EngineNeutral.exactSum(
            col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("revenue"))
    }),

    // 85. Z-order (Morton) interleave as a gated expression: the
    //     layout-clustering key (operators.Layout / plans.ZOrderCode)
    //     cross-checked against DuckDB computing the same 5-step
    //     bit-spread in pure integer SQL — bitwise ops are exact, so
    //     this hash-matches with no rounding caveats at all.
    //     `& 4095` (not `% 4096`) on BOTH sides: bitwise AND has the
    //     same two's-complement semantics in both engines even for
    //     negative ids, where % would give each engine's signed
    //     remainder feeding sign-sensitive bit spreads.
    "q_zorder" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          graft.plans.ZOrderCode.z_order(
            col("user_id").bitwiseAND(lit(4095L)),
            col("event_id").bitwiseAND(lit(4095L))).as("z"))
        .orderBy(col("z").desc, col("event_id"))
        .limit(20)),

    // 84. PageRank over the shared-shingle similarity graph (same edge
    //     rule as q_dedup_clusters): 5 power iterations of the
    //     simplified no-dangling-redistribution recurrence, which an
    //     unrolled 5-step SQL oracle reproduces bit-for-bit (the
    //     (1.0 − 0.85) base is computed, not a 0.15 literal, so both
    //     engines divide the SAME double by N). Ranks the most
    //     central documents of the near-dup graph — the
    //     canonical-representative signal CC's min-id cannot give.
    //     Every call rebuilds the ranks (no memo across calls, so a
    //     timed call times the whole iteration); PageRank.run registers
    //     its persisted result with CacheHandles, which the per-query
    //     drivers release after each query.
    "q_pagerank" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val edges = Dedup.sharedShingleEdges(docs, "doc_id", "text",
        shingleK = 3, minShared = 5, minDf = 2, maxDf = 20)
        .select("id_a", "id_b")
      val pr = graft.operators.PageRank.run(
        docs.select(col("doc_id").as("id")), edges, iters = 5)
      pr.select(col("id"),
          EngineNeutral.roundHalfUp(col("r"), 6).as("rank_r6"))
        .orderBy(col("rank_r6").desc, col("id"))
        .limit(50)
    }),

    // 79. Bloom-prefiltered join (operators.BloomJoin): dim keys →
    //     bloom → codegen'd scan-stage prune of the fact side → exact
    //     join. Result is row-identical to the plain join (no false
    //     negatives; false positives die in the join), which is
    //     exactly what the oracle checks.
    "q_bloom_join" -> ((s, d) => {
      val pk = Tables.part(s, d)
        .filter(col("p_size") === 15)
        .select("p_partkey", "p_brand")
      val li = Tables.lineitem(s, d).select("l_partkey", "l_extendedprice")
      // AutoSize (round 15): the fixed expectedItems=4096 this query
      // shipped with saturated at the sf10 sweep (20k keys → fpp ≈ 1 →
      // 342× shuffle growth across the decade); sizing from the actual
      // filtered-dim count keeps the pruning rate SF-invariant
      graft.operators.BloomJoin
        .innerJoin(Tables.spread(li), "l_partkey", pk, "p_partkey",
          fpp = 0.01)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          EngineNeutral.exactSum(col("l_extendedprice"), 2).as("revenue"))
        .orderBy("p_brand")
    }))

  val oracles: Map[String, String] = Map(
    "q_tpch_q10" ->
      """SELECT c_custkey, c_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  c_acctbal, n_name
        |FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1995-07-01'
        |  AND o_orderdate < TIMESTAMP '1995-10-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q_tpch_q17" ->
      """WITH pk AS (
        |  SELECT p_partkey FROM part WHERE p_brand = 'Brand#4' AND p_size <= 10),
        |li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN pk ON l_partkey = p_partkey),
        |th AS (
        |  SELECT l_partkey, avg(l_quantity) * 0.2 AS thresh FROM li GROUP BY 1)
        |SELECT floor((CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0) * 100 + 0.5) / 100.0 AS avg_yearly
        |FROM li JOIN th USING (l_partkey) WHERE l_quantity < thresh""".stripMargin,
    "q_tpch_q18" ->
      """WITH tq AS (
        |  SELECT l_orderkey, sum(l_quantity) AS tq FROM lineitem
        |  GROUP BY 1 HAVING sum(l_quantity) > 300)
        |SELECT c_custkey, c_name, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  o_totalprice, round(tq, 2) AS total_qty
        |FROM tq JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q_tpch_q22" ->
      """WITH a AS (
        |  SELECT avg(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0)
        |SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer c, a
        |WHERE c.c_acctbal > a.avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_anomaly" ->
      """WITH s AS (
        |  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
        |  FROM events GROUP BY event_type)
        |SELECT event_id, event_type, value,
        |  floor(((value - mu) / sd) * 10000 + 0.5) / 10000.0 AS z
        |FROM events JOIN s USING (event_type)
        |WHERE abs(value - mu) > 3.0 * sd
        |ORDER BY event_id""".stripMargin,
    "q_inverted_index" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS tok
        |  FROM documents),
        |dfreq AS (
        |  SELECT tok, count(*) AS df FROM tok GROUP BY tok HAVING count(*) >= 5),
        |top AS (
        |  SELECT tok, doc_id,
        |    row_number() OVER (PARTITION BY tok ORDER BY doc_id) AS rn
        |  FROM tok)
        |SELECT d.tok, d.df,
        |  string_agg(t.doc_id, ',' ORDER BY t.doc_id) AS postings
        |FROM dfreq d JOIN top t ON d.tok = t.tok
        |WHERE t.rn <= 20
        |GROUP BY d.tok, d.df ORDER BY d.tok""".stripMargin,
    "q_cooccur" ->
      """WITH t AS (
        |  SELECT list_filter(string_split(text, ' '), x -> length(x) > 0) AS ts
        |  FROM documents),
        |p AS (
        |  SELECT unnest(list_zip(ts[1:len(ts)-1], ts[2:len(ts)])) AS pr
        |  FROM t WHERE len(ts) >= 2),
        |pairs AS (SELECT pr[1] AS a, pr[2] AS b FROM p),
        |ab AS (SELECT a, b, count(*) AS n FROM pairs GROUP BY a, b),
        |na AS (SELECT a, count(*) AS n_a FROM pairs GROUP BY a),
        |nb AS (SELECT b, count(*) AS n_b FROM pairs GROUP BY b),
        |tot AS (SELECT count(*) AS n_total FROM pairs)
        |SELECT ab.a, ab.b, ab.n,
        |  floor(ln((CAST(ab.n AS DOUBLE) * CAST(n_total AS DOUBLE)) /
        |    (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) * 10000 + 0.5) / 10000.0 AS pmi
        |FROM ab JOIN na USING (a) JOIN nb USING (b) CROSS JOIN tot
        |ORDER BY ab.n DESC, ab.a, ab.b LIMIT 50""".stripMargin,
    "q_entropy" ->
      """WITH tok AS (
        |  SELECT source,
        |    unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS tok
        |  FROM documents),
        |cnt AS (SELECT source, tok, count(*) AS c FROM tok GROUP BY source, tok)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  count(*) AS n_distinct,
        |  floor((log2(CAST(sum(c) AS DOUBLE)) -
        |    sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) / CAST(sum(c) AS DOUBLE))
        |    * 10000 + 0.5) / 10000.0 AS entropy
        |FROM cnt GROUP BY source ORDER BY source""".stripMargin,
    "q_markov" ->
      """WITH o AS (
        |  SELECT event_type AS next_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |tr AS (
        |  SELECT prev_type, next_type, count(*) AS n FROM o
        |  WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type)
        |SELECT prev_type, next_type, n,
        |  floor((CAST(n AS DOUBLE) /
        |    CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE)) * 10000 + 0.5)
        |    / 10000.0 AS p
        |FROM tr ORDER BY prev_type, next_type""".stripMargin,
    "q_zorder" ->
      """WITH base AS (
        |  SELECT event_id, CAST(user_id & 4095 AS BIGINT) AS x,
        |    CAST(event_id & 4095 AS BIGINT) AS y FROM events),
        |s1 AS (SELECT event_id, (x | (x << 16)) & 281470681808895 AS x,
        |  (y | (y << 16)) & 281470681808895 AS y FROM base),
        |s2 AS (SELECT event_id, (x | (x << 8)) & 71777214294589695 AS x,
        |  (y | (y << 8)) & 71777214294589695 AS y FROM s1),
        |s3 AS (SELECT event_id, (x | (x << 4)) & 1085102592571150095 AS x,
        |  (y | (y << 4)) & 1085102592571150095 AS y FROM s2),
        |s4 AS (SELECT event_id, (x | (x << 2)) & 3689348814741910323 AS x,
        |  (y | (y << 2)) & 3689348814741910323 AS y FROM s3),
        |s5 AS (SELECT event_id, (x | (x << 1)) & 6148914691236517205 AS x,
        |  (y | (y << 1)) & 6148914691236517205 AS y FROM s4)
        |SELECT event_id, x | (y << 1) AS z FROM s5
        |ORDER BY z DESC, event_id LIMIT 20""".stripMargin,
    "q_pagerank" -> {
      // one unrolled power-iteration step (rK from rPrev); the edge
      // CTEs mirror q_dedup_clusters' oracle exactly
      def step(k: Int): String = {
        val prev = if (k == 1) "r0" else s"r${k - 1}"
        s"""r$k AS (
           |  SELECT v.id, (1.0 - 0.85) / nn.n + 0.85 * coalesce(c.c, 0.0) AS r
           |  FROM (SELECT doc_id AS id FROM documents) v CROSS JOIN nn
           |  LEFT JOIN (
           |    SELECT s.dst AS id, sum(p.r / d.deg) AS c
           |    FROM sym s JOIN deg d ON d.src = s.src JOIN $prev p ON p.id = s.src
           |    GROUP BY s.dst) c ON c.id = v.id)""".stripMargin
      }
      s"""WITH sh AS (
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
         |), deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src
         |), nn AS (SELECT count(*) AS n FROM documents
         |), r0 AS (SELECT doc_id AS id, 1.0 / nn.n AS r FROM documents, nn
         |), ${(1 to 5).map(step).mkString(", ")}
         |SELECT id, floor(r * 1000000 + 0.5) / 1000000.0 AS rank_r6
         |FROM r5 ORDER BY rank_r6 DESC, id LIMIT 50""".stripMargin
    },
    "q_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |    AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_tpch_q14" ->
      """SELECT floor(((100.0 * sum(CASE WHEN p_type = 'PROMO'
        |    THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)) /
        |  sum(l_extendedprice * (1 - l_discount))) * 10000 + 0.5) / 10000.0
        |  AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin,
    "q_tpch_q16" ->
      """SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 10
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type
        |ORDER BY supplier_cnt DESC, p_brand, p_type LIMIT 20""".stripMargin,
    "q_tpch_q19" ->
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity >= 10)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 20 AND l_quantity >= 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 21 AND 30 AND l_quantity >= 30)""".stripMargin,
    "q_bloom_join" ->
      """SELECT p_brand, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size = 15
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)
}
