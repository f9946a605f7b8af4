package graft.examples

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-factor multiplier for the driver's synthetic star schema:
  * reads `srcDir` (e.g. sf0.1) and writes `dstDir` at `factor`× the
  * rows — the 10× checkpoint the wall-clock bench needs to see
  * scale regressions that sf0.1 cannot (VERDICT r7 ask #2).
  *
  * Method: `factor` disjoint key-shards. Copy 0 is the source
  * verbatim; copy c offsets every key by c × (max+1) of its table, so
  * referential integrity, per-key cardinalities, join fan-outs, and
  * group sizes all scale the way genuinely bigger data would (more
  * keys, same distribution per key) rather than inflating each key's
  * payload 10×. Two columns get per-copy perturbation because copies
  * must not be CONTENT-identical:
  *
  *  - `documents.text`: copy c > 0 suffixes every word with the copy
  *    number ("table" → "table3") — fresh data brings fresh
  *    vocabulary, so each copy's token/shingle/minhash distributions
  *    MIRROR the original's (same word order, same per-copy df
  *    histogram, shingle space disjoint across copies) and dedup
  *    candidate volume scales exactly linearly, the way 10× genuine
  *    documents would. Rewriting within the ORIGINAL vocabulary
  *    cannot achieve this on this corpus, measured both ways: the
  *    closed ~50-word vocab means a per-copy word sort glues
  *    shared-vocab documents into near-dups (5.6e9 over-cap
  *    candidate pairs at sf1), and a per-doc random position
  *    permutation makes every triple corpus-common (expected df
  *    ≈ n_docs·L/|vocab|³ ≈ 130 — boilerplate soup, 1.2e8 over-cap
  *    pairs).
  *  - `customer.c_name` / `supplier.s_name`: regenerated from the
  *    sharded key (TPC-H derives names from keys), so copies don't
  *    carry 10 verbatim duplicates of every name — which would both
  *    explode linkage output quadratically (675k dist-0 pairs at
  *    sf1) and merge per-name aggregation groups.
  *  - `embeddings.embedding`: components cyclically rotated by copy —
  *    norms and coordinate distributions preserved, cross-copy cosine
  *    decorrelated, so ANN/near-dup pair counts scale linearly.
  *
  * Dimension-free tables (region, nation) copy verbatim — nation
  * count is fixed in TPC-H scaling too.
  */
object ScaleUp {

  /** Eight tokens — one full SpanK span / segment, same constant the
    * sf0.01 behavioral gate (SkewedSpanSpec) plants: the license-header
    * boilerplate whose corpus-wide document frequency is the span
    * family's worst case.
    */
  val Boiler = "all rights reserved see license file for terms"

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/root/repo/tmp/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    // skew mode (VERDICT r9 ask #5): plant Boiler at the end of
    // skewPct% of documents (deterministic by doc-id hash) and make
    // source sizes Zipfian (source rank r gets ∝ 1/r of the corpus)
    // — the generator's near-uniform span df / source sizes are
    // exactly why the window-skew family was never caught by the
    // growth pins; this produces the corpus shape those operators
    // exist for, at any SF the record runs at.
    val skewPct = if (args.length > 3) args(3).toInt else 0
    val spark = graft.Sessions.builder(
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-scale-up")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // events.ts layout varies by generator round (TIMESTAMP(NANOS) or
    // TIMESTAMP(MICROS) NTZ). Read nanos as raw longs when present and
    // copy whatever arrives verbatim — Tables.events branches on the
    // inferred type, so the scaled copy reads back identically.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def tbl(n: String): DataFrame = spark.read.parquet(s"$src/$n.parquet")
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head.getLong(0) + 1
    val copies = broadcast(
      spark.range(factor).select(col("id").as("_c")))

    /** factor× rows: key columns offset per copy by their table base. */
    def shard(df: DataFrame, offsets: Map[String, Long]): DataFrame = {
      val out = df.crossJoin(copies)
      offsets.foldLeft(out) { case (d, (c, base)) =>
        d.withColumn(c, col(c) + col("_c") * base)
      }.drop("_c")
    }

    val bo = maxOf(tbl("orders"), "o_orderkey")
    val bc = maxOf(tbl("customer"), "c_custkey")
    val bs = maxOf(tbl("supplier"), "s_suppkey")
    val bp = maxOf(tbl("part"), "p_partkey")
    val be = maxOf(tbl("events"), "event_id")
    val bu = maxOf(tbl("events"), "user_id")
    val bd = maxOf(tbl("documents"), "doc_id")
    val bv = maxOf(tbl("embeddings"), "vec_id")

    def write(df: DataFrame, n: String, tiny: Boolean = false): Unit = {
      // ≥32 files per scaled table (VERDICT r17 #4): the crossJoin
      // shard inherits the SOURCE's partition count, so tmp/sf1
      // lineitem landed as 2 files and every decade wall number
      // measured scan-parallelism-capped layout, not the plan. A
      // round-robin repartition costs one shuffle at build time and
      // buys honest parallelism for every run after. Fixed-size dims
      // (region/nation) stay single-file — 32 near-empty parquet
      // files of a 5-row table is footer overhead, not parallelism.
      val out = if (tiny) df
        else df.repartition(math.max(32, df.rdd.getNumPartitions))
      out.write.mode("overwrite").parquet(s"$dst/$n.parquet")
      println(s"[scaleup] $n: ${spark.read.parquet(s"$dst/$n.parquet").count()} rows")
    }

    write(tbl("region"), "region", tiny = true)
    write(tbl("nation"), "nation", tiny = true)
    write(shard(tbl("customer"), Map("c_custkey" -> bc))
      .withColumn("c_name", format_string("Customer#%09d", col("c_custkey"))), "customer")
    write(shard(tbl("supplier"), Map("s_suppkey" -> bs))
      .withColumn("s_name", format_string("Supplier#%09d", col("s_suppkey"))), "supplier")
    write(shard(tbl("part"), Map("p_partkey" -> bp)), "part")
    write(shard(tbl("orders"), Map("o_orderkey" -> bo, "o_custkey" -> bc)), "orders")
    write(shard(tbl("lineitem"),
      Map("l_orderkey" -> bo, "l_partkey" -> bp, "l_suppkey" -> bs)), "lineitem")
    write(shard(tbl("events"), Map("event_id" -> be, "user_id" -> bu)), "events")

    // documents: keys sharded + per-copy vocabulary tagging
    // (copy 0 byte-identical to the source)
    val docs = shard(tbl("documents"), Map("doc_id" -> bd))
      .withColumn("_copy", (col("doc_id") / lit(bd)).cast("long"))
    val permuted = docs.withColumn("text",
        when(col("_copy") === 0, col("text")).otherwise(
          array_join(transform(split(col("text"), " "),
            w => concat(w, col("_copy"))), " ")))
      .withColumn("n_chars",
        when(col("_copy") === 0, col("n_chars"))
          .otherwise(length(col("text")).cast("long")))
      .drop("_copy")
    val skewed =
      if (skewPct <= 0) permuted
      else {
        // Zipfian source sizes: source of rank r (1-based, over the
        // corpus's own source list) takes a 1/r-proportional share,
        // assigned by inverse-CDF over a deterministic per-doc uniform
        // draw. One license-header span + a few mega-sources is the
        // boilerplate-heavy shape the span/dedup family must survive.
        val sources = permuted.select("source").distinct()
          .collect().map(_.getString(0)).sorted
        val weights = sources.indices.map(r => 1.0 / (r + 1))
        val total = weights.sum
        val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / total)
        val u = pmod(xxhash64(col("doc_id"), lit("zipf")), lit(1000000L))
          .cast("double") / 1000000.0
        val zipfSource = sources.indices.foldRight(lit(sources.last): Column) {
          (r, rest) => when(u < cdf(r), lit(sources(r))).otherwise(rest)
        }
        permuted
          .withColumn("source", zipfSource)
          .withColumn("text",
            when(pmod(xxhash64(col("doc_id")), lit(100)) < skewPct,
              concat(col("text"), lit(" " + Boiler))).otherwise(col("text")))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
    write(skewed, "documents")

    // embeddings: keys sharded + per-copy cyclic component rotation
    val dim = tbl("embeddings").select(size(col("embedding"))).head.getInt(0)
    val emb = shard(tbl("embeddings"), Map("vec_id" -> bv))
      .withColumn("_copy", (col("vec_id") / lit(bv)).cast("int"))
    val rotated = emb.withColumn("embedding",
        when(col("_copy") === 0, col("embedding")).otherwise(
          concat(slice(col("embedding"), col("_copy") + 1, lit(dim) - col("_copy")),
            slice(col("embedding"), lit(1), col("_copy")))))
      .drop("_copy")
    write(rotated, "embeddings")

    spark.stop()
  }
}
