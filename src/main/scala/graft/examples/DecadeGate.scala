package graft.examples

import org.apache.spark.sql.SparkSession

/** The sf1→sf10 decade gate, promoted from a hand-run ritual to ONE
  * COMMAND with failing assertions:
  *
  *   SPARK_DRIVER_MEM=48g sbt "runMain graft.examples.DecadeGate"
  *
  * Runs the pinned top-shuffle queries once at sf1 and once at sf10
  * (building either dir via [[ScaleUp]] if missing), prints the
  * shuffle-ratio table PERF.md records (also written to
  * `tmp/DECADE_GATE.md`), and EXITS NONZERO when any query's
  * sf1→sf10 shuffle ratio exceeds its pinned ceiling — the sf10
  * sibling of ScaleGrowthSpec's 0.01→0.1 pins.
  *
  * Why shuffle ratio and not wall: a single box absorbing two decades
  * above the gate SF is memory-pressured by design (wall ratios track
  * the spill cliff, not the plan), while shuffle bytes are the
  * plan-shape signal — the round-15 sweep caught BOTH its real bugs
  * this way (q_linkage's stats-broadcast driver collect died outright;
  * q_bloom_join's saturated fixed-capacity sketch showed as a 342×
  * ratio). A ~linear ratio two decades above the correctness gates is
  * the evidence that a plan would survive the next 10× too.
  *
  * The pinned set is the inventory's top in-job shuffle movers (the
  * indexed serves are excluded: their iter-1 shuffle is the one-time
  * index BUILD, bench-attributed, not a per-run cost) plus
  * q_bloom_join, whose fixed-capacity saturation is exactly the bug
  * class this gate exists to catch. Ceilings are ≤12×: 10× data with
  * AQE/broadcast-threshold slack; anything above is superlinear plan
  * drift to fix, not re-pin.
  */
object DecadeGate {

  /** query → max allowed sf1→sf10 shuffle-write ratio. */
  val Pins: Seq[(String, Double)] = Seq(
    "q_simjoin" -> 12.0,
    "q_linkage" -> 12.0, // output-relative — see OutputRelative

    "q_span_dedup" -> 12.0,
    "q_cond_entropy" -> 12.0,
    "q_bigram_lm" -> 12.0,
    "q_two_hop" -> 12.0,
    "q_containment" -> 12.0,
    "q_ngram_jaccard" -> 12.0,
    "q_pagerank" -> 12.0,
    "q_dedup_clusters" -> 12.0,
    "q_weighted_median" -> 12.0,
    "q_bloom_join" -> 12.0,

    // round-18 band (VERDICT r17 #2): the wave-17/18 arrivals and the
    // md5-rebuilt signature paths, whose sf10 behavior the r15 sweep
    // predates. The md5 double-hash rebuild doubled per-shingle CPU
    // (watch the WALL column for the cliff — the shuffle pin can't
    // see CPU); rfm watches GlobalNtile's boundary-collect growth;
    // the sweep/shard/PCA plans should be near-FLAT in shuffle
    // (map-side collapse to ≤grid rows / one row per partition), so
    // a linear-band ratio here would itself be news — the max(1 MB)
    // denominator keeps those pins from tripping on sub-MB noise.
    "q_dedup_minhash" -> 12.0,
    "q_dedup_simhash" -> 12.0,
    "q_hll_union" -> 12.0,
    "q_rfm" -> 12.0,
    "q_threshold_sweep" -> 12.0,
    "q_export_shards" -> 12.0,
    "q_embed_pca" -> 12.0,
    "q_nll_sweep" -> 12.0,

    // wave-18b band: the sweep re-bands the signature table 3× (its
    // shuffle should track the signature path ~linearly), the
    // calibration adds a candidate-bounded exact-jaccard verify, and
    // the size distribution rides q_dedup_clusters' machinery plus a
    // cluster-count-sized rollup. q_dedup_simhash_inc is an indexed
    // serve (excluded by the same rule as q_dedup_minhash_inc: its
    // one-shot measure would attribute the one-time index build).
    "q_lsh_band_sweep" -> 12.0,
    "q_minhash_calibration" -> 12.0,
    "q_cluster_size_dist" -> 12.0
  )

  /** Queries whose RESULT SET is itself superlinear in the corpus on
    * this synthetic data, so a raw shuffle-ratio pin would flag the
    * data, not the plan. The gate's own first run caught q_linkage at
    * 17.3× — investigation showed the verified pair count growing
    * 34.3× (1 076 223 → 36 904 375): ScaleUp regenerates sequential
    * `Customer#%09d` names, and a 10× denser digit space means more
    * TRUE edit-distance-≤2 pairs PER NAME (measured 919 → 1 359
    * avg matches/name). Shuffle per output pair actually HALVED
    * (17.3×/34.3× = 0.50). For these queries the gate measures output
    * rows at both SFs (via count — same computation, same shuffle)
    * and pins shuffle-ratio ≤ output-ratio × [[OutputSlack]]: the
    * per-unit-of-true-work plan shape, which a future plan regression
    * still fails while data-intrinsic density passes.
    */
  val OutputRelative: Set[String] = Set("q_linkage")

  /** Headroom over perfectly output-proportional shuffle for
    * [[OutputRelative]] pins (candidate keys, block metadata).
    */
  val OutputSlack: Double = 1.5

  private case class Meas(sec: Double, shuffleMb: Double, rows: Long)

  private def measure(spark: SparkSession, name: String, sfDir: String,
                      countRows: Boolean): Meas = {
    val l = new graft.Bench.TaskTotals
    spark.sparkContext.addSparkListener(l)
    val t0 = System.nanoTime()
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    val rows =
      if (countRows) df.count()
      else { df.write.mode("overwrite").format("noop").save(); -1L }
    val dt = (System.nanoTime() - t0) / 1e9
    org.apache.spark.sql.graftbridge.Bridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(l)
    try { graft.plans.CacheHandles.releaseAll(); () }
    catch { case _: Throwable => () }
    Meas(dt, l.shuffleWrite.get / 1048576.0, rows)
  }

  private def exists(dir: String): Boolean =
    new java.io.File(s"$dir/documents.parquet").exists()

  def main(args: Array[String]): Unit = {
    val sf1 = if (args.length > 0) args(0) else "/root/repo/tmp/sf1"
    val sf10 = if (args.length > 1) args(1) else "/root/repo/tmp/sf10"
    val heapGb = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
    if (heapGb < 40)
      System.err.println(f"[decade-gate] driver heap is $heapGb%.0f GiB — " +
        "sf10 heavyweights need SPARK_DRIVER_MEM=48g (the default 8g OOMs " +
        "two decades above its sizing); continuing, but an OOM here is the " +
        "box, not the plan")
    // build missing decade dirs from the driver's sf0.1 via ScaleUp
    // (each run creates and stops its own session)
    if (!exists(sf1)) ScaleUp.main(Array("/root/testdata/sf0.1", sf1, "10"))
    if (!exists(sf10)) ScaleUp.main(Array(sf1, sf10, "10"))

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.builder(cpus.toInt, "graft-decade-gate").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val load0 = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    try graft.SparkEntry.queries("q_groupby")(spark, sf1)
      .write.mode("overwrite").format("noop").save()
    catch { case e: Throwable =>
      System.err.println(s"[decade-gate] warmup failed: ${e.getMessage}") }

    val rows = Pins.map { case (name, rawCeil) =>
      val rel = OutputRelative.contains(name)
      val a = measure(spark, name, sf1, countRows = rel)
      val b = measure(spark, name, sf10, countRows = rel)
      val denom = math.max(a.shuffleMb, 1.0) // sub-MB baselines are noise
      val ratio = b.shuffleMb / denom
      // output-relative pins scale the ceiling by the measured output
      // growth: the plan must stay output-proportional
      val ceil =
        if (rel) OutputSlack * (b.rows.toDouble / math.max(a.rows, 1L))
        else rawCeil
      val note = if (rel) f" rows ${a.rows}->${b.rows}" else ""
      println(f"[decade-gate] $name%-20s sf1=${a.shuffleMb}%9.1fMB " +
        f"sf10=${b.shuffleMb}%9.1fMB ratio=$ratio%6.2fx " +
        f"(ceil $ceil%5.1fx) wall ${a.sec}%6.1fs -> ${b.sec}%7.1fs$note")
      (name, a, b, ratio, ceil)
    }
    val load1 = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val table = new StringBuilder
    table ++= "| query | sf1 shuffle MB | sf10 shuffle MB | ratio | ceiling | sf1 s | sf10 s |\n"
    table ++= "|---|---|---|---|---|---|---|\n"
    rows.foreach { case (n, a, b, r, c) =>
      table ++= f"| $n | ${a.shuffleMb}%.1f | ${b.shuffleMb}%.1f | $r%.2fx | ${c}%.0fx | ${a.sec}%.1f | ${b.sec}%.1f |\n"
    }
    table ++= f"\nload $load0%.1f -> $load1%.1f, driver heap $heapGb%.0f GiB, cpus $cpus\n"
    println(table.result())
    val out = new java.io.File("tmp/DECADE_GATE.md")
    out.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.write(table.result()) finally w.close()
    println(s"[decade-gate] table written to ${out.getPath}")

    val red = rows.filter { case (_, _, _, r, c) => r > c }
    spark.stop()
    if (red.nonEmpty) {
      red.foreach { case (n, _, b, r, c) =>
        System.err.println(f"[decade-gate] RED: $n ratio $r%.2fx exceeds " +
          f"the $c%.1fx ceiling (sf10 shuffle ${b.shuffleMb}%.1f MB) — " +
          "superlinear plan drift; fix the plan, do not re-pin")
      }
      sys.exit(1)
    }
    println(s"[decade-gate] GREEN: ${rows.size}/${rows.size} pinned ratios linear")
  }
}
