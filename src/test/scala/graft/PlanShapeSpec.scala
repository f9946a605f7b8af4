package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the PHYSICAL plan shapes the 100 TB story depends on — a
  * query can stay hash-correct while silently regressing from a
  * broadcast to a both-sides shuffle, from a pruned scan to a full
  * one, or from the native top-k operator to a window sort. Wall time
  * at sf0.01 won't notice; these assertions will.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.01"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan.toString

  test("TPC-H joins broadcast their dims (never shuffle them)") {
    Seq("q_tpch_q5", "q_tpch_q10", "q_join_broadcast").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast join:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian product")
    }
  }

  test("semi/anti shapes stay semi/anti (never materialize the match)") {
    assert(plan("q_tpch_q4").contains("LeftSemi"))
    assert(plan("q_tpch_q16").contains("LeftAnti"))
    assert(plan("q_semi_anti").contains("LeftSemi"))
  }

  test("ANN and top-k ride the native bounded-heap operator, not a window sort") {
    Seq("q_ann_bruteforce", "q_topk_per_group").foreach { q =>
      val p = plan(q)
      assert(p.contains("TopK"), s"$q no longer uses the native TopKPerKey operator:\n$p")
      assert(!p.contains("RunningWindowFunction"), s"$q regressed to a window rank")
    }
  }

  test("wave-5 TPC-H shapes: dims broadcast, filters pushed, no cartesians") {
    Seq("q_tpch_q2", "q_tpch_q7", "q_tpch_q8", "q_tpch_q9", "q_tpch_q15").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast joins:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian product")
    }
    // Q21's EXISTS / NOT EXISTS must stay semi/anti joins
    val q21 = plan("q_tpch_q21")
    assert(q21.contains("LeftSemi") && q21.contains("LeftAnti"),
      s"q_tpch_q21 lost its semi/anti self-join shape:\n$q21")
    // Q2's part-size filter must prune lineitem BELOW the aggregation
    val q2 = plan("q_tpch_q2")
    assert(q2.contains("LeftSemi"),
      s"q_tpch_q2 lost the pushed-down part-filter semi-join:\n$q2")
    // Q7's nation-name OR filter reaches both nation scans as a
    // pushed parquet filter (derived per-side by Catalyst)
    val q7 = SparkEntry.queries("q_tpch_q7")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("EqualTo\\(n_name,NATION_[12]\\)".r.findAllIn(q7).size >= 2,
      s"q_tpch_q7's nation filter no longer pushes into the scans:\n$q7")
  }

  test("wave-6 TPC-H shapes: q6 pure pushdown scan, q11/q20 broadcast + semi chains") {
    // Q6 is THE pushdown smoke test: no join, every filter reaches the
    // parquet scan, aggregation is partial→final
    val q6 = SparkEntry.queries("q_tpch_q6")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(q6.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"q_tpch_q6's filters no longer push into the scan:\n$q6")
    // the PushedFilters list truncates in toString, so assert the
    // range predicates via the Filter node (same DataFilters set)
    assert("l_shipdate#\\d+ >= 1995-01-01".r.findFirstIn(q6).isDefined &&
      "l_quantity#\\d+ < 24".r.findFirstIn(q6).isDefined,
      s"q_tpch_q6 lost a range filter:\n$q6")
    assert(q6.contains("partial_sum"), "q_tpch_q6 lost map-side combine")
    val q11 = plan("q_tpch_q11")
    assert(q11.contains("BroadcastHashJoin"), s"q_tpch_q11 lost its broadcasts:\n$q11")
    val q12 = plan("q_tpch_q12")
    assert(q12.contains("partial_sum"), "q_tpch_q12 lost map-side combine")
    val q20 = plan("q_tpch_q20")
    assert("LeftSemi".r.findAllIn(q20).size >= 2,
      s"q_tpch_q20 lost its nested semi-join chain:\n$q20")
    assert(!q20.contains("CartesianProduct"))
  }

  test("q_tpch_q15 reuses the rev aggregate: lineitem scanned once, not per consumer") {
    // rev feeds both the supplier join and its own max — if the two
    // consumers stop canonicalizing identically (e.g. an inferred
    // isnotnull lands on only one branch again) AQE re-runs the scan
    // + suppkey shuffle per consumer. Execute and check the FINAL
    // adaptive plan: one lineitem FileScan, with a reuse marker.
    Seq("q_tpch_q15", "q_tpch_q11").foreach { q =>
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      df.collect()
      val finalPlan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val scans = "FileScan parquet \\[l_".r.findAllIn(finalPlan).size
      assert(scans == 1,
        s"$q scans lineitem $scans times in the final plan — exchange reuse lost:\n$finalPlan")
      assert(finalPlan.contains("ReusedQueryStage") || finalPlan.contains("ReusedExchange"),
        s"$q's shared aggregate exchange is no longer reused")
    }
  }

  test("wave-5 LLM ops: sampling filters in the scan stage, LM probs broadcast") {
    // q_sample_weighted is a pure scan-stage filter — no exchange at all
    val ps = plan("q_sample_weighted")
    assert(!ps.contains("Exchange hashpartitioning"),
      s"q_sample_weighted grew a shuffle:\n$ps")
    // q_lm_score joins the corpus against BROADCAST token probs
    val pl = plan("q_lm_score")
    assert(pl.contains("BroadcastHashJoin"),
      s"q_lm_score no longer broadcasts the vocab probs:\n$pl")
  }

  test("dedup scan reads only the columns it needs") {
    val p = SparkEntry.queries("q_dedup_exact")(spark, sf)
      .queryExecution.executedPlan.toString
    // md5(text) + min(doc_id): lang/source/n_chars must be pruned away
    assert(p.contains("ReadSchema"))
    assert(!p.contains("n_chars"), s"q_dedup_exact reads pruned-away columns:\n$p")
  }

  test("ivf cell assignment is never recomputed by a pushed-down join null filter") {
    // the probe equi-join infers IsNotNull(ivf_cell); if the cell id
    // is nullable that predicate gets pushed below the spread
    // exchange and re-evaluates the whole argmax assignment (with
    // normalization inlined per dot) per row in the single-task scan
    // stage — 14 s of q_ann_ivf's 15.8 s at sf1. assignCells makes
    // the cell non-nullable so the inferred filter constant-folds.
    Seq("q_ann_ivf", "q_ann_ivfpq").foreach { q =>
      val p = SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan.toString
      assert(!p.matches("(?s).*isnotnull\\([^\\n]*array_position.*"),
        s"$q re-computes the cell argmax in a pushed null filter:\n${p.take(2000)}")
    }
    // the same trap generalized: NO gated query may carry a null
    // filter that re-evaluates a composite quantizer/signature
    // expression (a plain array_unit in an explicit isNotNull guard
    // is one cheap pass; argmax / PQ encode / hyperplane signatures
    // inlined into an inferred IsNotNull multiply the work)
    val composite = Seq("array_position", "pq_encode", "hyperplane_sig")
    SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
      val p = SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan.toString
      composite.foreach { e =>
        assert(!p.matches(s"(?s).*isnotnull\\([^\\n]*$e.*"),
          s"$q re-computes $e inside a null filter:\n${p.take(2000)}")
      }
    }
  }

  test("span-family exchanges are hash-width: text rides only the scan spread, tokens never") {
    // the round-9 span restructure's contract: after the one
    // parallelizing repartition of compact (id, text) rows, everything
    // that moves is (hash, id[, small attrs]) — the exploded token
    // rows stay partition-local (the span window reuses the spread's
    // doc-id partitioning), and no downstream exchange re-carries
    // text. AQE off so EnsureRequirements' exchanges are inspectable.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // allowed text-carrying exchanges: corpus spread (+ bench spread
      // for decontam's two scan branches)
      Seq("q_span_dedup" -> 1, "q_span_dup_frac" -> 1,
          "q_decontam_overlap" -> 2).foreach { case (q, maxTextEx) =>
        val exchanges = SparkEntry.queries(q)(spark, sf)
          .queryExecution.executedPlan
          .collect { case e: ShuffleExchangeExec => e }
        assert(exchanges.nonEmpty, s"$q: expected shuffles — plan shape changed?")
        val textEx = exchanges.count(_.output.exists(_.name == "text"))
        assert(textEx <= maxTextEx,
          s"$q: $textEx exchanges carry document text (max $maxTextEx — " +
            "a downstream exchange regressed to payload width)")
        val tokenEx = exchanges.count(_.output.exists(_.name == "pos"))
        assert(tokenEx == 0,
          s"$q: an exchange carries exploded token rows — the span window " +
            "no longer reuses the spread's doc-id partitioning")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q_curate_e2e keys the funnel by doc_id once: no window, no token-row exchange") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.window.WindowExec
    graft.plans.CacheHandles.release("query.curate.", blocking = true)
    val df = SparkEntry.queries("q_curate_e2e")(spark, sf)
    val l = new Bench.TaskTotals
    spark.sparkContext.addSparkListener(l)
    try df.collect()
    finally {
      org.apache.spark.sql.graftbridge.Bridge.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
      graft.plans.CacheHandles.release("query.curate.", blocking = true)
    }
    val all = PlanNodes(df.queryExecution.executedPlan)
    assert(all.exists(_.isInstanceOf[InMemoryTableScanExec]),
      "q_curate_e2e no longer caches its kept docs — plan shape changed?")
    // span hashes come from the per-doc kernel, not posexplode + lead
    val windows = all.collect { case w: WindowExec => w }
    assert(windows.isEmpty, s"q_curate_e2e runs ${windows.size} WindowExec:\n${windows.mkString("\n")}")
    // the corpus spread is the one doc_id-keyed repartition; a second
    // one would re-shuffle rows (token rows, at the parent) by doc_id
    val keyed = all.collect {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM =>
        e.outputPartitioning
    }.collect {
      case HashPartitioning(Seq(a: Attribute), _) if a.name == "doc_id" => a
    }
    assert(keyed.size == 1,
      s"expected exactly one doc_id-keyed repartition, found ${keyed.size}")
    // 638,130 B measured with the keyed kept-docs cache; the token-row
    // cache it replaced (round-robin spread, then the tokRows
    // repartition, window spans and a second vocab aggregate for the
    // total) wrote 928,503 B
    val bytes = l.shuffleWrite.get
    assert(bytes > 0 && bytes <= 720000L,
      s"q_curate_e2e shuffled $bytes B at sf0.01 (ceiling 720000) — " +
        "token rows crossing an exchange again?")
  }

  test("no static broadcast miss across headline queries (auditPhysical)") {
    // every sort-merge/shuffled-hash join in the gated headliners must
    // have both sides genuinely above the broadcast threshold
    Seq("q_tpch_q1", "q_tpch_q5", "q_tpch_q10", "q_tpch_q18", "q_join_multi",
      "q_dedup_exact", "q_funnel", "q_retention").foreach { q =>
      val findings = graft.plans.ScaleGuard.auditPhysical(
        SparkEntry.queries(q)(spark, sf), broadcastableBytes = 1L * 1024 * 1024)
      assert(findings.isEmpty, s"$q: ${findings.mkString("; ")}")
    }
  }

  test("aggregations are partial->final (map-side combine present)") {
    Seq("q_tpch_q1", "q_groupby", "q_entropy").foreach { q =>
      val p = plan(q)
      val aggs = "HashAggregate".r.findAllIn(p).size
      assert(aggs >= 2, s"$q has $aggs HashAggregate nodes — partial agg missing?\n$p")
    }
  }

  test("wave-11 shapes: centroids broadcast, token counts map-side-combined, native top-k") {
    // q_semdedup: the bounded labels×dims centroid table must ride a
    // broadcast into both the assignment cross join and nothing else
    // may turn cartesian; the within-cluster pairwise join stays a
    // key join (merge-hinted — a planner broadcast of the aggregate-
    // derived assignment side is the 100 TB failure mode)
    val sd = plan("q_semdedup")
    assert(sd.contains("BroadcastNestedLoopJoin") || sd.contains("BroadcastExchange"),
      s"q_semdedup: centroid side no longer broadcasts:\n$sd")
    assert(sd.contains("SortMergeJoin"),
      s"q_semdedup: the within-cluster pairwise join lost its merge form:\n$sd")
    // q_vocab_coverage: the token-count aggregation must stay
    // partial->final — a mega-token (planted boilerplate) collapses on
    // the mappers or it hot-keys the count exchange
    val vc = plan("q_vocab_coverage")
    assert("HashAggregate".r.findAllIn(vc).size >= 2,
      s"q_vocab_coverage lost map-side combine on token counts:\n$vc")
    // q_hard_negatives: ranking rides the native bounded-heap operator
    val hn = plan("q_hard_negatives")
    assert(hn.contains("TopK"),
      s"q_hard_negatives no longer uses the native TopKPerKey operator:\n$hn")
    // the label-mismatch predicate makes the scoring join non-equi —
    // legal ONLY because the build side is the bounded query set
    assert(hn.contains("BroadcastNestedLoopJoin"),
      s"q_hard_negatives: the query side must broadcast:\n$hn")
  }

  test("wave-12 shapes: native sample top-k, exchange-free bucketed join, no hash windows") {
    // q_sample_group_k: exact-k sampling must ride the bounded-heap
    // operator — a window row_number materializes EVERY row per group
    val sg = plan("q_sample_group_k")
    assert(sg.contains("TopK"),
      s"q_sample_group_k no longer uses the native TopKPerKey operator:\n$sg")
    assert(!sg.contains("Window"), s"q_sample_group_k regressed to a window rank:\n$sg")
    // q_join_bucketed: the orders⋈lineitem stage itself must read the
    // co-located buckets with ZERO Exchange below the join (broadcast
    // disabled so size stats can't mask a bucketing regression)
    WarehouseShim.ensure(spark, sf)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val jb = SparkEntry.queries("q_join_bucketed")(spark, sf)
        .queryExecution.sparkPlan
      val joins = jb.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(joins.nonEmpty, s"q_join_bucketed lost its sort-merge join:\n$jb")
      joins.foreach { j =>
        val exch = j.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
        assert(exch.isEmpty,
          s"q_join_bucketed: bucketed join grew a shuffle below the join:\n$jb")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // q_rare_tokens: corpus token counts stay partial->final (a mega
    // token must collapse on the mappers), and the hapax set comes
    // back as a semi-join, never a broadcast of the vocabulary
    val rt = plan("q_rare_tokens")
    assert("HashAggregate".r.findAllIn(rt).size >= 2,
      s"q_rare_tokens lost map-side combine on token counts:\n$rt")
    assert(rt.contains("LeftSemi"), s"q_rare_tokens hapax probe lost its semi form:\n$rt")
  }

  test("wave-13 shapes: map-side-combined sketches, compute-free indexed clusters") {
    // q_source_minhash_overlap: the signature min-aggregate must stay
    // partial→final (shingle volume collapses on the mappers — the
    // bounded-shuffle claim) and the shingle explode must sit BELOW
    // the partial aggregate with no exchange between them
    val mo = plan("q_source_minhash_overlap")
    assert(mo.contains("partial_min"),
      s"q_source_minhash_overlap lost map-side combine on signatures:\n$mo")
    assert(!mo.contains("CartesianProduct"),
      s"q_source_minhash_overlap grew a cartesian:\n$mo")
    // q_kll_quantiles: TypedImperativeAggregates run under
    // ObjectHashAggregate with a partial phase (sketch bytes merge on
    // the mappers, raw values never shuffle)
    val kll = plan("q_kll_quantiles")
    assert(kll.contains("ObjectHashAggregate"),
      s"q_kll_quantiles no longer runs as an object aggregate:\n$kll")
    assert(kll.contains("partial_kll_sketch_agg"),
      s"q_kll_quantiles lost its partial sketch phase:\n$kll")
    // q_quantile_sketch: histogram counts combine map-side; the
    // quantile window partitions by the RAW source key over the
    // bucket-bounded histogram, never by a hash-derived key
    val qs = plan("q_quantile_sketch")
    assert(qs.contains("partial_count"),
      s"q_quantile_sketch lost map-side combine on the histogram:\n$qs")
    // q_dedup_clusters_indexed: cluster membership is a label READ —
    // no tokenization (Generate) and no posting self-join may appear;
    // that work happened once at index build
    val ci = plan("q_dedup_clusters_indexed")
    assert(!ci.contains("Generate"),
      s"q_dedup_clusters_indexed re-tokenizes at serve time:\n$ci")
    assert(!ci.contains("SortMergeJoin"),
      s"q_dedup_clusters_indexed grew a join at serve time:\n$ci")
  }

  test("wave-15 shapes: no cartesians in KS, native top-k in Zipf, " +
    "map-side combine everywhere") {
    // q_ks_test: the source×length grid rides broadcast nested-loop
    // joins (both sides value-domain bounded) — a CartesianProduct
    // here would shuffle at scale
    val ks = plan("q_ks_test")
    assert(!ks.contains("CartesianProduct"),
      s"q_ks_test grew a cartesian shuffle:\n$ks")
    assert(ks.contains("partial_count") || ks.contains("partial_sum"),
      s"q_ks_test lost map-side combine on the length counts:\n$ks")
    // q_zipf_slope: the top-100 survives the native bounded TopKPerKey
    // (≤k rows/source leave each map partition), never a vocabulary
    // sort
    val z = plan("q_zipf_slope")
    assert(z.contains("TopK"),
      s"q_zipf_slope no longer uses the native TopKPerKey operator:\n$z")
    // q_gini_tokens: token counts combine map-side; ranks come from
    // PrefixScan's range exchange, never a whole-vocabulary
    // single-task window
    val g = plan("q_gini_tokens")
    assert(g.contains("partial_count"),
      s"q_gini_tokens lost map-side combine on token counts:\n$g")
    assert(g.contains("rangepartitioning") || g.contains("RangePartitioning"),
      s"q_gini_tokens lost the PrefixScan range exchange:\n$g")
    // q_cond_entropy: bigram-type counts combine map-side on both join
    // sides
    val ce = plan("q_cond_entropy")
    assert(ce.contains("partial_count"),
      s"q_cond_entropy lost map-side combine on bigram counts:\n$ce")
  }
}

/** Builds the bucketed tables outside the measured plan (the gated
  * query does this lazily; the spec needs them before taking a plan).
  */
private object WarehouseShim {
  def ensure(spark: org.apache.spark.sql.SparkSession, d: String): Unit =
    graft.queries.WarehouseQueries.ensureBucketed(spark, d)
}
