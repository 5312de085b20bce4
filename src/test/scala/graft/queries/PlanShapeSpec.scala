package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape invariants for the whole query inventory — the properties
  * that keep the engine viable at 100 TB, asserted so a refactor cannot
  * silently regress them.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  private val Sf = "/root/testdata/sf0.001"

  // SparkEntry.queries merges every module's map on each call: once here.
  private lazy val queries = graft.SparkEntry.queries

  private def plan(name: String): String =
    queries(name)(spark, Sf).queryExecution.executedPlan.toString

  /** Per query, in name order: (plans a CartesianProduct, number of
    * unpartitioned windows). Building a query runs its eager legs, so the
    * two inventory-wide tests share this one pass. Only these small
    * findings are kept: a retained plan would pin its checkpoint blocks.
    */
  private lazy val inventory: Seq[(String, Boolean, Int)] =
    queries.keys.toSeq.sorted.map { name =>
      val p = queries(name)(spark, Sf).queryExecution.executedPlan
      (name, p.toString.contains("CartesianProduct"),
        graft.tools.PlanSurvey.unpartitionedWindows(p))
    }

  test("no query in the inventory plans a CartesianProduct") {
    // s1 deliberately broadcasts its 10-row probe set (a
    // BroadcastNestedLoopJoin, fine); an unpartitioned CartesianProduct
    // anywhere is a scale bug.
    inventory.foreach { case (name, cartesian, _) =>
      assert(!cartesian, s"$name plans a CartesianProduct")
    }
  }

  test("q2 pushes its lineitem filters into the parquet scan") {
    val p = plan("q2_revenue_filter")
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(p.contains("l_shipdate"), "shipdate filter not pushed")
  }

  test("q4 broadcasts the dimension tables; at most one shuffle join") {
    // At tiny SF the planner may broadcast the orders side of
    // lineitem⋈orders too (4 broadcasts, 0 shuffles) — also correct. The
    // invariant: the three dims are never shuffle-joined, and only the
    // fact⋈orders join may shuffle.
    val p = plan("q4_nation_revenue")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    val shuffles = ("SortMergeJoin".r.findAllIn(p).length
      + "ShuffledHashJoin".r.findAllIn(p).length)
    assert(broadcasts >= 3, s"expected >=3 broadcast joins, got $broadcasts")
    assert(shuffles <= 1, s"expected <=1 shuffle join, got $shuffles")
  }

  test("LSH pair expansion runs on aggregates alone - no Window operator") {
    // BucketedPairs gathers members with the bounded TopKAgg: a Window in
    // these plans would mean the two-shuffle window-count formulation
    // regressed back in.
    Seq("d4_minhash_pairs", "d5_simhash_pairs").foreach { name =>
      assert(!plan(name).contains("Window"), s"$name plans a Window")
    }
  }

  test("d4 filters candidates via a distributed semi-join, not a driver isin") {
    // The round-2 formulation collect()ed every candidate doc-id to the
    // driver and re-injected it as an isin(...) literal — unbounded driver
    // heap + a literal tree growing with the corpus. The fix keeps the ids
    // distributed: the plan must carry a LeftSemi join and no IN-list.
    val p = plan("d4_minhash_pairs")
    assert(p.contains("LeftSemi"), "d4 lost its semi-join candidate filter")
    assert(!p.contains(" IN ("), "d4 regressed to a driver-side IN literal")
  }

  test("q38 finds the k-th min hash with a bounded aggregate, not a window") {
    // A row_number window partitioned by l_returnflag (3 values) sorts all
    // distinct hashes in ~3 tasks; the min-k aggregate ships at most k
    // values per map partition.
    val p = plan("q38_kmv_distinct")
    assert(!p.contains("Window"), "q38 plans a Window over a 3-value key")
    assert(p.contains("min_k"), "q38 no longer uses the min-k aggregate")
  }

  test("q42 joins on a salted key (skew spread), right side replicated") {
    val p = plan("q42_salted_skew_join")
    assert(p.contains("_salt"), "q42 lost its salt column")
    // The salt sequence constant-folds to an array literal; the Generate
    // over it is the 8x right-side replication.
    assert(p.contains("Generate explode("),
      "q42's right side is no longer salt-replicated")
  }

  test("q50's bucketed join is exchange-free; only the final agg shuffles") {
    val p = plan("q50_bucketed_join")
    assert(p.contains("SortMergeJoin"), "q50 lost its sort-merge join")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1,
      s"bucketed join shuffles ($exchanges hash exchanges):\n${p.take(3000)}")
    // Bucket-sorted data needs no sort below the SMJ either.
    assert(p.contains("SelectedBucketsCount"), "scan is not bucket-aware")
  }

  test("q51 prunes partitions at the directory level") {
    val p = plan("q51_partition_pruning")
    assert(p.contains("PartitionFilters: [isnotnull(o_year"),
      s"no partition filter on the year-partitioned scan:\n${p.take(2000)}")
    assert("""\(o_year#\d+ = 1995\)""".r.findFirstIn(p).isDefined,
      "year predicate not a partition filter")
  }

  test("d9's benchmark n-gram set reaches the train side as a broadcast") {
    // The membership test must be map-side: the train corpus never
    // shuffles to meet the (small) benchmark set. Only the per-doc hit
    // aggregation may exchange.
    val p = plan("d9_contamination")
    assert(p.contains("BroadcastHashJoin"),
      "d9 lost its broadcast membership join")
  }

  test("d10's embedding pair expansion is bucketed: no window, no cross join") {
    val p = plan("d10_embedding_lsh_pairs")
    assert(!p.contains("Window"), "d10 plans a Window")
    assert(!p.contains("CartesianProduct"), "d10 plans a CartesianProduct")
  }

  test("q53's LATERAL rewrites to a bounded ranked join, not per-row re-execution") {
    // Catalyst turns the correlated ORDER BY/LIMIT subquery into a
    // WindowGroupLimit (map-side partial top-k per key — at most k rows
    // per key per partition cross the shuffle) feeding a broadcast join.
    val p = plan("q53_lateral_topn")
    assert(p.contains("WindowGroupLimit"),
      "lateral lost its group-limit pushdown")
    assert(p.contains("BroadcastHashJoin"), "nation side no longer broadcast")
  }

  test("q62's stratified sampler is one pass: no join, a single hash exchange") {
    // The sampling predicate is row-local; only the per-stratum rollup
    // may shuffle (plus the 3-row output sort's range exchange).
    val p = plan("q62_stratified_sample")
    assert(!p.contains("Join"), "sampler should not join")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx <= 1, s"sampler shuffles $hashEx times")
  }

  test("q349's bloom probe is map-only: zero probe-side hash exchanges") {
    // The bitmap is collected once (2 KB) and inlined as a literal array,
    // so the probe leg is a plain Filter on the orders scan. A hash
    // exchange anywhere in this plan means the explode→groupBy fact-grain
    // probe regressed back in (the build-side word merge runs during
    // query construction and never appears in the returned plan; the
    // three scalar aggs exchange SinglePartition, not hashpartitioning).
    val p = plan("q349_bloom_semijoin")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 0, s"bloom probe shuffles $hashEx times")
    assert(!p.contains("Generate"), "probe leg exploded positions again")
    assert(p.contains("BroadcastHashJoin"),
      "exact-control semi-join no longer broadcast")
  }

  test("q63's quantile boundaries reach the banding scan as a broadcast") {
    val p = plan("q63_equidepth_hist")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "boundary frame no longer broadcast to the banding pass")
  }

  test("q64's visible plan is the checkpoint-truncated tail: tiny and broadcast-only") {
    // PageRank collects the condensed edges once and runs its rounds on
    // the driver, returning a local 25-row rank frame, so the final plan
    // is just the name join over that local frame: no fact-join lineage
    // and no shuffle join. The rounds themselves are pinned by
    // PageRankSpec's exact sequential differential instead.
    val p = plan("q64_pagerank")
    val shuffleJoins = "SortMergeJoin".r.findAllIn(p).length +
      "ShuffledHashJoin".r.findAllIn(p).length
    assert(shuffleJoins == 0, s"rank tail should not shuffle-join:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"), "name join no longer broadcast")
    assert(!p.contains("Exchange hashpartitioning"),
      "checkpoint-truncated tail should carry no hash exchange")
  }

  test("t12's vocabulary count frames broadcast to the bigram side") {
    val p = plan("t12_pmi_bigrams")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "unigram count frames no longer broadcast")
  }

  test("t13's quality filter is a pure map: no joins, no aggregate shuffle") {
    val p = plan("t13_quality_filter")
    assert(!p.contains("Join"), "quality filter should not join")
    assert(!p.contains("Exchange hashpartitioning"),
      "quality filter should not shuffle before the output sort")
  }

  test("d13's top spans come from a bounded TakeOrderedAndProject") {
    val p = plan("d13_dup_spans")
    assert(p.contains("TakeOrderedAndProject"),
      "d13's top-20 cut regressed to a global sort")
    assert(!p.contains("Window"), "d13 plans a Window")
  }

  test("q65's multi-distinct aggregates plan one Expand, not self-joins") {
    val p = plan("q65_multi_distinct")
    assert(p.contains("Expand"), "multi-distinct lost its Expand rewrite")
    assert(!p.contains("Join"), "multi-distinct regressed to self-joins")
  }

  test("q66's fact scan carries a runtime dynamicpruning subquery") {
    val p = plan("q66_dynamic_pruning")
    assert(p.contains("dynamicpruning"),
      s"no dynamic partition pruning on the fact scan:\n${p.take(2500)}")
  }

  test("t14's NFC normalization is a pure map with no shuffle") {
    val p = plan("t14_unicode_nfc")
    assert(!p.contains("Exchange hashpartitioning"),
      "NFC pass should not shuffle")
    assert(p.contains("nfc_normalize"), "custom expression not in the plan")
  }

  test("d16's prefix sum never plans a single-task global window") {
    // The two-phase scan must keep every corpus-scale window PARTITIONED
    // (by the range-partition id); an empty-PARTITION-BY window over the
    // doc frame would funnel 100 TB through one task. The only permitted
    // unpartitioned window runs on the per-partition totals frame —
    // identified by its _gps_psum input.
    val p = plan("d16_sequence_packing")
    val globalWindows = p.linesIterator
      .filter(l => l.contains("Window ") && !l.contains("_gps_pid#"))
      .filterNot(_.contains("_gps_psum"))
      .toList
    assert(globalWindows.isEmpty,
      s"unpartitioned corpus-scale window planned:\n${globalWindows.mkString("\n")}")
    assert(p.contains("rangepartitioning"),
      "prefix sum lost its range repartition")
  }

  test("s6's rank lists come from bounded aggregates, not windows") {
    // Both retrieval legs (BM25 and cosine) select their top-100 through
    // the bounded min-k aggregate; a Window here would mean a global
    // row_number sort over the scored corpus regressed back in.
    val p = plan("s6_hybrid_rrf")
    assert(!p.contains("Window"), "s6 plans a Window over scored docs")
    assert(p.contains("min_k"), "s6 no longer ranks through min-k")
  }

  test("q93's HLL registers aggregate without windows or Expand") {
    // The estimate side is (flag, register) → max(rank): two hash
    // aggregations. Only the exact-count witness column may Expand.
    val p = plan("q93_hll_distinct")
    assert(!p.contains("Window"), "q93 plans a Window")
  }

  test("q96's bitmap distinct never falls back to count-distinct Expand") {
    // bit_or bitmaps are the POINT (mergeable, 64x smaller than the
    // input); a countDistinct rewrite would reintroduce the Expand fan-
    // out and lose re-aggregatability.
    val p = plan("q96_bitmap_distinct")
    assert(!p.contains("Expand"), "q96 regressed to count-distinct Expand")
    assert(p.contains("bit_or"), "q96 lost its bitmap aggregation")
  }

  test("d20 blocks pairs via aggregates — no window, no cross join") {
    val p = plan("d20_semantic_block_dedup")
    assert(!p.contains("Window"), "d20 plans a Window")
    assert(!p.contains("CartesianProduct"), "d20 plans a cartesian")
  }

  test("q103/q104/q105 reconcile and aggregate without any Window") {
    // All three are single-pass aggregation shapes; a Window anywhere
    // means a global-sort formulation crept in.
    Seq("q103_bucket_reconcile", "q104_decay_halflife", "q105_k_anonymity")
      .foreach { name =>
        assert(!plan(name).contains("Window"), s"$name plans a Window")
      }
  }

  test("s7 broadcasts the probe slice and votes through bounded aggregates") {
    // The corpus scan must stream past a BROADCAST probe set (shuffling
    // the corpus against 4% probes would be the wrong direction), and
    // both top-k selections stay bounded aggregates — no Window.
    val p = plan("s7_knn_classify")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), "s7 lost the probe broadcast")
    assert(!p.contains("Window"), "s7 plans a Window")
  }

  test("scans prune to the referenced columns (q5 reads 3 of 6 order columns)") {
    val p = plan("q5_topk_orders")
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p)
      .map(_.group(1)).getOrElse(fail(s"no ReadSchema in:\n${p.take(1500)}"))
    val cols = read.split(",").map(_.split(":")(0).trim).toSet
    assert(cols === Set("o_orderkey", "o_custkey", "o_totalprice"),
      s"scan reads $cols")
  }

  test("d33's duplicate-span filter stays a distributed semi-join") {
    // the span hit set must reach the positional frame as a LeftSemi
    // join — a driver-side IN-list over collected spans would be the
    // d4-round-2 anti-pattern all over again
    val p = plan("d33_span_mask")
    assert(p.contains("LeftSemi"), "no semi-join in d33's plan")
    assert(!p.contains(" INSET "), "driver IN-list in d33's plan")
  }

  test("d33/q187 windows are partitioned, never global") {
    // every Window in these plans must carry a partition spec — the
    // per-doc interval merge and per-nation Pareto scan are the bounded
    // formulations; an empty PARTITION BY would be the single-task sort
    Seq("d33_span_mask", "q187_pareto_coverage").foreach { name =>
      val p = plan(name)
      "Window \\[[^\\]]*\\], \\[([^\\]]*)\\]".r.findAllMatchIn(p)
        .foreach { m =>
          assert(m.group(1).nonEmpty, s"$name has an unpartitioned Window")
        }
    }
  }

  test("q194's running backlog scans via range partitioning, not one task") {
    val p = plan("q194_backlog_curve")
    assert(p.contains("Exchange rangepartitioning"),
      "GlobalPrefixSum range exchange missing from q194")
  }

  test("d34/d35 consume the d4 pair frame through broadcast joins") {
    Seq("d34_split_leakage", "d35_threshold_sweep").foreach { name =>
      val p = plan(name)
      assert("BroadcastHashJoin".r.findAllIn(p).length >= 1
        || "BroadcastNestedLoopJoin".r.findAllIn(p).length >= 1,
        s"$name has no broadcast join")
    }
  }

  test("no unpartitioned window outside the bounded-frame allowlist") {
    // An empty-PARTITION-BY Window sorts every row through ONE task —
    // the q38 anti-pattern that killed q302/q327/q305 before round 6
    // ported the GlobalPrefixSum midrank device into them. The allowlist
    // below is every query whose global window runs over a frame that
    // is BOUNDED BY CONSTRUCTION (calendar grain, decile grain, fixed
    // sweeps, top-k shortlists) — NEVER fact or value grain. Adding a
    // name here requires stating the bound.
    val allowed = PlanShapeSpec.BoundedGlobalWindowQueries
    inventory.foreach { case (name, _, uw) =>
      if (!allowed(name))
        assert(uw == 0,
          s"$name plans $uw unpartitioned window(s) — single-task " +
            "sort at scale; use GlobalPrefixSum or add a bound " +
            "justification to the allowlist")
    }
  }
}

object PlanShapeSpec {
  /** Queries whose unpartitioned windows are over frames bounded by
    * construction (the stated bound, not the fact table). Kept in sync
    * with PLAN_SURVEY.md's `unpartWin` column; GlobalPrefixSum's own
    * <=partition-count offsets walk is excluded by the detector itself.
    */
  val BoundedGlobalWindowQueries: Set[String] = Set(
    // calendar grain: days/weeks/months of the corpus date range
    "q123_cusum_changepoint", "q134_holt_forecast",
    "q156_forecast_backtest", "q180_var_cvar",
    "q182_seasonality_strength", "q217_rolling_slope",
    "q240_interval_range_frame", "q243_leave_one_out",
    "q286_watermark_audit", "q290_survival_km", "q298_sax_symbols",
    "q311_turning_points", "q312_runs_test", "q313_permutation_entropy",
    "q315_spc_rules", "q78_open_interval_peaks",
    // small-dimension grain: nations (25), funnel stages, sources,
    // FK edges, test batteries
    "q142_largest_remainder", "q219_budget_allocation",
    "q239_maxmin_fairshare", "d21_dedup_yield", "d29_dedup_funnel",
    "d42_mix_order", "d55_temperature_mix", "q80_token_budget",
    "q191_fk_fanout_profile",
    "q322_fdr_bh", "q97_skew_census",
    // fixed-width grids: deciles (10), histogram bins (1000),
    // quartiles, top-k shortlists / ranked vocab heads
    "q118_decile_lift", "q163_lorenz_points", "q159_latency_quartiles",
    "q72_ks_drift", "s26_prf_expansion", "t11_zipf_slope")
}
