package graft

import graft.queries.PipelineQueries

/** Executed-plan assertions for the relational query shapes: the join
  * strategies the 100 TB design argues for must actually appear in the
  * physical plan (AQE final plan, real parquet input — local Seq DFs fold
  * to LocalTableScan and prove nothing).
  */
class QueryPlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def finalPlan(name: String): String = {
    // scan metadata (PushedFilters, ...) truncates at 100 chars by
    // default — long predicate lists would vanish from the assertions.
    // Restore afterwards: the SparkSession is shared across suites.
    val prev = spark.conf.getOption("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect() // materialize so AQE settles on the final plan
      df.queryExecution.executedPlan.toString
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.maxMetadataStringLength", v)
      case None => spark.conf.unset("spark.sql.maxMetadataStringLength")
    }
  }

  test("q_tpch_q5: dimension joins broadcast; no cartesian anywhere") {
    val plan = finalPlan("q_tpch_q5")
    assert(plan.contains("BroadcastHashJoin"), s"nation/region must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian in Q5:\n$plan")
  }

  test("q_tpch_q18: the HAVING aggregate is the broadcast build side") {
    val plan = finalPlan("q_tpch_q18")
    assert(plan.contains("BroadcastHashJoin"), s"heavy-orders agg must broadcast:\n$plan")
    // the pre-join aggregate must exist (partial + final over l_orderkey)
    assert(plan.contains("sum_qty") || plan.contains("sum(l_quantity)"),
      s"aggregate-before-join missing:\n$plan")
  }

  test("q_embed_outliers: centroid table broadcasts; corpus side stays map-shaped") {
    val plan = finalPlan("q_embed_outliers")
    assert(plan.contains("BroadcastHashJoin"), s"centroids must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no corpus-wide shuffle join:\n$plan")
  }

  test("q_dedup_incremental: anti joins key on hashes, not text") {
    val plan = finalPlan("q_dedup_incremental")
    assert(plan.contains("LeftAnti"), s"anti-join pass missing:\n$plan")
    assert(plan.contains("xxhash64"), s"exact pass must key on the 8-byte hash:\n$plan")
  }

  test("q_quality_classifier / q_embed_project: scoring is a pure map — zero exchanges") {
    Seq("q_quality_classifier", "q_embed_project").foreach { q =>
      val plan = finalPlan(q)
      assert(!plan.contains("Exchange"), s"$q must not shuffle:\n$plan")
      assert(!plan.contains("Join"), s"$q must not join:\n$plan")
    }
  }

  test("q_lm_score: train is one bounded aggregation; scoring stage has no join") {
    val plan = finalPlan("q_lm_score")
    // the scoring query itself (train ran eagerly inside the builder):
    // scan -> project with the literal model, nothing else
    assert(!plan.contains("Join"), s"model must ship as a literal, not a join:\n$plan")
    assert(!plan.contains("Exchange"), s"scoring must not shuffle:\n$plan")
  }

  test("q_fuzzy_join: candidate join keys on variant hashes, text joins back by id") {
    val plan = finalPlan("q_fuzzy_join")
    assert(plan.contains("xxhash64"), s"variant keys must be 8-byte hashes:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"never all-pairs:\n$plan")
    assert(plan.contains("levenshtein"), s"exact verify must remain:\n$plan")
  }

  test("q_tpch_q19: both per-side projections of the disjunction reach the scans") {
    // formatted explain (not the truncated toString) exposes PushedFilters
    val df = PipelineQueries.queries("q_tpch_q19")(spark, sf)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // part scan: the brand+size arm disjunction is pushed
    assert(formatted.contains("EqualTo(p_brand,Brand#12)"),
      s"part-side disjunction must push to the part scan:\n$formatted")
    // lineitem scan: the quantity-envelope disjunction is pushed
    assert(formatted.contains("GreaterThanOrEqual(l_quantity,1.0)"),
      s"quantity bounds must push to the lineitem scan:\n$formatted")
    assert(!formatted.contains("CartesianProduct"))
  }

  test("q_tpch_q21: semi + anti probes on the fact; top-k via per-task heaps") {
    val plan = finalPlan("q_tpch_q21")
    assert(plan.contains("LeftSemi"), s"multi-supplier probe must be a semi join:\n$plan")
    assert(plan.contains("LeftAnti"), s"no-other-returner must be an anti join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"LIMIT must plan as per-task heaps, not a global sort:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_tpch_q7: nation pre-filters broadcast; mixed-pair residual stays above") {
    val plan = finalPlan("q_tpch_q7")
    assert(plan.contains("BroadcastHashJoin"), s"2-row nation subset must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"the cross-side disjunction must not force a nested loop:\n$plan")
  }

  test("q_range_join_sql: the optimizer rule kills the nested loop end to end") {
    val plan = finalPlan("q_range_join_sql")
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"RangeJoinBucketRule must rewrite the naive inequality join:\n$plan")
    assert(plan.contains("__graft_bk"), s"bucket equi-key missing:\n$plan")
  }

  test("q_tpch_q22: scalar average is the only nested-loop; anti join probes by key") {
    val plan = finalPlan("q_tpch_q22")
    // 1-row scalar broadcast: BNLJ here is the right plan — and the only one
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"scalar average should attach via a 1-row broadcast:\n$plan")
    assert(plan.contains("LeftAnti"), s"no-recent-orders must be an anti join:\n$plan")
  }

  /** AdaptiveSparkPlan.toString appends "== Initial Plan ==" after the
    * final plan — count nodes in the FINAL section only, or every
    * Exchange double-counts. "Exchange" counts only SHUFFLE exchanges:
    * without the lookbehinds, a Broadcast/ReusedExchange introduced by
    * AQE would trip (or mask a regression in) the exact `== 1` pins.
    */
  private def countOf(plan: String, token: String): Int = {
    val pat = if (token == "Exchange") "(?<!Broadcast)(?<!Reused)Exchange" else token
    pat.r.findAllMatchIn(plan.split("== Initial Plan ==").head).size
  }

  test("q_events_enriched: dim broadcasts, the event stream never shuffles") {
    val plan = finalPlan("q_events_enriched")
    assert(plan.contains("BroadcastHashJoin"), s"dim must broadcast:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"fact side must not shuffle:\n$plan")
  }

  test("q_tpch_q6: every predicate reaches the parquet scan; no join") {
    val plan = finalPlan("q_tpch_q6")
    assert(plan.contains("GreaterThanOrEqual(l_shipdate") &&
      plan.contains("LessThan(l_quantity"),
      s"predicates must push to the scan:\n$plan")
    assert(!plan.contains("Join"), s"Q6 has no join:\n$plan")
  }

  test("q_tpch_q15 / q_tpch_q17: the shared leg materializes once (cache, no double scan)") {
    // NOTE: InMemoryTableScan PRINTS its stored child plan (a FileScan
    // line appears beneath each cache read) — those are descriptions of
    // the one materialization, not executions. The pin is that BOTH legs
    // read the cache; count over the full adaptive string because AQE's
    // final section folds completed broadcast stages into stage refs.
    Seq("q_tpch_q15", "q_tpch_q17").foreach { q =>
      val plan = finalPlan(q)
      assert("InMemoryTableScan".r.findAllMatchIn(plan).size >= 2,
        s"$q: both legs must read the cached view:\n$plan")
    }
  }

  test("q_funnel: one corpus shuffle + one scalar reduction, no joins") {
    val plan = finalPlan("q_funnel")
    assert(!plan.contains("Join"), s"funnel must not self-join per stage:\n$plan")
    assert(countOf(plan, "Exchange") <= 2, s"one user shuffle + one scalar:\n$plan")
  }

  test("q_scd2: both windows ride ONE Exchange") {
    val plan = finalPlan("q_scd2")
    assert(countOf(plan, "Exchange") == 1, s"windows must share the shuffle:\n$plan")
    assert(countOf(plan, "Window") == 2, s"lag + lead windows expected:\n$plan")
  }

  test("q_moving_avg: group-by and RANGE window share one customer Exchange") {
    val plan = finalPlan("q_moving_avg")
    assert(countOf(plan, "Exchange") == 1,
      s"custkey pre-partitioning must serve both the agg and the window:\n$plan")
  }

  test("steal-noise watchlist: the six round-2 'regressed' queries keep their shapes") {
    // BENCH_r02 showed these 1.3-2.1x slower than round 1 with no plan
    // change; warm min-of-3 re-measurement confirmed steal noise. These
    // pins make a TRUE plan regression impossible to hide behind it.
    val plan1 = finalPlan("q_s4_l3_grid") //   partial agg -> 1 cell shuffle
    assert(countOf(plan1, "Exchange") == 1, s"q_s4_l3_grid one shuffle:\n$plan1")
    val plan2 = finalPlan("q_count_distinct") // multi-distinct Expand rewrite
    assert(countOf(plan2, "Exchange") == 2,
      s"q_count_distinct exactly two shuffles:\n$plan2")
    val plan3 = finalPlan("q_multimodal_features") // pure map, no shuffle
    assert(countOf(plan3, "Exchange") == 0 && plan3.contains("MapPartitions"),
      s"q_multimodal_features stays map-shaped:\n$plan3")
    val plan4 = finalPlan("q_s1_catalog")
    assert(countOf(plan4, "Exchange") == 1, s"q_s1_catalog one shuffle:\n$plan4")
    val plan5 = finalPlan("q_p6_sampling") // row-local decimation at the scan
    assert(countOf(plan5, "Exchange") == 0 && !plan5.contains("Join"),
      s"q_p6_sampling must not shuffle:\n$plan5")
    val plan6 = finalPlan("q_rollup") // one Expand pass, one shuffle
    assert(countOf(plan6, "Exchange") == 1 && plan6.contains("Expand"),
      s"q_rollup one expand + one shuffle:\n$plan6")
  }

  test("round-3 additions keep their scale shapes") {
    // IVF literal search: probes broadcast, the only shuffle is the
    // bounded per-query top-k aggregate (<= queries x k rows per task)
    val ivf = finalPlan("q_sim_ivf_literal")
    assert(ivf.contains("BroadcastHashJoin") && !ivf.contains("Cartesian"),
      s"probe set must broadcast:\n$ivf")
    assert(countOf(ivf, "Exchange") == 1 && ivf.contains("topk_by_score"),
      s"only the bounded top-k shuffle:\n$ivf")
    // unpivot: melt AFTER the aggregate — one fact shuffle, one Expand
    val up = finalPlan("q_unpivot")
    assert(countOf(up, "Exchange") == 1 && countOf(up, "Expand") == 1,
      s"q_unpivot one shuffle + one expand:\n$up")
    // layout plan: plain 2-phase aggregate
    val lk = finalPlan("q_lake_layout")
    assert(countOf(lk, "Exchange") == 1 && !lk.contains("Join"),
      s"q_lake_layout one shuffle, no join:\n$lk")
  }

  test("q_knn_classify: support set broadcasts, one output-sized shuffle, no window") {
    val plan = finalPlan("q_knn_classify")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"labeled support set must broadcast:\n$plan")
    assert(countOf(plan, "Exchange") == 1 && plan.contains("topk_by_score"),
      s"only the bounded per-row top-k shuffle:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Sort"),
      s"vote is a row-local fold — no window/sort:\n$plan")
  }

  test("q_anomaly_ewma: meter-sized shuffles only, sort inside the keyed group") {
    val plan = finalPlan("q_anomaly_ewma")
    // first Exchange moves map-side-combined (key, day) partials, second
    // re-keys the meter-sized series by key for the sequential fold
    assert(countOf(plan, "Exchange") == 2 && plan.contains("MapGroups"),
      s"two meter-sized shuffles + keyed fold:\n$plan")
    assert(countOf(plan, "Sort") == 1, s"one group-local sort:\n$plan")
    // pin the pruned column SET, not the parquet physical type — the
    // driver's ts encoding has shifted (int64-nanos -> timestamp_ntz)
    // and the plan property we protect is 2-column pruning, not encoding
    assert("struct<ts:[a-z_]+,event_type:string>".r.findFirstIn(plan).isDefined,
      s"scan must prune to exactly (ts, event_type):\n$plan")
  }

  test("q_events_sliding / q_skew_report / q_score_calibrate shapes") {
    // sliding windows: row-local Expand replication + ONE shuffle
    val sl = finalPlan("q_events_sliding")
    assert(countOf(sl, "Exchange") == 1 && sl.contains("Expand"),
      s"sliding windows = one Expand + one shuffle:\n$sl")
    // skew report: corpus count shuffle + key-sized rank window, no joins
    val sk = finalPlan("q_skew_report")
    assert(!sk.contains("Join"), s"skew report joins nothing:\n$sk")
    assert(sk.contains("Window"), s"rank selection window expected:\n$sk")
    // calibration: ONE lang-partitioned window pass, no extra shuffle
    val sc = finalPlan("q_score_calibrate")
    assert(countOf(sc, "Exchange") == 1 && countOf(sc, "Window") == 1,
      s"one lang shuffle + one window:\n$sc")
  }

  test("q_interval_join / q_attribution keep their scale shapes") {
    // interval overlap: bucket equi-join, never a nested loop/cartesian
    val ij = finalPlan("q_interval_join")
    assert(!ij.contains("NestedLoop") && !ij.contains("Cartesian"),
      s"interval join must stay bucket-joined:\n$ij")
    // attribution = as-of: one user-keyed window pass, no join node at all
    val at = finalPlan("q_attribution")
    assert(!at.contains("Join"), s"as-of rides a window, not a join:\n$at")
    assert(countOf(at, "Window") == 1, s"one window pass:\n$at")
  }

  test("portable-twin queries keep their scale shapes") {
    // portable minhash: banded bucket equi-join, never a cartesian —
    // candidate cost stays bounded by bucket sizes
    val mh = finalPlan("q_dedup_minhash_portable")
    assert(!mh.contains("Cartesian") && !mh.contains("NestedLoop"),
      s"portable minhash must stay bucket-joined:\n$mh")
    // the production-geometry registrations (now portable-family, oracled)
    // keep the same shape, and the expensive md5 hash-set expression must
    // appear ONCE per side — a predicate on the hash-set column would
    // inline it into the pushed filter (the round-4 3x-recompute trap)
    for (name <- Seq("q_dedup_minhash", "q_dedup_minhash_verified")) {
      val p = finalPlan(name)
      assert(!p.contains("Cartesian") && !p.contains("NestedLoop"),
        s"$name must stay bucket-joined:\n$p")
      assert(!p.contains("isnotnull(array_distinct") &&
        !p.contains("size(array_distinct"),
        s"$name: hash-set expression inlined into a pushed filter:\n$p")
    }
    // portable simhash: the 60 sign sums ride ONE doc-keyed shuffle
    val sh = finalPlan("q_dedup_simhash")
    assert(countOf(sh, "Exchange") == 1, s"simhash one shuffle:\n$sh")
    // literal-centroid semdedup: cluster equi-join + components, no
    // cartesian anywhere
    val sd = finalPlan("q_semdedup_literal")
    assert(!sd.contains("Cartesian") && !sd.contains("NestedLoop"),
      s"semdedup literal must stay cluster-joined:\n$sd")
    // sketch gates: plain two-phase aggregates, one shuffle
    val aq = finalPlan("q_approx_quantiles")
    assert(countOf(aq, "Exchange") == 1 && !aq.contains("Join"),
      s"q_approx_quantiles one shuffle, no join:\n$aq")
    val ad = finalPlan("q_approx_distinct")
    assert(!ad.contains("Join"), s"q_approx_distinct no join:\n$ad")
  }

  test("q_session_window: the native session aggregate rides one user shuffle") {
    val plan = finalPlan("q_session_window")
    assert(plan.contains("SessionWindow") || plan.contains("session_window"),
      s"native session windowing expected:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("Cartesian"),
      s"sessionization must not join:\n$plan")
  }

  test("q_triangles: adjacency intersection — no wedge blowup, no cartesian") {
    val plan = finalPlan("q_triangles")
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"),
      s"triangles must stay equi-joined:\n$plan")
    // the per-edge closure is a row-local array_intersect, not a join of
    // materialized wedges
    assert(plan.contains("array_intersect"), s"adjacency-intersection shape:\n$plan")
    // the lineage cuts hold: the final plan reads the checkpointed edge
    // RDDs — the co-occurrence construction must NOT re-enter it (a
    // parquet scan here means a leg re-executes the edge build)
    assert(!plan.contains("Scan parquet"),
      s"edge construction leaked past the checkpoint:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"closure joins should hash, not sort, the edge stream:\n$plan")
  }

  test("q_line_dedup: line df keyed by 8-byte hash — raw line text never " +
    "partitions a shuffle") {
    val plan = finalPlan("q_line_dedup")
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"),
      s"boilerplate pass must stay equi-joined:\n$plan")
    assert(plan.contains("xxhash64"), s"hash-keyed df expected:\n$plan")
    // the scale property: no Exchange partitions by the line string (a
    // raw-line shuffle would carry the whole corpus as keys)
    assert(!plan.contains("hashpartitioning(line"),
      s"df shuffle must key on the hash, not the line text:\n$plan")
  }

  test("q_corpus_curate: composed pipeline keeps every shuffle hash-keyed") {
    val plan = finalPlan("q_corpus_curate")
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"),
      s"composition must stay equi-joined:\n$plan")
    // neither raw line text nor cleaned document text partitions a
    // shuffle — both dedup stages key on 8-byte hashes
    assert(!plan.contains("hashpartitioning(line"),
      s"line df must key on the hash:\n$plan")
    assert(!plan.contains("hashpartitioning(text_clean"),
      s"exact dedup must key on the hash:\n$plan")
  }

  test("q_dq_referential: parent sides join as distinct keys; child aggregates map-side") {
    val plan = finalPlan("q_dq_referential")
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"),
      s"FK checks must stay equi-joined:\n$plan")
    // the one-row reports gather on SinglePartition after partial aggs
    assert(plan.contains("SinglePartition"), s"global report gather:\n$plan")
  }

  test("q_pagerank: no cartesian or nested-loop anywhere in the iteration") {
    val plan = finalPlan("q_pagerank")
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"),
      s"iterative joins must stay hash-based:\n$plan")
  }

  test("q_a6_histogram / q_a7_jhist: CellPartial -> one Exchange -> CellFinal") {
    for (q <- Seq("q_a6_histogram", "q_a7_jhist")) {
      val plan = finalPlan(q).split("== Initial Plan ==").head
      assert(!plan.contains("HashAggregate"), s"$q binned outside the cell aggregate:\n$plan")
      val lines = plan.linesIterator.toSeq
      def at(node: String): Seq[Int] = lines.indices.filter(lines(_).contains(node))
      assert(at("CellPartial").size == 1 && at("Exchange").size == 1 && at("CellFinal").size == 1,
        s"$q:\n$plan")
      assert(at("CellFinal").head < at("Exchange").head &&
        at("Exchange").head < at("CellPartial").head, s"$q:\n$plan")
      assert(lines(at("Exchange").head).contains("hashpartitioning(cell#"), s"$q:\n$plan")
    }
  }

  test("q_merge_upsert: CDC apply is ONE key shuffle with partial max_by — no join") {
    val plan = finalPlan("q_merge_upsert")
    assert(!plan.contains("Join"),
      s"snapshot+changelog must union, not join:\n$plan")
    assert(countOf(plan, "Exchange") == 1,
      s"exactly one hash Exchange on the key:\n$plan")
    // struct-valued max_by plans as SortAggregate (buffer isn't mutable
    // fixed-width) — the pin is the partial/final split, i.e. map-side
    // combine before the Exchange, not the aggregate's physical flavor
    assert(plan.contains("partial_max_by"),
      s"map-side partial max_by expected before the shuffle:\n$plan")
  }

  test("round-4 session additions keep their scale shapes") {
    // q_tpch_q2: argmin-by-join — the pair relation materializes ONCE
    // (cache feeds both the per-part min and the probe), the cut is a
    // per-task heap, and there is NO fact-sized Window anywhere
    val q2 = finalPlan("q_tpch_q2")
    assert(q2.contains("InMemoryTableScan"),
      s"pair relation must come from the cache:\n$q2")
    assert(!q2.contains("Window"), s"no Window in the argmin plan:\n$q2")
    assert(q2.contains("TakeOrderedAndProject"),
      s"top-100 must be per-task heaps:\n$q2")

    // q_tpch_q11: the cached value table feeds both the scalar total and
    // the threshold probe — lineitem scans once
    val q11 = finalPlan("q_tpch_q11")
    assert(q11.contains("InMemoryTableScan"),
      s"value table must come from the cache:\n$q11")

    // q_tpch_q16: complaint suppliers leave via an anti join; no
    // cartesian from the three broadcast dimensions
    val q16 = finalPlan("q_tpch_q16")
    assert(q16.contains("LeftAnti"), s"complaint removal must anti-join:\n$q16")
    assert(!q16.contains("CartesianProduct"), s"no cartesian:\n$q16")

    // q_hybrid_rrf: both legs end in per-task top-k heaps — the corpus
    // is never globally sorted (the rank Windows run on k-bounded rows)
    val rrf = finalPlan("q_hybrid_rrf")
    assert(rrf.contains("TakeOrderedAndProject"),
      s"legs must cut via per-task heaps:\n$rrf")

    // q_winsorize: the group-sized envelope broadcasts; the corpus side
    // never shuffles for the join
    val wz = finalPlan("q_winsorize")
    assert(wz.contains("BroadcastHashJoin"), s"envelope must broadcast:\n$wz")
    assert(!wz.contains("SortMergeJoin"), s"corpus must not shuffle-join:\n$wz")

    // q_stream_join: user-keyed equi-join with the interval as residual —
    // never a cartesian or nested-loop expansion
    val sj = finalPlan("q_stream_join")
    assert(!sj.contains("CartesianProduct") && !sj.contains("BroadcastNestedLoop"),
      s"interval must ride the user equi-join as a residual:\n$sj")
  }

  test("round-4 additions keep their scale shapes") {
    // q_cooccurrence: baskets collapse row-locally — ONE scan, two
    // Exchanges (basket key, pair key), never a self-join
    val co = finalPlan("q_cooccurrence")
    assert(countOf(co, "Scan parquet") == 1 && !co.contains("Join"),
      s"basket pairs must be row-local off one scan:\n$co")
    assert(countOf(co, "Exchange") == 2, s"two keyed shuffles only:\n$co")

    // q_transition_matrix: one event scan; totals ride the aggregated
    // pair frame, never a second event pass
    val tm = finalPlan("q_transition_matrix")
    assert(countOf(tm, "Scan parquet") == 1 && !tm.contains("Join"),
      s"totals must not re-scan events:\n$tm")

    // q_seq_windows / q_collapse_bursts: the (user[, type]) Exchange is
    // the only shuffle — the closing agg's clustered requirement is
    // satisfied by the window partitioning
    val sw = finalPlan("q_seq_windows")
    assert(countOf(sw, "Exchange") == 1 && !sw.contains("Join"),
      s"one keyed shuffle:\n$sw")
    val cb = finalPlan("q_collapse_bursts")
    assert(countOf(cb, "Exchange") == 1 && !cb.contains("Join"),
      s"burst agg must reuse the window Exchange:\n$cb")

    // q_gini: rank window and closing agg share one group Exchange
    val gi = finalPlan("q_gini")
    assert(countOf(gi, "Exchange") == 1 && !gi.contains("Join"),
      s"gini is one keyed sort + agg:\n$gi")

    // q_novelty: the shingle index materializes ONCE (cache) and is
    // reused by both the first-seen aggregate and the join-back
    val nv = finalPlan("q_novelty")
    assert(!nv.contains("CartesianProduct"), s"no pair blowup:\n$nv")
    assert(nv.contains("InMemoryTableScan"),
      s"index must be cached and reused, not recomputed:\n$nv")

    // q_standardize: the 5-row stats frame broadcasts back; the corpus
    // side never shuffles for the join
    val st = finalPlan("q_standardize")
    assert(st.contains("BroadcastHashJoin") && !st.contains("SortMergeJoin"),
      s"stats must broadcast:\n$st")

    // q_mixture_plan: sources-sized arithmetic — the 1-row total attaches
    // via broadcast, nothing corpus-sized moves after the count
    val mx = finalPlan("q_mixture_plan")
    assert(mx.contains("BroadcastNestedLoopJoin") || mx.contains("BroadcastHashJoin"),
      s"1-row total must broadcast:\n$mx")
    assert(!mx.contains("SortMergeJoin") && !mx.contains("CartesianProduct"),
      s"no corpus-sized join:\n$mx")
  }

  test("rolling-DAU / A-B test / bucket join keep their scale shapes") {
    // q_rolling_dau: the disjoint-interval explode is row-local — one
    // user-keyed Exchange (active-day arrays), one tiny day-keyed
    // Exchange; NEVER a W-wide range join or a windowed collect_set
    val rd = finalPlan("q_rolling_dau")
    assert(!rd.contains("Join"), s"rolling distinct must not range-join:\n$rd")
    assert(countOf(rd, "Exchange") == 2,
      s"user agg + day agg are the only shuffles:\n$rd")

    // q_ab_test: two map-side-combined aggregates (user grain, then the
    // 1-row summary) — no assignment-table join, nothing fact-sized after
    // the first partial aggregate
    val ab = finalPlan("q_ab_test")
    assert(!ab.contains("Join"), s"hash-split assignment must not join:\n$ab")
    assert(countOf(ab, "Exchange") == 2,
      s"user agg + scalar summary are the only shuffles:\n$ab")

    // q_bucket_join: the registered query re-buckets then joins; whatever
    // join strategy fires, there must be no shuffle between the bucketed
    // SCANS and the join (the zero-Exchange contract under disabled
    // broadcast is pinned in BucketJoinSpec against real bucketed tables)
    val bj = finalPlan("q_bucket_join")
    assert(!bj.contains("CartesianProduct"), s"no cartesian:\n$bj")

    // q_cuped: ONE event scan; user-grain agg + the 12-sum moments pass
    // are the only shuffles — no assignment or moments join anywhere
    val cu = finalPlan("q_cuped")
    assert(countOf(cu, "Scan parquet") == 1 && !cu.contains("Join"),
      s"moments must ride one scan, no join:\n$cu")
    assert(countOf(cu, "Exchange") == 2,
      s"user agg + scalar moments are the only shuffles:\n$cu")

    // q_judge_agreement: both raters are row-local (literal lexicon, no
    // weight-table join); the confusion cells reduce in the single
    // global aggregate
    val ja = finalPlan("q_judge_agreement")
    assert(countOf(ja, "Scan parquet") == 1 && !ja.contains("Join"),
      s"raters must be row-local off one scan:\n$ja")
    assert(countOf(ja, "Exchange") == 1,
      s"one scalar aggregate shuffle only:\n$ja")
  }

  test("round-6 additions keep their scale shapes") {
    // q_hilbert_layout: the stateful walk is ONE codegen'd projection
    // over the scan — zero shuffles, zero joins at any corpus size
    val hl = finalPlan("q_hilbert_layout")
    assert(countOf(hl, "Exchange") == 0 && !hl.contains("Join"),
      s"hilbert key must be a pure map:\n$hl")

    // q_kmeans_lattice (final assignment): same pure-map contract —
    // training's per-round aggregates run as separate bounded jobs
    val km = finalPlan("q_kmeans_lattice")
    assert(countOf(km, "Exchange") == 0 && !km.contains("Join"),
      s"lattice assignment must be a pure map:\n$km")

    // q_audio_dup: payload-local codec, then ONE fingerprint shuffle
    // with map-side partials — only (fp, count, min_id) rows move
    val ad = finalPlan("q_audio_dup")
    assert(countOf(ad, "Exchange") == 1 && !ad.contains("Join"),
      s"one map-side-combined fingerprint shuffle only:\n$ad")
    assert(countOf(ad, "HashAggregate") == 2,
      s"partial + final aggregate expected:\n$ad")

    // q_randomized_response: row-local coin, one group-sized aggregate
    val rr = finalPlan("q_randomized_response")
    assert(countOf(rr, "Exchange") == 1 && !rr.contains("Join"),
      s"one group aggregate shuffle only:\n$rr")

    // q_sim_ivf_lattice: the query side broadcasts (probes explode on
    // the small side), the corpus is never re-shuffled before the join,
    // and the top-k is a partial aggregate — no corpus-sized sort
    val iv = finalPlan("q_sim_ivf_lattice")
    assert(iv.contains("BroadcastHashJoin"),
      s"query probes must broadcast:\n$iv")
    assert(!iv.contains("SortMergeJoin") && !iv.contains("CartesianProduct"),
      s"no corpus-side sort join:\n$iv")
  }

  test("rank-stat family: no SinglePartition window ever touches the " +
    "distinct-value frame (two-phase bucketed prefix scan)") {
    // the round-8 gap: mannWhitneyU/ksTest/rocAuc ran Window.orderBy(v)
    // over the distinct-value frame — a one-task sort bounded only by a
    // documented (unenforced) value-domain contract. Now the cumulative
    // rank sums ride the lateDataReport two-phase scan: the ONLY
    // unpartitioned windows run over the bucket-collapsed frame (ordered
    // by pfx_b), and the within-bucket phase is partitioned by pfx_b.
    // round-9 additions ride the same scan: Kruskal-Wallis and Kendall
    // τ-b (k pivoted count columns on one prefixByValue), the gains
    // sweep, and the runs test (whose only unpartitioned window is the
    // bucket-frame boundary lag — metadata-sized by construction)
    for (q <- Seq("q_mann_whitney", "q_ks_test", "q_auc",
      "q_kruskal_wallis", "q_kendall_tau", "q_lift_gains",
      "q_runs_test")) {
      val plan = finalPlan(q)
      val windows = plan.linesIterator.filter(_.contains("Window ")).toList
      assert(windows.nonEmpty, s"$q: expected bucket-frame windows:\n$plan")
      windows.foreach { w =>
        assert(w.contains("pfx_b#"),
          s"$q: window must be bucket-scoped (over/by pfx_b), got:\n$w\n$plan")
      }
      // the within-bucket cumulative phase runs partition-parallel
      assert(plan.contains("hashpartitioning(pfx_b"),
        s"$q: partitioned in-bucket scan expected:\n$plan")
      // the bucket frame is broadcast back, never sort-merge joined
      assert(!plan.contains("SortMergeJoin"),
        s"$q: bucket frame must broadcast:\n$plan")
    }
  }

  test("survival family: at-risk and log-survival prefixes stay on the " +
    "bucketed two-phase scan; the interval sweep stays user-partitioned") {
    // q_km_lifetable / q_logrank accumulate over the distinct-DURATION
    // frame — same contract as the rank stats: every window either
    // bucket-scoped (pfx_b) or partitioned, never a SinglePartition sort
    // of the value frame
    // q_weighted_median rides the GROUPED scan — its windows are
    // additionally partitioned by the group, so the same pin holds
    for (q <- Seq("q_km_lifetable", "q_logrank", "q_weighted_median")) {
      val plan = finalPlan(q)
      val windows = plan.linesIterator.filter(_.contains("Window ")).toList
      assert(windows.nonEmpty, s"$q: expected bucket-frame windows:\n$plan")
      windows.foreach { w =>
        assert(w.contains("pfx_b#"),
          s"$q: window must be bucket-scoped (over/by pfx_b), got:\n$w\n$plan")
      }
      assert(plan.contains("hashpartitioning(pfx_b") ||
        plan.contains(", pfx_b#"),
        s"$q: partitioned in-bucket scan expected:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$q: bucket frame must broadcast:\n$plan")
    }
    // q_seq_monitor: the only unpartitioned window runs over the K-row
    // look frame (hypothesis-bounded, the q_fdr_bh argument); the unit
    // explode collapses through one partial-aggregated groupBy(look)
    val sm = finalPlan("q_seq_monitor")
    assert(sm.contains("partial_count") || sm.contains("HashAggregate"),
      s"q_seq_monitor: map-side combine expected:\n$sm")
    // count in the FINAL plan section only — AQE's toString repeats the
    // tree under "== Initial Plan ==" and would double-count
    val smFinal = sm.split("== Initial Plan ==").head
    val smWindows = smFinal.linesIterator.filter(_.contains("Window ")).toList
    assert(smWindows.size <= 1, s"one look-frame window only:\n$sm")
    // q_interval_union: the sweep window and the closing aggregate share
    // one user-keyed Exchange; no global sort anywhere
    val iu = finalPlan("q_interval_union")
    assert(iu.contains("hashpartitioning(user_id"),
      s"q_interval_union: user-keyed sweep expected:\n$iu")
    assert(!iu.linesIterator.exists(l =>
      l.contains("Window ") && !l.contains("user_id#")),
      s"q_interval_union: window must be user-partitioned:\n$iu")
  }

  test("artifact riders actually ride: no shingle machinery in their plans") {
    // the point of ComponentStore is that downstream consumers JOIN the
    // persisted assignment instead of re-pairing the corpus — a rider
    // whose plan re-derives shingles (xxhash64 over text, a join keyed
    // on sh) has silently regressed to the from-scratch formulation
    for (q <- Seq("q_dedup_weights_artifact", "q_ess_weights_artifact",
        "q_dedup_apply_artifact", "q_group_kfold_artifact")) {
      val plan = finalPlan(q)
      assert(!plan.contains("xxhash64"),
        s"$q: rider must not re-shingle the corpus:\n$plan")
      assert(!plan.contains("sh#") && !plan.contains("hashpartitioning(sh"),
        s"$q: rider must not rebuild the shingle index:\n$plan")
      assert(plan.contains("Scan parquet") || plan.contains("FileScan"),
        s"$q: rider must read the persisted assignment:\n$plan")
    }
  }

  test("bloom index / CMS / entity golden keep their scale shapes") {
    // q_bloom_index: the index and every probe decision are broadcast
    // joins (index and probes are metadata-sized); the only non-hash
    // join is the deliberate 1-row n_parts_total crossJoin. The corpus
    // is never sort-merge joined or exploded all-pairs.
    val bi = finalPlan("q_bloom_index")
    assert(bi.contains("BroadcastHashJoin"),
      s"index/candidate joins must broadcast:\n$bi")
    assert(!bi.contains("SortMergeJoin") && !bi.contains("CartesianProduct"),
      s"no corpus-side sort join in the lookup:\n$bi")

    // q_cms_freq: sketch-sized build aggregate (partial + final), then
    // probe estimates ride a broadcast of the sketch
    val cm = finalPlan("q_cms_freq")
    assert(cm.contains("BroadcastHashJoin"),
      s"sketch must broadcast to the probes:\n$cm")
    assert(!cm.contains("SortMergeJoin") && !cm.contains("CartesianProduct"),
      s"no sort join in the sketch path:\n$cm")

    // q_entity_golden: the matcher meets on variant hashes (hash join,
    // never all-pairs) and survivorship windows are entity-partitioned
    val eg = finalPlan("q_entity_golden")
    assert(!eg.contains("CartesianProduct"),
      s"no all-pairs stage anywhere:\n$eg")
    assert(eg.contains("Window"), s"survivorship window expected:\n$eg")
    assert(!eg.contains("Window [") ||
      !eg.contains("windowspecdefinition()"),
      s"survivorship window must be partitioned:\n$eg")

    // q_kmv_distinct: the sketch is a bounded-buffer aggregate riding
    // two-phase ObjectHashAggregate (<= k values per group per map task
    // reach the exchange — never a per-group sort of all hashes), and
    // the exact-verify leg broadcasts
    val kv = finalPlan("q_kmv_distinct")
    assert(countOf(kv, "ObjectHashAggregate") >= 2,
      s"partial + final sketch aggregate expected:\n$kv")
    assert(kv.contains("BroadcastHashJoin"),
      s"exact leg must broadcast:\n$kv")
    assert(!kv.contains("SortMergeJoin") && !kv.contains("CartesianProduct"),
      s"no sort join in the sketch path:\n$kv")
  }
}
