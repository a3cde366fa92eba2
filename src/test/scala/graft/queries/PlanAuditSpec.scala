package graft.queries

import graft.SparkSpec
import graft.SparkEntry
import graft.Bench.groupLimitBeforeExchange
import org.apache.spark.sql.functions.col

/** Physical-plan invariants for representative queries — the properties
  * that make them viable at 100 TB. A regression here (a filter that
  * stops reaching the scan, a dim join that stops broadcasting) would
  * still pass the value-level oracle at test scale, so it's guarded
  * structurally.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf()).queryExecution.executedPlan.toString

  test("serve_point_lookup pushes the key filter into the parquet scan") {
    val p = plan("serve_point_lookup")
    assert(p.contains("PushedFilters: [IsNotNull(user_id), EqualTo(user_id"), p)
  }

  test("incremental_high_watermark pushes the range predicate on the raw " +
    "scan column (nanos long or NTZ timestamp, per the on-disk schema)") {
    val p = plan("incremental_high_watermark")
    assert(p.contains("GreaterThan(ts,"), p)
  }

  test("text_bm25_topk: df and corpus stats broadcast; tf aggregates " +
    "partially before its exchange") {
    val p = plan("text_bm25_topk")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "partial + final aggregation expected for tf and df\n" + p)
  }

  test("text_quality_classifier scoring is map-only (weights are plan " +
    "literals, no join and no exchange)") {
    val p = plan("text_quality_classifier")
    assert(!p.contains("Exchange"), s"scoring must not shuffle\n$p")
    assert(!p.contains("Join"), s"weights must be literals, not a table\n$p")
  }

  test("text_source_overlap: per-source totals broadcast onto the pair agg") {
    val p = plan("text_source_overlap")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sourceOverlapSketch runs ONE corpus scan+shuffle (the second " +
    "join branch reuses the sketch exchange) and a bounded broadcast " +
    "sketch join — never a line self-join") {
    val df = graft.text.TextAnalysis.sourceOverlapSketch(
      graft.model.Tables.documents(spark, sf()).select("source", "text"),
      "source", "text", 3)
    // execute THIS queryExecution (count() would build a new one) so
    // the adaptive plan finalizes and exchange reuse becomes visible
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"k×k sketch join must be the bounded broadcast form\n$p")
    assert(p.contains("ReusedExchange") ||
      "Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"the two sketch branches must share one corpus scan\n$p")
  }

  test("pipeline_curation_e2e joins the per-source shard counts by " +
    "broadcast, with partial aggregation before the funnel exchange") {
    val p = plan("pipeline_curation_e2e")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "partial + final funnel aggregation expected\n" + p)
  }

  test("PQ ADC top-k: broadcast lookup table, group limit before the exchange") {
    val emb = graft.model.Tables.embeddings(spark, sf())
    val cbs = graft.similarity.Similarity.pqTrain(emb, "vec_id",
      "embedding", m = 4, k = 8, iters = 1)
    val codes = graft.similarity.Similarity.pqEncode(emb, "vec_id",
      "embedding", cbs)
    val exec = graft.similarity.Similarity.pqAdcTopK(
        emb.where(col("vec_id") < 4), codes, cbs, "vec_id", "embedding", 5)
      .queryExecution.executedPlan
    val p = exec.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(groupLimitBeforeExchange(exec) && !p.contains("FinalTopK"),
      s"per-query top-k must cap rows per key before the shuffle\n$p")
  }

  test("join_broadcast_dims broadcasts both dimension tables") {
    val p = plan("join_broadcast_dims")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("join_bloom_pruned: with broadcast off, Spark's runtime filter " +
    "prunes the events scan by a Bloom filter of the build keys") {
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val p = plan("join_bloom_pruned")
      assert(p.contains("might_contain"), p)
      assert(p.contains("bloom_filter_agg(xxhash64(c_custkey"), p)
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("topk queries use the heap operator, never a sort+window") {
    val p = plan("topk_custom_plan")
    assert(p.contains("FinalTopK"), p)
    assert(!p.contains("WindowExec"), p)
  }

  test("tpch_q1 aggregates partially before the exchange") {
    val p = plan("tpch_q1_pricing_summary")
    val firstAgg = p.indexOf("HashAggregate")
    val exchange = p.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "partial + final aggregation expected\n" + p)
  }

  test("etl_stage_mapping reads only the projected columns") {
    val p = plan("etl_stage_mapping")
    // the stage mapping never touches `props`-unrelated payload like
    // lineitem columns; its scan must not read more than the events schema
    assert(p.contains("ReadSchema"), p)
    assert(!p.toLowerCase.contains("l_orderkey"), p)
  }

  test("near-dup candidate stage: batched band keys, no cartesian product") {
    // the candidate stage is materialized by the query, so audit its
    // plan directly. ALL band keys must come from the single
    // SrpBandKeys expression — per-band expressions regress whole-stage
    // codegen into a ~10 s janino compile (the round-2 10.9 s cliff)
    val p = graft.similarity.Similarity.cosineNearDupCandidates(
      graft.model.Tables.embeddings(spark, sf()), "vec_id", "embedding", 0.4)
      .queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("srpbandkeys"), p)
    assert("srpsignature\\(".r.findAllIn(p.toLowerCase).size <= 2, // sketch only
      "band keys must be batched, not per-band signatures\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    val rerank = plan("sim_cosine_neardups")
    assert(!rerank.contains("CartesianProduct"), rerank)
  }

  test("agg_kmeans_cells: assignment is map-only (single aggregation exchange)") {
    val p = plan("agg_kmeans_cells")
    // nearest-centroid assignment must be a Project against centroid
    // literals — a join against a centroid table would add an exchange
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"expected the one groupBy exchange, got $exchanges\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "partial + final aggregation expected\n" + p)
  }

  test("row_number top-k queries cap rows per key before the key exchange") {
    for (q <- Seq("window_top_order_per_customer", "sim_topk_ivf")) {
      val exec = SparkEntry.queries(q)(spark, sf()).queryExecution.executedPlan
      val p = exec.toString
      assert(groupLimitBeforeExchange(exec), s"$q:\n$p")
      assert(!p.contains("FinalTopK"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("text_decontaminate: eval grams broadcast; the corpus side never shuffles " +
    "before the join") {
    val p = plan("text_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // the streamed (corpus) side sits between the join line and the
    // BroadcastExchange in the top-down print: it must contain no
    // shuffle — the corpus only exchanges AFTER the join cut it down
    val streamed = p.substring(p.indexOf("BroadcastHashJoin"),
      p.indexOf("BroadcastExchange"))
    assert(!streamed.contains("Exchange hashpartitioning"), p)
  }

  test("text_decontaminate_fuzzy: eval postings broadcast; the corpus side " +
    "is map-only until the partial-aggregated pair count") {
    val p = plan("text_decontaminate_fuzzy")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    val streamed = p.substring(p.indexOf("BroadcastHashJoin"),
      p.indexOf("BroadcastExchange"))
    assert(!streamed.contains("Exchange hashpartitioning"),
      "the corpus may only exchange AFTER the broadcast join:\n" + p)
    // the intersection count must combine map-side — a pair-agg without
    // a partial pass would shuffle every shared-shingle collision row
    assert(p.contains("partial_count"), p)
  }

  test("text_repetition_stats: gram counting aggregates partially before " +
    "every exchange (within-doc repetition combines map-side)") {
    val p = plan("text_repetition_stats")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "partial + final aggregation expected for both gram sizes\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("join_bucketed_colocated: bucketed SMJ with no shuffle exchange") {
    val p = plan("join_bucketed_colocated")
    assert(p.contains("SortMergeJoin"), p)
    // the join and the per-key partial agg ride the bucket layout; only
    // the final small groupBy(status, priority) may exchange
    val join = p.indexOf("SortMergeJoin")
    assert(!p.substring(join).contains("Exchange hashpartitioning"),
      "bucketed join sides must not re-shuffle\n" + p)
    assert(p.contains("Bucketed: true"), p)
  }

  test("tpch q3/q10/q18 LIMIT runs as a heap (TakeOrderedAndProject), no global sort") {
    for (q <- Seq("tpch_q3_shipping_priority", "tpch_q10_returned_items",
                  "tpch_q18_large_volume_customer")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q:\n$p")
      assert(!p.contains("GlobalLimit"), s"$q:\n$p")
    }
  }

  test("tpch_q6 pushes every predicate into the lineitem scan") {
    // toString truncates long PushedFilters lists; use formatted explain
    val p = SparkEntry.queries("tpch_q6_forecast_revenue")(spark, sf())
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("LessThan(l_shipdate"), p)
    assert(p.contains("LessThan(l_quantity,24.0"), p)
    assert(p.contains("GreaterThanOrEqual(l_discount,0.04"), p)
  }

  test("tpch_q5 pushes the order-date range and broadcasts the dims") {
    val p = plan("tpch_q5_local_supplier_volume")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
    assert(p.contains("EqualTo(r_name,ASIA)"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
  }

  test("dedup_incremental_bucketed: corpus index never re-shuffles — the " +
    "one exchange is on the new batch") {
    val p = plan("dedup_incremental_bucketed")
    assert(p.contains("SortMergeJoin LeftAnti") || p.contains("LeftAnti"), p)
    assert(p.contains("Bucketed: true"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "exactly one exchange expected (the batch side)\n" + p)
    // top-down print: the streamed (batch/left) side comes first, so
    // the exchange must appear BEFORE the bucketed catalog scan
    assert(p.indexOf("Exchange hashpartitioning") < p.indexOf("graft_fp_index"),
      "the exchange must be on the batch side, not the corpus index\n" + p)
  }

  test("correlated subqueries decorrelate to hash semi/anti joins, never " +
    "nested loops") {
    // q4: EXISTS with a two-column correlation (orderkey equality +
    // orderdate inequality) must become a LeftSemi HASH join carrying
    // the inequality as its extra condition — a BroadcastNestedLoopJoin
    // here would rescan lineitem per order at 100 TB
    val q4 = plan("tpch_q4_order_priority")
    assert(q4.contains("LeftSemi"), q4)
    // q21: EXISTS + NOT EXISTS self-correlations → one semi, one anti
    val q21 = plan("tpch_q21_waiting_suppliers")
    assert(q21.contains("LeftSemi") && q21.contains("LeftAnti"), q21)
    // q22: correlated scalar avg → per-key aggregate joined back on the
    // correlation key; filtered NOT EXISTS → anti join
    val q22 = plan("tpch_q22_idle_rich_customers")
    assert(q22.contains("LeftAnti"), q22)
    assert("HashAggregate".r.findAllIn(q22).size >= 2,
      "correlated scalar must rewrite to an aggregate, not a rescan\n" + q22)
    for ((q, p) <- Seq("q4" -> q4, "q21" -> q21, "q22" -> q22)) {
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
  }

  test("tpch q11/q20: uncorrelated HAVING scalar runs once, nested IN + " +
    "correlated HAVING scalar decorrelate to hash joins") {
    // q11: the threshold is a one-row subquery stage, not a join — the
    // HAVING must appear as a plain Filter over the grouped aggregate
    val q11 = plan("tpch_q11_part_concentration")
    assert(q11.contains("Subquery") || q11.contains("scalar-subquery"),
      "threshold must execute as a scalar subquery stage\n" + q11)
    // q20: outer IN → semi join on s_suppkey; inner dim IN → semi join
    // on l_partkey; correlated HAVING scalar → per-part aggregate
    // joined back (so >= 3 HashAggregates: group agg, per-part agg,
    // plus partials)
    val q20 = plan("tpch_q20_excess_inventory")
    assert(q20.contains("LeftSemi"), q20)
    assert("HashAggregate".r.findAllIn(q20).size >= 2,
      "correlated HAVING scalar must rewrite to an aggregate\n" + q20)
    for ((q, p) <- Seq("q11" -> q11, "q20" -> q20)) {
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
  }

  test("lateral ORDER BY+LIMIT decorrelates to WindowGroupLimit with a " +
    "map-side partial, never a per-outer-row rescan") {
    val p = plan("join_lateral_topk_per_nation")
    // the per-nation LIMIT must run as group-limit pruning BEFORE the
    // exchange (Partial) and again after (Final) — so the shuffle
    // carries ≤ k rows per group per map task, not the whole table
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial"), "map-side partial group-limit missing\n" + p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("tpch q7/q13/q14/q15/q17/q19: every shape stays on hash joins — " +
    "two-role dims, outer-join counts, scalar subqueries, disjunctive residuals") {
    val q13 = plan("tpch_q13_customer_distribution")
    assert(q13.contains("LeftOuter"),
      "zero-order customers must survive via an OUTER hash join\n" + q13)
    val q17 = plan("tpch_q17_small_quantity_revenue")
    assert("HashAggregate".r.findAllIn(q17).size >= 2,
      "per-part correlated scalar must decorrelate to an aggregate\n" + q17)
    for (q <- Seq("tpch_q7_volume_shipping", "tpch_q8_market_share",
                  "tpch_q13_customer_distribution",
                  "tpch_q14_promo_effect", "tpch_q15_top_supplier",
                  "tpch_q17_small_quantity_revenue", "tpch_q19_discounted_revenue")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
  }

  test("layout_zorder_prune pushes BOTH box dimensions into the " +
    "re-clustered scan (the stats-pruning contract)") {
    // formatted mode: the compact toString truncates long filter lists
    val p = SparkEntry.queries("layout_zorder_prune")(spark, sf())
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("GreaterThanOrEqual(user_id,100)"), p)
    assert(p.contains("LessThanOrEqual(user_id,119)"), p)
    assert(p.contains("GreaterThanOrEqual(value,40.0)"), p)
    assert(p.contains("LessThanOrEqual(value,60.0)"), p)
  }

  test("text_line_dedup broadcasts the duplicate-line set; the exploded " +
    "corpus itself never shuffles for the anti join") {
    val p = plan("text_line_dedup")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    // only the distinct-count aggregation shuffles (partial-dedup by
    // (line, doc_id), then count by line); the probe side streams
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p)
  }

  test("dedup_semantic assigns cells as one codegen expression (no join) " +
    "and never degenerates to a nested-loop join") {
    val p = plan("dedup_semantic")
    assert(p.toLowerCase.contains("nearestcells"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ivf assignment (nearest_cells) stays inside whole-stage codegen") {
    val cents = graft.similarity.Similarity.trainCentroids(
      graft.model.Tables.embeddings(spark, sf()), "vec_id", "embedding",
      numCells = 90, iters = 1)
    val df = graft.model.Tables.embeddings(spark, sf()).select(
      org.apache.spark.sql.functions.col("vec_id"),
      graft.similarity.Similarity.cellFor(cents)(
        org.apache.spark.sql.functions.col("embedding")).as("cell"))
    val p = df.queryExecution.executedPlan.toString
    // `*(n)` is WholeStageCodegen's toString marker
    assert(p.contains("*(1) Project"), p)
    // one expression, not one-per-cell: the 90-cell matrix must ride as
    // a reference object, or janino compile time explodes past ~64 cells
    assert("nearestcells".r.findAllIn(p.toLowerCase).size <= 1, p)
  }

  test("tpch q2/q12/q16/q9: correlated min, conditional counts, the NOT " +
    "IN blacklist, and the 5-table profit join all stay on hash joins") {
    val q16 = plan("tpch_q16_supplier_part_counts")
    assert(q16.contains("LeftAnti"),
      "NOT IN blacklist must execute as an anti hash join\n" + q16)
    // q2's correlated scalar MIN must decorrelate to a per-part
    // aggregate joined back — an aggregate beyond the ps CTE's own
    val q2 = plan("tpch_q2_min_cost_supplier")
    assert("HashAggregate".r.findAllIn(q2).size >= 2,
      "correlated scalar min must rewrite to an aggregate\n" + q2)
    for (q <- Seq("tpch_q2_min_cost_supplier",
                  "tpch_q12_ship_priority_counts",
                  "tpch_q16_supplier_part_counts",
                  "tpch_q9_product_profit")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
  }

  test("text_tfidf_topk folds corpus size in-plan: N is a broadcast " +
    "1-row cross join, not a driver-side count action") {
    val p = plan("text_tfidf_topk")
    assert(p.contains("BroadcastNestedLoopJoin") && p.contains("Cross"),
      "N must enter the plan as a broadcast 1-row aggregate\n" + p)
    assert(p.contains("FinalTopK"), p)
  }

  test("dedup_substring_incremental: the persisted window index never " +
    "re-shuffles — exchanges land on the batch side and the span merge") {
    val p = plan("dedup_substring_incremental")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("Bucketed: true"), p)
    // the index scan must not sit under an Exchange: top-down print
    // shows the batch side first, so every exchange appears BEFORE the
    // bucketed index scan
    val idxAt = p.indexOf("graft_win_index")
    assert(idxAt >= 0, p)
    assert(p.lastIndexOf("Exchange hashpartitioning") < idxAt,
      "an exchange below/after the index scan means the corpus side " +
        "re-shuffled\n" + p)
  }

  test("dedup_substring_spans: full-corpus exchanges are hash-keyed " +
    "(8-byte window hash), strings group only on the candidate side") {
    val p = plan("dedup_substring_spans")
    // two semi joins: hash-candidate filter, then string-equality confirm
    assert("LeftSemi".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dedup_chunk_keep_first: arg-min by partial-mergeable struct-min " +
    "aggregate, never a window (row_number over a hot chunk hash would " +
    "ship every occurrence to one task; partial minima are bounded)") {
    val p = plan("dedup_chunk_keep_first")
    assert(!p.contains("WindowExec"), p)
    // struct-min compiles to SortAggregate (structs aren't hash-
    // aggregable) — partial + final with only per-partition minima
    // crossing the exchange is the property that matters
    assert("SortAggregate".r.findAllIn(p).size >= 2,
      "partial + final struct-min expected\n" + p)
  }

  test("text_dsir_weights: the bucket model and its totals broadcast — " +
    "the corpus never sort-merge-joins or shuffles on a text key") {
    val p = plan("text_dsir_weights")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // totals fold in-plan as a broadcast 1-row cross join, not a
    // driver-side count
    assert(p.contains("BroadcastNestedLoopJoin") && p.contains("Cross"), p)
  }

  test("drift_psi_nchars: ONE corpus scan — conditional sums count both " +
    "slices in a single pass; totals are a window over the aggregated " +
    "bucket table, not a second scan branch") {
    val p = plan("drift_psi_nchars")
    assert("FileScan".r.findAllIn(p).size == 1,
      "a totals agg branch re-scans the corpus\n" + p)
    assert(p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("text_adaptive_length_gate: per-language thresholds broadcast " +
    "back — the corpus side never shuffles for the join") {
    val p = plan("text_adaptive_length_gate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("text_trigram_backoff: all five model joins broadcast and N/V " +
    "fold in-plan — the scored corpus never shuffles on a text key") {
    val p = plan("text_trigram_backoff")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 5, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin") && p.contains("Cross"),
      "N and V must enter as a broadcast 1-row aggregate\n" + p)
  }

  test("etl_skew_profile: top-k is a bounded heap over the pinned " +
    "key-count table; stats enter as a broadcast 1-row aggregate") {
    val p = plan("etl_skew_profile")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the corpus appears once: both branches read the localCheckpoint
    // (ExistingRDD), never a second FileScan
    assert(!p.contains("FileScan"), p)
    assert(p.contains("BroadcastNestedLoopJoin") && p.contains("Cross"), p)
  }

  test("drift_ks_value: hierarchical prefix — windows are partitioned " +
    "or value-table-sized, offsets broadcast, argmax is a heap top-1") {
    val p = plan("drift_ks_value")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("FileScan"), "corpus must be read once (pinned)\n" + p)
  }

  test("graph_label_propagation: every message join hash-joins on the " +
    "node key — no cartesian/nested-loop anywhere in the 4-round plan") {
    val p = plan("graph_label_propagation")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("window_funnel_steps: one shuffle total — the stage windows " +
    "share a key exchange and the collapse reuses its partitioning") {
    val p = plan("window_funnel_steps")
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), "per-stage self-joins must not appear\n" + p)
  }

  test("dedup_lsh_tuning: every per-config expectation folds into ONE " +
    "aggregation pass over the pair table") {
    val p = plan("dedup_lsh_tuning")
    // one partial+final pair: exactly 2 HashAggregate nodes downstream
    // of the pair join (the S-curve sums); more would mean per-config
    // re-scans of the pair table
    val agg = "HashAggregate".r.findAllIn(p).size
    assert(agg <= 8, s"expected one partial+final agg chain, got $agg\n$p")
    assert(p.contains("Generate explode"), p) // config rows from 1 row
  }

  test("sample_reservoir_per_key: bounded heap on both sides of the " +
    "exchange — never a full-group window sort") {
    val p = plan("sample_reservoir_per_key")
    assert(p.contains("PartialTopK"), "map-side heap must bound the shuffle\n" + p)
    assert(p.contains("FinalTopK"), p)
    assert(!p.contains("Window"), "rank must come from the heap, not a window\n" + p)
    assert(!p.contains("Sort"), "no per-group sort of the full input\n" + p)
  }

  test("sim_cluster_silhouette: map-only projections into ONE " +
    "partial+final agg — no join, a single exchange of 8-cell partials") {
    val p = plan("sim_cluster_silhouette")
    assert(!p.contains("Join"), "centroids must be plan literals\n" + p)
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Window"), p)
  }

  test("sim_mmr_rerank: one exchange on query_id feeding per-group " +
    "MapGroups — the greedy loop parallelizes across queries") {
    val p = plan("sim_mmr_rerank")
    assert(p.contains("MapGroups"), p)
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), "pairwise sims are computed in-group\n" + p)
  }

  test("agg_cohort_retention: every agg partial-aggregates before its " +
    "exchange and the first-day join is a hash join, never a cartesian") {
    val p = plan("agg_cohort_retention")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    // distinct + count chains: >= 3 partial/final HashAggregate pairs
    assert("HashAggregate".r.findAllIn(p).size >= 6, p)
  }

  test("graph_triangle_counts: wedge enumeration and closing are hash " +
    "joins — never a cartesian or nested loop") {
    val p = plan("graph_triangle_counts")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") || p.contains("Join"), p)
  }

  test("agg_weighted_median: ONE exchange — the cumulative and total " +
    "window sums and the final agg all share the group-key partitioning") {
    val p = plan("agg_weighted_median")
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("text_winnow_fingerprints is MAP-ONLY: array HOFs per row — no " +
    "exchange, no window, no join") {
    val p = plan("text_winnow_fingerprints")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
  }

  test("text_winnow_neardups: the pairing is a hash self-join on the " +
    "fingerprint key, never a cartesian") {
    val p = plan("text_winnow_neardups")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("agg_time_decay_revenue: reference instant is a broadcast 1-row " +
    "agg; ONE corpus aggregation exchange, no window") {
    val p = plan("agg_time_decay_revenue")
    assert(p.contains("BroadcastExchange"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Window"), p)
  }

  test("window_session_paths: island windows and the session collapse " +
    "share the per-key partitioning; top-k is a heap, not a global sort") {
    val p = plan("window_session_paths")
    // one exchange for the per-user windows + session agg, one for the
    // path count; the final top-20 must be TakeOrderedAndProject
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sim_embedding_standardize: dim-sized moment table broadcast " +
    "back; the corpus stream never re-shuffles") {
    val p = plan("sim_embedding_standardize")
    assert(p.contains("BroadcastHashJoin"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("sim_label_separation: centroid/within joins are hash joins, " +
    "never a cartesian or nested loop") {
    val p = plan("sim_label_separation")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("agg_association_rules: partial-agg'd pair counts, broadcast " +
    "1-row N, heap top-k — never a cartesian") {
    val p = plan("agg_association_rules")
    assert(!p.contains("CartesianProduct"), p)
    // pair groupBy + item stats + N each aggregate partially before
    // their exchange (map-side combine is what bounds the pair shuffle)
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "partial + final aggregation expected\n" + p)
    assert(p.contains("BroadcastExchange"),
      "the 1-row basket-count must broadcast\n" + p)
    assert(p.contains("TakeOrderedAndProject"),
      "top-50 by lift must be a bounded heap, not a global sort\n" + p)
  }

  test("text_rake_keywords: word scores broadcast onto the phrase " +
    "explode; heap top-k; no cartesian") {
    val p = plan("text_rake_keywords")
    assert(p.contains("BroadcastHashJoin"),
      "word-score join must broadcast (vocabulary-sized model)\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"),
      "top-25 by score must be a bounded heap\n" + p)
  }

  test("etl_profile_table: no Expand anywhere (r15 narrow-posting " +
    "exact distinct); summary+distinct frames broadcast-join") {
    val p = plan("etl_profile_table")
    assert(!p.contains("Expand"),
      "exact distincts must come from the narrow typed-posting " +
        "explode, never Spark's multi-distinct Expand (input ×(cols+1) " +
        "full-width rows — the measured 2000× cliff at 6M rows; " +
        "approx_count_distinct remains the 100 TB default)\n" + p)
    assert(p.contains("Generate"),
      "the posting explode is the distinct pass's only row expansion\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "the two 11-row result frames must broadcast-join\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "no shuffled join between column-count-sized frames\n" + p)
    // exact mode is deliberately TWO scans of the input (summary agg
    // pass + posting-distinct pass) — re-pin the count so a regression
    // to 3+ scans is caught; the one-pass claim is scoped to approx mode
    val nScans = "Scan parquet".r.findAllIn(p).size
    assert(nScans == 2,
      s"exact profile must read the input exactly twice " +
        s"(summary + postings), saw $nScans\n" + p)
  }
}
