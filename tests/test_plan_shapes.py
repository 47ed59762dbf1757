"""Physical-plan shape assertions (SURVEY §4/§5): the optimizations
the 100 TB design depends on must actually appear in the plan —
pushdown, column pruning, broadcast joins, no accidental cartesian
products. These tests would catch a regression that stays correct
but stops scaling."""

from __future__ import annotations

from selfhealingdatapipeline_gcp_spark import registry

from conftest import SF_ORACLE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q1_filter_pushdown_and_pruning(spark):
    df = registry.queries()["q1_pricing_summary"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: l_partkey/l_suppkey are not read
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "l_partkey" not in read_schema[0]


def test_q6_all_predicates_pushed(spark):
    df = registry.queries()["q6_forecast_revenue"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "PushedFilters" in plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({col})" in plan or col in plan.split("PushedFilters")[1][:400]


def test_q5_dims_broadcast(spark):
    df = registry.queries()["q5_regional_revenue"](spark, SF_ORACLE)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2  # nation + region at minimum
    assert "CartesianProduct" not in plan


def test_etl_enriched_broadcasts_dims(spark):
    df = registry.queries()["etl_orders_enriched"](spark, SF_ORACLE)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_lsh_pairing_is_bucket_grouped(spark):
    """The LSH candidate stage must be the bucket-grouped form: NO
    self-join at all (the join form re-evaluated the signature
    subtree per side and went 16× superlinear at sf1), no cartesian,
    and pair emission via generators over collected buckets."""
    df = registry.queries()["dedup_minhash_lsh"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Join" not in plan, "minhash pairing regressed to a self-join"
    assert "Generate" in plan  # explode-based pair emission
    assert "HashAggregate" in plan  # signature + bucket groupBys


def test_ann_bruteforce_broadcasts_queries(spark):
    """Brute-force ANN must broadcast the query set (corpus never
    shuffles); the nested-loop join IS the intended shape here."""
    df = registry.queries()["ann_bruteforce_topk"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan


def test_dedup_embedding_default_is_cell_bounded(spark):
    """dedup_embedding's DEFAULT path must pair inside cells, never
    corpus×corpus (VERDICT r1 #5). Since the r5 Arrow rewrite the
    plan has NO joins at all: a mapInPandas centroid assignment, ONE
    exchange on cent_id, and a per-cell FlatMapGroupsInPandas scorer.
    Any join node in this plan is a regression toward the quadratic
    form."""
    df = registry.queries()["dedup_embedding_cells"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Join" not in plan, f"cells path regressed to a join\n{plan[:1500]}"
    assert "FlatMapGroupsInPandas" in plan  # per-cell Arrow scorer
    assert "MapInPandas" in plan            # Arrow cell assignment
    assert "hashpartitioning(cent_id" in plan  # the single cell shuffle


def test_ivf_broadcast_side_is_filtered(spark):
    """The IVF final-score join must broadcast ONLY the query vectors:
    the optimized plan's query branch carries a vec_id filter, so the
    full corpus is never shipped to every executor (VERDICT r1 #4)."""
    for name in ("ann_ivf_topk", "ann_ivf_kmeans_topk"):
        df = registry.queries()[name](spark, SF_ORACLE)
        opt = _optimized(df)
        # every ResolvedHint/broadcast subtree that projects qv must sit
        # above a vec_id range filter; cheap proxy: the filter count on
        # vec_id range must cover probe side AND query side (>= 2)
        assert opt.count("vec_id#") > 0
        assert opt.count("< 5") >= 2, (
            f"{name}: query-side broadcast appears unfiltered\n{opt}")


def test_ivf_centroid_selection_is_fixed_k(spark):
    """The centroid set shipped to every executor must be a FIXED-K
    relation (TakeOrderedAndProject with limit=K), never derived from
    corpus size — the r2 stride rule grew the broadcast O(n/100) and
    OOMs at 10^9 vectors (VERDICT r2 #1).

    ann_ivf_topk keeps the pick in its own plan; the Arrow cells path
    (dedup_embedding_cells) collects the pick as a K-row plan-shaping
    constant inside assign_cells_arrow, so the fixed-K property is
    asserted on the pick plan itself."""
    from selfhealingdatapipeline_gcp_spark import catalog
    from selfhealingdatapipeline_gcp_spark.operators import similarity

    df = registry.queries()["ann_ivf_topk"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "TakeOrderedAndProject(limit=16" in plan, (
        f"ann_ivf_topk: centroid pick is not a fixed-K top-K\n{plan[:2000]}")
    assert "% 100" not in plan, "stride centroid filter survives"

    emb = catalog.load(spark, SF_ORACLE, "embeddings")
    pick_plan = _plan(similarity.fixed_k_centroids_raw(emb, 16))
    assert "TakeOrderedAndProject(limit=16" in pick_plan, (
        f"fixed_k_centroids_raw is not a fixed-K top-K\n{pick_plan[:2000]}")
    assert "% 100" not in pick_plan
    # the cells-path main plan must not smuggle the stride rule back
    cells_plan = _plan(
        registry.queries()["dedup_embedding_cells"](spark, SF_ORACLE))
    assert "% 100" not in cells_plan


def test_cap_per_source_prefilters_before_stratum_window(spark):
    """The exact per-stratum rank must sit above a salted partial rank
    (partition by stratum AND salt) that bounds each task to <= cap
    rows per slice — one window per raw stratum would pin a hot domain
    to a single task (VERDICT r2 #2)."""
    df = registry.queries()["cap_per_source"](spark, SF_ORACLE)
    plan = _plan(df)
    windows = [ln for ln in plan.splitlines() if "Window " in ln or
               ln.strip().startswith("Window")]
    assert len(windows) >= 2, f"expected two-phase ranking\n{plan[:2000]}"
    assert "__salt" in plan, "salted prefilter window missing"


def test_range_join_is_bucketed_equijoin(spark):
    """The interval join must run as a hash/sort-merge equi-join on
    (user_id, bucket) — a nested-loop or cartesian here means the
    bucketing broke and hot users would fan out quadratically."""
    df = registry.queries()["range_join_purchase_context"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) \
        or ("BroadcastHashJoin" in plan)


def test_q1_partial_aggregation(spark):
    """Map-side combine: two HashAggregate levels around the exchange."""
    df = registry.queries()["q1_pricing_summary"](spark, SF_ORACLE)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2


def _shuffle_written(df) -> tuple[int, int]:
    """(bytes, records) written to shuffle, summed over every exchange
    of the EXECUTED plan of a DataFrame whose action already ran. The
    final adaptive plan is unwrapped and each query stage descends
    into its materialized subplan; a ReusedExchange is a leaf and
    writes nothing."""
    n_bytes = n_rows = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metrics = node.metrics()
        if metrics.contains("shuffleRecordsWritten"):
            n_bytes += metrics.apply("shuffleBytesWritten").value()
            n_rows += metrics.apply("shuffleRecordsWritten").value()
        children = node.children().iterator()
        while children.hasNext():
            stack.append(children.next())
    return n_bytes, n_rows


def test_q1_shuffles_only_partial_aggregates(spark):
    """Shuffle rows are a deterministic function of data + plan, so a
    plan regression flips this integer instead of hiding in wall-time
    noise. sf0.001 lineitem is ONE row group, so one scan split holds
    every row and the partial aggregate emits one row per
    (returnflag, linestatus) group: 6 rows, the 6 output groups. No
    trailing sort: a global orderBy would shuffle each output row
    once more (range partitioning) and read 12."""
    df = registry.queries()["q1_pricing_summary"](spark, SF_TINY)
    n_groups = len(df.collect())
    assert n_groups == 6
    n_bytes, n_rows = _shuffle_written(df)
    assert n_rows == 6, f"q1 shuffled {n_rows} rows, pinned 6 — check explain()"
    assert n_bytes > 0


def test_dedup_exact_shuffles_digests_not_documents(spark):
    """Exact dedup shuffles one (md5, doc_id) row per document, never
    the documents: 500 rows at sf0.001. A digest row is a 32-char hex
    string plus two longs (~43 B written per row); the documents
    average 306 chars of text, so any plan that moves text through the
    shuffle blows the 64 B/row bound."""
    df = registry.queries()["dedup_exact"](spark, SF_TINY)
    df.collect()
    n_bytes, n_rows = _shuffle_written(df)
    assert n_rows == 500, f"dedup_exact shuffled {n_rows} rows, pinned 500"
    assert 0 < n_bytes <= 64 * n_rows, (
        f"dedup_exact shuffled {n_bytes} B for {n_rows} rows — the "
        "document text is moving through the shuffle")


def test_order_priority_semi_join(spark):
    df = registry.queries()["order_priority_check"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "LeftSemi" in plan


def test_rp_lsh_bucket_join_is_broadcast_equijoin(spark):
    """RP-LSH: the (table, bucket) candidate join must broadcast only
    the filtered query keys — never nested-loop, never a corpus
    shuffle; the plane projections are plain scalar expressions (no
    interpreted HOF stage in the bucketing path)."""
    df = registry.queries()["ann_rp_lsh_topk"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_q2_cheapest_supplier_broadcasts_dims(spark):
    df = registry.queries()["q2_cheapest_supplier"](spark, SF_ORACLE)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2  # part + supplier
    assert "CartesianProduct" not in plan


def test_ngram_pairing_is_join_free(spark):
    """ngram-Jaccard must be the join-free bucket-grouped form (r5):
    the df-ceiling is a size filter on the shingle-bucket aggregation
    (no anti-join pass) and pairs/denominators emit via generators —
    ANY join node is a regression toward the self-join that went 20×
    superlinear at sf10, or the pairs-broadcast that tripped
    maxResultSize."""
    df = registry.queries()["dedup_ngram_jaccard"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "Join" not in plan, f"ngram pairing regressed to a join\n{plan[:1500]}"
    assert "Generate" in plan
    assert "size(" in plan  # the df-ceiling size filter


def test_customer_rfm_no_global_window(spark):
    """RFM quartiles come from 1-row percentile broadcasts, not a
    global ntile sort: no Window operator in the plan at all."""
    df = registry.queries()["customer_rfm"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_user_activity_partial_agg_before_exchange(spark):
    """Skew safety of the user_id groupBy rests on map-side partial
    aggregation: a hot user then sends one partial row per map task
    through the shuffle, not its raw events. Pin the partial
    HashAggregate below the exchange."""
    df = registry.queries()["user_activity_summary"](spark, SF_ORACLE)
    plan = _plan(df)
    ex = plan.find("Exchange hashpartitioning(user_id")
    assert ex > 0
    assert "partial" in plan[ex:].lower()


def test_transition_matrix_windows_on_bucketed_key(spark):
    """The sequence window must partition on (user_id, bucket) — a
    window on raw user_id is the hot-user straggler this pins out.
    The bucket-grain boundary stitch reuses the level-1 exchange."""
    df = registry.queries()["event_transition_matrix"](spark, SF_ORACLE)
    plan = _plan(df)
    # level-1 window keyed by the composite (user_id, b)
    assert "windowspecdefinition(user_id" in plan
    first_spec = plan[plan.find("windowspecdefinition(user_id"):][:120]
    assert ", b#" in first_spec
    # the per-(user, bucket) edge aggregation must not add a shuffle:
    # exactly one exchange carries the composite key
    assert plan.count("Exchange hashpartitioning(user_id") >= 1


def test_sessionize_buckets_the_session_window(spark):
    """session_duration_stats level-1 sessionization must shuffle on
    the composite (user_id, bucket), not raw user_id (the bucket expr
    prints as _groupingexpression in the exchange)."""
    df = registry.queries()["session_duration_stats"](spark, SF_ORACLE)
    plan = _plan(df)
    lvl1 = [ln for ln in plan.splitlines()
            if "Exchange hashpartitioning(user_id" in ln
            and "_groupingexpression" in ln]
    assert lvl1, "no composite (user_id, bucket) exchange in plan"


def test_q21_single_fact_shuffle_no_self_join(spark):
    """q21's claim: the fact shuffles ONCE on the order key (per-order
    conditional-distinct profile), never the classical triple
    self-join — at most 3 hash exchanges total (order profile,
    supplier count, final sort prep) and no cartesian."""
    df = registry.queries()["q21_waiting_suppliers"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    n_exchanges = sum(1 for ln in plan.splitlines()
                      if "Exchange hashpartitioning" in ln)
    assert n_exchanges <= 3, f"q21 shuffles grew: {n_exchanges}\n{plan[:1500]}"
    # lineitem appears ONCE (no l1/l2/l3 triple scan)
    assert plan.count("lineitem.parquet") == 1


def test_q16_exclusion_is_broadcast_anti(spark):
    df = registry.queries()["q16_part_supplier_variety"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q20_part_prune_is_semi_join(spark):
    df = registry.queries()["q20_part_volume_suppliers"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    # the year range must reach the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate), " in plan


def test_pagerank_edges_materialize_once(spark):
    """pagerank's unrolled plan references the edge relation in the
    degree count and in every round's join; the edges must be
    CHECKPOINTED so the edge-generation subtree (the whole knn
    computation) appears ZERO times in the final plan — before the
    fix it appeared six times, six knn runs per execution."""
    from selfhealingdatapipeline_gcp_spark import catalog
    from selfhealingdatapipeline_gcp_spark.operators import graph

    emb = catalog.load(spark, SF_ORACLE, "embeddings")
    df = graph.pagerank_knn(emb)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("FlatMapGroupsInPandas") == 0, (
        "knn subtree leaked into the pagerank plan (edges not "
        "materialized)")
    assert "ExistingRDD" in plan or "LogicalRDD" in plan or \
        "Scan ExistingRDD" in plan  # the checkpointed edge relation


def test_doc_chunk_plan_zero_shuffle(spark):
    """The chunking plan claims ZERO shuffle: scan -> project ->
    explode only (the orderBy at the end is presentation; no
    aggregation/join Exchange may appear before it)."""
    from selfhealingdatapipeline_gcp_spark import catalog
    from selfhealingdatapipeline_gcp_spark.operators import dataprep
    docs = catalog.load(spark, SF_ORACLE, "documents")
    # inspect the un-sorted core (orderBy adds a rangepartitioning
    # exchange that exists only to present sorted output)
    core = dataprep.doc_chunk_plan(docs)
    plan = _plan(core)
    assert "HashAggregate" not in plan
    assert "Join" not in plan
    body = plan.split("Exchange rangepartitioning")[-1]
    assert "Exchange hashpartitioning" not in body


def test_benford_single_pass_broadcast_total(spark):
    """9-digit groupBy with map-side partials; the 1-row total joins
    back broadcast — no cartesian blowup, no second scan shuffle."""
    df = registry.queries()["benford_first_digit"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_bm25_broadcasts_df_and_stats(spark):
    """Term df counts and the corpus stats row must broadcast; the
    only corpus-sized shuffles are the token/dl aggregates."""
    df = registry.queries()["bm25_search"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin") >= 2


def test_cusum_windows_over_grain_relation(spark):
    """CUSUM runs its windows over the O(days) grain relation: one
    corpus-sized aggregate, then windows; the stats row broadcasts."""
    df = registry.queries()["event_rate_cusum"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row ref x grain
    assert "Window" in plan


def test_cross_source_overlap_no_self_join(spark):
    """Pair emission is bucket-grouped over the per-hash source set:
    no shingle self-join; the per-source totals join back broadcast."""
    df = registry.queries()["cross_source_overlap"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # n_a and n_b joins


def test_containment_shares_jaccard_plan_shape(spark):
    """dedup_containment rides _shingle_pair_counts: same no-join
    bucket-grouped pairing as dedup_ngram_jaccard."""
    df = registry.queries()["dedup_containment"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "Generate" in plan  # generator pair emission


def test_clustering_coefficient_wedges_are_generated_not_joined(spark):
    """Wedge pairs emit via generators over collected neighbor sets
    (no adjacency self-join); the closed-wedge resolution is one
    equi-join against the slim edge relation; nothing cartesian."""
    df = registry.queries()["knn_clustering_coefficient"](
        spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Generate" in plan


def test_more_like_this_broadcasts_anchors(spark):
    """Anchors, df counts, and anchor norms broadcast; no cartesian.
    (The corpus-norm join is NOT forced broadcast in the code — an
    actual bug caught in review — but at sf0.01 the planner
    legitimately broadcasts it on size, so the no-forced-broadcast
    property is checked structurally instead: the only F.broadcast
    hints in the operator are on anchor-filtered/1-row relations.)"""
    import inspect

    from selfhealingdatapipeline_gcp_spark.operators import textanalysis
    df = registry.queries()["more_like_this"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    src = inspect.getsource(textanalysis.more_like_this)
    # every explicit broadcast hint covers an anchor-filtered or
    # scalar relation; the bare corpus-norm join has no hint
    assert src.count("F.broadcast") == 3
    assert 'F.col("nsq").alias("nsq_b"))), "doc_id")' not in src


def test_bucketed_catalog_joins_exchange_free_with_parity(spark, duck):
    """VERDICT r5 #6: with catalog.use_bucketed_tables on, the
    registered orders⋈lineitem family consumes the pre-bucketed
    facts — the fact⋈fact join runs with ZERO Exchange on the join
    key (broadcast disabled so the shuffle would otherwise be
    visible), and values keep strict oracle parity."""
    from conftest import assert_parity

    from selfhealingdatapipeline_gcp_spark import catalog

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        catalog.use_bucketed_tables(spark, SF_ORACLE)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        df = registry.queries()["q18_large_orders"](spark, SF_ORACLE)
        plan = _plan(df)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        # parity over the bucketed layout, several family members
        for name in ("q3_shipping_priority", "q10_returned_items",
                     "q12_ship_delay_priority", "q18_large_orders",
                     "q21_waiting_suppliers"):
            assert_parity(registry.queries()[name](spark, SF_ORACLE),
                          duck, registry.oracle_sql()[name])
    finally:
        catalog.clear_bucketed_tables()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_verbatim_pairs_bucket_grouped_no_self_join(spark):
    """Winnowing pair emission must reuse the join-free bucket-grouped
    machinery: generator (explode) emission, no join of the
    fingerprint relation against itself. (The per-doc count join of
    _hash_pair_counts is against bucket-grouped aggregates, not a
    corpus self-join — assert no SortMergeJoin at all and >= 2
    Generates.)"""
    df = registry.queries()["verbatim_overlap_pairs"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Generate") >= 2


def test_ahash_pairs_bucket_grouped(spark):
    """Perceptual-hash pairing: bucket-grouped generator emission at
    the DISTINCT-signature grain, membership expansion via equi-joins
    on the signature key (r7 collapse) — no cartesian, no
    nested-loop, and pair generation itself is generator-shaped."""
    df = registry.queries()["multimodal_ahash_pairs"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Generate") >= 2


# ------------------------------------------------------------------
# Plan fingerprints (VERDICT r6 #9): pinned Exchange / join node
# counts for the headline set at sf0.001. A Catalyst upgrade or code
# change that adds a shuffle, drops a broadcast, or introduces a
# nested-loop join fails HERE by name, instead of surfacing as an
# unexplained wall-time swing inside the 1.8x host-noise band. The
# counts come from the shipped plans (regenerate deliberately when a
# plan change is intentional; never loosen to make red go green).
# Format: name -> (Exchange, BroadcastHashJoin, SortMergeJoin,
# BroadcastNestedLoopJoin).
# ------------------------------------------------------------------

import re as _re

SF_TINY = "/root/testdata/sf0.001"

_FINGERPRINTS = {
    "q1_pricing_summary": (1, 0, 0, 0),
    "q3_shipping_priority": (1, 2, 0, 0),
    "q5_regional_revenue": (1, 5, 0, 0),
    "q10_returned_items": (1, 3, 0, 0),
    # the day base ends in coalesce(1): the ordered window needs no
    # SinglePartition Exchange of its own
    "revenue_anomaly": (1, 0, 0, 0),
    # the BNLJ is the 1-row anchor-date broadcast read off the orders
    # day base, not a data join; Exchanges = the base's day grouping,
    # the distinct lineitem keys (broadcast into the one BHJ) and the
    # day-grain counts
    "reconciliation_orders_lineitem": (3, 1, 0, 1),
    "dedup_exact": (1, 0, 0, 0),
    "dedup_minhash_lsh": (4, 0, 0, 0),
    "dedup_lsh_verified": (6, 2, 0, 0),
    "dedup_ngram_jaccard": (6, 0, 0, 0),
    # 1-row query-anchor broadcast
    "ann_bruteforce_topk": (4, 0, 0, 1),
    "ann_pq_topk": (5, 1, 0, 1),
    "contamination_check": (3, 1, 0, 0),
    "asof_purchase_attribution": (1, 0, 0, 0),
    "q18_large_orders": (1, 2, 0, 0),
    "q21_waiting_suppliers": (3, 2, 0, 0),
    "user_activity_summary": (2, 0, 0, 0),
    "text_token_estimate": (2, 0, 0, 0),
    "bm25_search": (6, 2, 0, 1),
    "hypertable_rollup": (6, 0, 0, 0),
    # the SMJ is the full-outer digest diff itself (both sides are
    # key+md5 fingerprints; bucketed snapshots co-locate it)
    "cdc_snapshot_diff": (3, 0, 1, 0),
    # join broadcasts at tiny SF; the window exchanges move the
    # dim-sized (source, label) aggregate, never the corpus
    "source_topic_mix": (2, 1, 0, 0),
    # r10 hybrid CC: at tiny SF the edge relation sits under the
    # driver cap, labels come back as a local relation and the
    # corpus⋈labels join broadcasts it with zero exchanges; past the
    # cap the distributed leg restores the (2, 0, 1, 0) SMJ shape
    # (cluster labels can be a large corpus fraction at 100 TB)
    "leakage_safe_split": (0, 1, 0, 0),
    # everything after the one tokenize pass runs at vocabulary /
    # source-pair grain (≤ |vocab| and O(sources²) rows); the BNLJ is
    # the dim-sized source×source all-pairs frame, never the corpus
    "source_divergence_matrix": (19, 3, 1, 1),
    # r10 hybrid: the d²-row covariance relation sits under the
    # driver cap, the power iteration runs driver-side and the result
    # is one materialized local relation — zero plan nodes; past the
    # cap the distributed rounds restore the (5, 1, 1, 2) shape
    "embedding_top_component": (0, 0, 0, 0),
    # rides text_language_id's explode; reduces to |langs|² cells
    "doc_language_confusion": (6, 3, 0, 0),
    # trace + Frobenius over the covariance relation: 1-row output
    "embedding_intrinsic_dim": (3, 0, 0, 0),
    # suffix-cumulative over a fixed 10-bucket grid — the grid joins
    # are broadcast EQUI-joins on idx, never a thresholds×pairs
    # theta-join (no BNLJ); the LSH-verify pairs are eagerly
    # checkpointed in the builder (r10: consumed at two grains), so
    # the query plan starts from the materialized pair relation
    "dedup_threshold_sweep": (4, 2, 0, 0),
    # the 3 BNLJs are the anchored 1-row count crossJoins; keeper-id
    # sets are eagerly checkpointed in the builder (r10: the exact /
    # normalized corpus aggregates evaluated 3x/2x without it), so
    # the query plan's joins against them sit behind the
    # materialized relations and the stage counts read the sets
    # directly — 4 fewer Exchange, the 4 BHJs gone from the plan
    "dedup_cascade_report": (5, 0, 0, 3),
    # scan-level token size + |sources| agg; BNLJ = 1-row normalizer
    "source_epoch_plan": (4, 0, 0, 1),
    # join-free: source carried through the explode, zero-token docs
    # union in from a scan — no corpus⋈corpus join-back
    "source_quality_calibration": (3, 0, 0, 0),
    # (user, day)-bucketed sequence windows + the O(active buckets)
    # boundary-zone re-sequence; BNLJ = 1-row share normalizer
    "event_trigram_paths": (9, 0, 0, 1),
    # positional shingles semi-join the DISTINCT eval hash set (BHJ
    # at tiny SF); island windows run over HITS, not the corpus
    "decontamination_manifest": (4, 1, 0, 0),
    # slim verdict relation joins (doc_id, source) once; BHJs at
    # tiny SF (doc_id SMJ at scale); output |sources|×|reasons|
    "drop_reason_matrix": (5, 2, 0, 0),
    # one Arrow histogram pass + doc-grain agg; payloads never shuffle
    "multimodal_byte_entropy": (2, 0, 0, 0),
    # digest-groupBy (16-byte hashes shuffle, never documents) +
    # source rollup + output order
    "source_dup_rate": (3, 0, 0, 0),
    # the cell pipeline's cent_id shuffle; split columns are
    # scan-level projections — zero added joins/exchanges over it
    "split_embedding_leakage": (3, 0, 0, 0),
    # one cent_id shuffle for the in-cell rank/size windows
    "embedding_coreset_sample": (3, 0, 0, 0),
    # BNLJs = K-row centroid broadcasts (assign + cell-rank), the
    # n_queries-row truth anchor, the 8-row grid prefix-cumulative,
    # and the 1-row totals crossJoin — every one a plan constant;
    # the only corpus-sized stages are the brute-force truth pass
    # and the standard assignment window
    "ivf_nprobe_sweep": (16, 2, 0, 6),
    # ONE conditional-sum aggregate of |sources| partial rows
    "split_balance_report": (2, 0, 0, 0),
    # the three branches (bounds / weighted exact percentile /
    # histogram) each statically repeat the (type, cent) collapse —
    # at runtime AQE folds them to ONE corpus scan + shuffle
    # (2 ReusedExchange, asserted below); BHJs broadcast the
    # |types|-row bounds relation; the BNLJ is the 3-row
    # percentile-target grid — a plan constant, never the corpus
    "quantile_sketch_audit": (9, 3, 0, 1),
    # ONE corpus pass: the BNLJ is the 1-row bounds broadcast, both
    # layout labels explode from the same row (Generate), then a
    # ≤128-cell aggregate — rank-free layout assignment, no sort
    "zorder_layout_plan": (3, 0, 0, 1),
    # three scan-level md5 erase tests (no delete-list join); the one
    # LeftSemi BHJ is the cascade hop (SMJ on orderkey at scale); the
    # BNLJ is the 1-row lineitem-total × cascade-total crossJoin
    "takedown_manifest": (9, 1, 0, 1),
    # one (type, hash) distinct shuffle, then the salted two-phase
    # min-k (<= n_salt·k rows/type in the exact rank) and a
    # |types|-row BHJ — no per-type global sort of the key space
    "distinct_kmv_audit": (6, 1, 0, 0),
    # both sides collapse to key-grain counts before the equi-join
    # (BHJ at tiny SF, SMJ at scale); BNLJ = 1-row totals broadcast;
    # TakeOrderedAndProject caps the output at top_k
    "join_skew_advisor": (5, 2, 0, 1),
    # one corpus pass collapses to ≤1024 cells (BNLJ = 1-row bounds
    # broadcast); boundary planning + balance rollup stay on the grid
    "range_partition_plan": (3, 0, 0, 1),
    # ONE corpus aggregate to |strata| rows; allocation math on that
    # relation vs the 1-row totals broadcast (the BNLJ)
    "neyman_allocation_plan": (4, 0, 0, 1),
    # four role branches statically repeat the (type, bkt) shuffle —
    # AQE folds them to ONE at runtime (3 ReusedExchange, asserted
    # below); BHJs broadcast the |types|-row time bounds
    "series_downsample_m4": (8, 4, 0, 0),
    # union-sort-carry: ONE shuffle on the join key, no join node —
    # the same shape as the backward as-of
    "asof_next_purchase": (1, 0, 0, 0),
    # bucket-grouped masked-key blocking, NO self-join node: blocks
    # groupBy + pair dedup + output sort; a Join appearing here means
    # the pair stage regressed to the quadratic self-join form
    "er_name_pairs": (3, 0, 0, 0),
    # same masked-key relation collapsed to per-position counts
    "er_blocking_report": (3, 0, 0, 0),
    # one day-grain collapse + the single-partition ordered window;
    # the 4-method explode and final agg ride the same tiny relation
    "forecast_backtest_report": (2, 0, 0, 0),
    # two unrolled LPA rounds on the checkpointed O(k·n) edge leaf:
    # per round one edges⋈labels join + one (node,label) vote agg;
    # joins broadcast at tiny SF (SMJ on node at scale is fine —
    # labels are a corpus-sized relation by definition)
    "knn_label_propagation": (9, 4, 3, 0),
    # one lag() window per user + the same-key aggregate
    "user_burstiness": (1, 0, 0, 0),
    # key-grain count + O(max versions) histogram; BNLJ = the 1-row
    # totals anchor
    "cdc_churn_report": (5, 0, 0, 1),
    # one dedicated cell-mining Arrow stage (assignment + in-cell
    # per-anchor pool cap) + the final round+rank window over the
    # bounded pool — r9 #3 halved the exchange count from the old
    # pair-union form
    "hard_negative_mining": (4, 0, 0, 0),
    # the corpus collapses once to the vocab count relation; the CMS
    # derives from it (×depth explode over DISTINCT tokens → ≤4096
    # cells), top-k is TakeOrdered (no global window), sketch
    # broadcasts
    "token_heavy_hitters": (5, 1, 0, 0),
    # user_id agg + viewer⋈purchase join (BHJ at tiny SF, SMJ at
    # scale); BNLJ = the 1-row viewer-count anchor
    "funnel_time_to_convert": (4, 1, 0, 1),
    # day-grain agg + prefix window + TakeOrdered argmax; BNLJ = the
    # 1-row totals anchor
    "revenue_changepoint": (4, 0, 0, 1),
    # one digest groupBy + the join-back on h (BHJ at tiny SF, SMJ
    # on 16-byte digests at scale)
    "dedup_weighted_sample": (2, 1, 0, 0),
    # distinct (type,user) relation + per-user T² pair explode; both
    # size joins broadcast O(T) rows
    "event_audience_overlap": (6, 2, 0, 0),
    # (type,cent) map-side collapse, per-type cumulative window over
    # distinct cents, broadcast mid/total joins
    "quality_drift_ks": (7, 3, 0, 0),
    # QI-class collapse + one wide agg; thresholds stack shuffle-free
    "k_anonymity_audit": (2, 0, 0, 0),
    # 8 FK edges × (parent distinct + child agg); parent-key joins
    # broadcast at tiny SF (fact→fact edges go SMJ at scale)
    "fk_orphan_audit": (16, 8, 0, 0),
    # segment explode + digest groupBy + digest join-back (BHJ at
    # tiny SF, SMJ on 32-char digests at scale), doc+source aggs
    "boilerplate_removal_report": (5, 2, 0, 0),
    # day-grain collapse + single-partition index window + window
    # agg; the BNLJ is the 1-row whole-series stats anchor
    "series_sax_symbols": (4, 0, 0, 1),
    # four group-grain aggregates + three full-outer joins over the
    # bounded group relations (full outer can't broadcast — SMJ)
    "cdc_incremental_agg": (7, 0, 3, 0),
    # SAX base plan + the motif-count partition window on the
    # bounded symbol relation; BNLJ = the 1-row stats anchor
    "sax_motif_novelty": (4, 0, 0, 1),
    # one column-pruned single-distinct leg per (table, column) — 34
    # legs × 2 exchanges, no EXPAND, no joins anywhere
    "catalog_stats_report": (68, 0, 0, 0),
    # four detector legs composed verbatim; every BNLJ is a parent's
    # 1-row anchor broadcast (annotated at each parent); one range
    # Exchange is the (d, detector) report order
    "detector_incident_rollup": (19, 1, 0, 5),
    # name collapse + masked blocks (bucket-grouped, no self-join);
    # n_ids rides the block structs and the cosmetic global sort is
    # gone, so the old pair-dedup Exchange, both n_ids join-backs and
    # the sort Exchange all vanish (r10: 6 Ex + 2 BHJ -> 2 Ex)
    "er_name_links": (2, 0, 0, 0),
    # explode → tf collapse → df collapse → token join-back (BHJ at
    # tiny SF, SMJ at vocab scale) → per-doc window; BNLJ = the
    # 1-row N anchor
    "doc_keyphrases": (5, 1, 0, 1),
    # one l_suppkey collapse (distinct-parts agg on the same grain),
    # supplier + nation broadcast
    "supplier_scorecard": (2, 2, 0, 0),
}

_FP_NODES = ("Exchange", "BroadcastHashJoin", "SortMergeJoin",
             "BroadcastNestedLoopJoin")


def test_headline_plan_fingerprints(spark):
    got = {}
    for name, want in _FINGERPRINTS.items():
        plan = _plan(registry.queries()[name](spark, SF_TINY))
        counts = tuple(len(_re.findall(rf"\b{node}\b", plan))
                       for node in _FP_NODES)
        if counts != want:
            got[name] = counts
    assert not got, (
        "plan fingerprints moved (Exchange, BHJ, SMJ, BNLJ): "
        + ", ".join(f"{n}: {got[n]} != {_FINGERPRINTS[n]}"
                    for n in got)
        + " — if the plan change is intentional, re-pin after "
          "reviewing explain(); a new Exchange or lost broadcast is "
          "a scale regression")


def test_headline_plan_no_cartesian(spark):
    for name in _FINGERPRINTS:
        plan = _plan(registry.queries()[name](spark, SF_TINY))
        assert "CartesianProduct" not in plan, name


def test_quantile_audit_runtime_exchange_reuse(spark):
    """The audit's three counts-relation consumers must collapse at
    runtime to ONE corpus-grain (type, cent) shuffle: AQE reuses the
    identical collapse Exchange for the other two branches. Losing
    this reuse (e.g. by making the branch subtrees diverge) would
    triple the corpus scan at 100 TB while staying correct."""
    df = registry.queries()["quantile_sketch_audit"](spark, SF_TINY)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert final.count("ReusedExchange") >= 2


def test_m4_runtime_exchange_reuse(spark):
    """The four M4 role branches must collapse at runtime to ONE
    (type, bucket) shuffle: AQE reuses the identical partitioning
    Exchange for the other three. Losing the reuse would scan the
    corpus four times while staying correct."""
    df = registry.queries()["series_downsample_m4"](spark, SF_TINY)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert final.count("ReusedExchange") >= 3


# ------------------------------------------------------------------
# plans/lint.py — the anti-pattern scan as an API
# ------------------------------------------------------------------

def test_plan_lint_flags_cartesian_and_python_udf(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType
    from selfhealingdatapipeline_gcp_spark.plans import lint

    a = spark.range(10)
    b = spark.range(10).withColumnRenamed("id", "id2")
    spark.conf.set("spark.sql.crossJoin.enabled", "true")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cart = a.crossJoin(b)
        rules = {f.rule: f.severity for f in lint.lint_plan(cart)}
        assert rules.get("cartesian") == lint.ERROR
        try:
            lint.assert_plan_clean(cart)
        except ValueError as e:
            assert "cartesian" in str(e)
        else:
            raise AssertionError(
                "assert_plan_clean let a cartesian through")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    slow = a.withColumn(
        "y", F.udf(lambda x: x + 1, LongType())(F.col("id")))
    rules = {f.rule: f.severity for f in lint.lint_plan(slow)}
    assert rules.get("python-row-udf") == lint.ERROR


def test_plan_lint_counts_only_shuffle_exchanges(spark):
    """ADVICE r7: plan.count('Exchange') also matched
    BroadcastExchange/ReusedExchange — a broadcast-heavy but
    shuffle-light plan fired the exchange-count warn spuriously."""
    from pyspark.sql import functions as F
    from selfhealingdatapipeline_gcp_spark.plans import lint

    big = spark.range(1000).withColumn("k", F.col("id") % 7)
    # 3 broadcast joins, zero shuffles of the big side
    df = big
    for i in range(3):
        dim = spark.range(7).select(
            F.col("id").alias("k"), F.lit(i).alias(f"v{i}"))
        df = df.join(F.broadcast(dim), "k")
    df.collect()
    plan = lint._plan_string(df)
    assert "BroadcastExchange" in plan
    rules = {f.rule for f in lint.lint_plan(df, max_exchanges=2)}
    assert "exchange-count" not in rules


def test_plan_lint_sort_rule_is_exact_node_match(spark):
    """ADVICE r7: startswith('Sort') matched SortMergeJoin/
    SortAggregate near the root — false single-partition-sort info."""
    from pyspark.sql import functions as F
    from selfhealingdatapipeline_gcp_spark.plans import lint

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(100).withColumn("k", F.col("id") % 10)
        b = spark.range(100).select((F.col("id") % 10).alias("k"),
                                    F.col("id").alias("v"))
        smj = a.join(b, "k")            # SortMergeJoin at/near root
        smj.collect()
        assert "SortMergeJoin" in lint._plan_string(smj)
        rules = {f.rule for f in lint.lint_plan(smj)}
        assert "single-partition-sort" not in rules
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # a genuine presentation ORDER BY still flags (sort key must not
    # match the Range's natural ordering or Catalyst elides the Sort)
    ordered = spark.range(100).withColumn(
        "r", F.col("id") % 7).orderBy("r")
    ordered.collect()
    rules = {f.rule for f in lint.lint_plan(ordered)}
    assert "single-partition-sort" in rules


def test_plan_lint_headline_queries_have_no_errors(spark):
    """Every fingerprinted headline query must lint ERROR-free (the
    BNLJ anchors are warn-grade by design)."""
    from selfhealingdatapipeline_gcp_spark.plans import lint

    for name in _FINGERPRINTS:
        df = registry.queries()[name](spark, SF_TINY)
        errs = [f for f in lint.lint_plan(df) if f.severity == lint.ERROR]
        assert not errs, (name, errs)


def test_all_registered_plans_lint_clean_and_pinned(spark):
    """VERDICT r8 #2: every registered query — not just the ~21
    curated headliners — lints ERROR-free and matches its pinned
    (Exchange, BHJ, SMJ, BNLJ) fingerprint at sf0.001. The table is
    tests/plan_fingerprints.json, generated by
    tools/pin_fingerprints.py; regenerate DELIBERATELY when a plan
    change is intentional (the JSON git diff is the review surface).
    A new Exchange or a lost broadcast anywhere in the registry
    fails HERE by name instead of surfacing as a wall-time swing."""
    import json
    import os

    from selfhealingdatapipeline_gcp_spark.plans import lint

    with open(os.path.join(os.path.dirname(__file__),
                           "plan_fingerprints.json")) as f:
        pinned = json.load(f)
    qs = registry.queries()
    unpinned = sorted(set(qs) - set(pinned))
    stale = sorted(set(pinned) - set(qs))
    assert not unpinned, (
        f"queries without a pinned fingerprint: {unpinned} — run "
        "tools/pin_fingerprints.py " + " ".join(unpinned))
    assert not stale, (
        f"pinned fingerprints for unregistered queries: {stale} — "
        "re-run tools/pin_fingerprints.py to drop them")

    moved: dict[str, tuple] = {}
    lint_errors: dict[str, list[str]] = {}
    for name, builder in qs.items():
        df = builder(spark, SF_TINY)
        plan = _plan(df)
        counts = [len(_re.findall(rf"\b{node}\b", plan))
                  for node in _FP_NODES]
        if counts != pinned[name]:
            moved[name] = (counts, pinned[name])
        errs = [f.rule for f in lint.lint_plan(df)
                if f.severity == lint.ERROR]
        if errs:
            lint_errors[name] = errs
    assert not lint_errors, f"plan lint ERRORs: {lint_errors}"
    assert not moved, (
        "plan fingerprints moved (got != pinned): "
        + ", ".join(f"{n}: {g} != {p}" for n, (g, p) in moved.items())
        + " — if intentional, review explain() then re-pin via "
          "tools/pin_fingerprints.py " + " ".join(moved))
