"""Plan-shape regression tests — the scale properties SCALE.md claims,
enforced: pushdown reaches the parquet scan, dimensions broadcast, the
merge is a single co-partitioned join, aggregations are partial+final.

Assertions are deliberately coarse (operator presence, not exact tree
shape) so AQE/codegen changes across Spark versions don't false-fail.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dirty_js_etl_spark.queries import all_queries

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = all_queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "t2_source_filter")
    assert "PushedFilters" in plan
    assert "GreaterThan(o_totalprice" in plan
    # column pruning: the scan reads only the two projected + filter cols
    assert "ReadSchema" in plan and "o_comment" not in plan


def test_fk_lookup_is_broadcast(spark):
    plan = _plan(spark, "c13_foreign_key")
    assert "BroadcastHashJoin" in plan
    # the fact side never exchanges for a dimension lookup
    assert "SortMergeJoin" not in plan


def test_merge_is_single_outer_join(spark):
    plan = _plan(spark, "t5_merge_full")
    assert plan.count("FullOuter") == 1 and "SortMergeJoin" in plan
    # FK dimension still broadcast inside the merge source
    assert "BroadcastHashJoin" in plan


def test_audit_runs_one_sided_outer_join(spark):
    # the audit is a filter on the merge's action-tagged frame; Catalyst
    # must fold `_action IS NOT NULL` to its source-side test so the
    # unstored audit never computes the dest-only rows of the full join
    df = all_queries()["t6_audit"](spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "RightOuter" in plan and "FullOuter" not in plan


def test_rollup_aggregates_partially(spark):
    plan = _plan(spark, "x13_hourly_rollup")
    # partial (map-side) + final HashAggregate around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_grouping_pruned_to_needed_columns(spark):
    plan = _plan(spark, "c11_t4_grouping")
    # lineitem is 16 columns; the grouped mapping needs 4
    assert "l_returnflag" in plan and "l_extendedprice" not in plan


def test_decontaminate_broadcasts_eval_grams(spark):
    # the TB-side corpus must never shuffle on the gram key: the eval
    # gram table broadcasts, the only exchange is the doc-id agg
    plan = _plan(spark, "x45_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_scalar_subquery_broadcasts_agg(spark):
    plan = _plan(spark, "x56_scalar_subquery")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_sequences_no_global_sort(spark):
    # per-group windows: every Sort in the plan is partition-local
    plan = _plan(spark, "x46_pack_sequences")
    assert "Sort [lang" in plan
    assert "Sort [doc_id" not in plan.replace("Sort [lang", "")


def test_vocab_topk_is_take_ordered(spark):
    plan = _plan(spark, "x48_vocab_topk")
    assert "TakeOrderedAndProject" in plan


def test_profile_table_single_pass(spark):
    # one scan of orders feeds every per-column stat
    plan = _plan(spark, "x49_profile_table")
    assert plan.count("Scan parquet") == 1


def test_funnel_single_scan_single_shuffle(spark):
    # the windowed funnel reads events once and exchanges once: the
    # three chained conditional mins share the user_id window
    # partitioning, and the final same-key groupBy reuses it
    plan = _plan(spark, "x63_funnel")
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_sessionize_batch_single_shuffle(spark):
    # lag -> flag -> running-sum -> per-session agg all share the
    # user_id partitioning: one exchange end to end
    plan = _plan(spark, "x72_sessionize_batch")
    assert plan.count("Exchange hashpartitioning") == 1


def test_tfidf_broadcasts_df_and_count(spark):
    # document-frequency (|vocab|) carries no forced hint (it scales
    # with a web corpus's raw vocabulary) — AQE must still pick the
    # broadcast at this scale so no token-keyed re-shuffle of tf
    # happens; the 1-row corpus count is a hinted nested-loop join.
    # Execute first: the adaptive FINAL plan is what proves it.
    df = all_queries()["x75_tfidf_topk"](spark, SF)
    df.collect()  # the write path spawns its own QE; collect finalizes df's
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row N cross join
    assert "SortMergeJoin" not in plan


def test_retention_has_no_join_at_all(spark):
    # first-seen rides along as a per-user window min before the
    # distinct — one user_id shuffle, no join, nothing broadcast (the
    # |users|-scale first-seen relation must never be a broadcast side)
    plan = _plan(spark, "x77_retention_matrix")
    assert "Join" not in plan
    assert "Window" in plan


def test_runtime_bloom_filter_injects_on_selective_dim(spark):
    # Spark's InjectRuntimeFilter only fires when the application side
    # scan exceeds 10 GiB (never at fixture scale) -- scale the
    # thresholds down and prove the machinery engages: a selective
    # filter on the build side must inject a bloom filter into the
    # probe-side scan of a shuffle join.  At 100 TB this is what turns
    # a full lineitem shuffle into a pre-filtered one without any code
    # change.
    from dirty_js_etl_spark.catalog import fixture_catalog

    keys = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1b",
    }
    old = {k: spark.conf.get(k) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        cat = fixture_catalog(spark, SF)
        li = cat.read("lineitem")
        o = cat.read("orders").filter(F.col("o_orderstatus") == "F")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower(), plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_ngram_dedup_single_aggregate_no_join(spark):
    # corpus n-gram dedup: generator expand + ONE gram-keyed aggregate;
    # any join or second wide shuffle would not survive 100 TB
    plan = _plan(spark, "x90_ngram_corpus_dedup")
    assert "Join" not in plan
    assert "Generate" in plan  # map-side explode


def test_mode_query_has_no_window_sort(spark):
    # per-group mode is two hash aggregates, never a row_number sort
    plan = _plan(spark, "x92_mode_per_group")
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2


def test_equalize_mix_broadcasts_rates(spark):
    # data-dependent rates join must broadcast (2 tiny aggs), the
    # document side never shuffles
    plan = _plan(spark, "x96_equalize_mix")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dedup_verify_stage_never_forces_broadcast(spark):
    # the near-dup verify stage joins candidate pairs against the
    # per-doc size table — BOTH are corpus-cardinality relations, so a
    # user-forced broadcast hint (strategy=broadcast in the optimized
    # plan) is an OOM at 100 TB.  AQE may still *choose* a runtime
    # broadcast when the actual size is small; that is the only safe
    # form, and it leaves no hint in the logical plan.
    for name in (
        "x5_ngram_jaccard_pairs",
        "x6_minhash_lsh_pairs",
        "x165_prefix_jaccard_join",
        "x167_incremental_minhash",
        "x208_lsh_link_pairs",
        "x209_multi_pass_resolution",
        "x216_incremental_ingest_dedup",
    ):
        df = all_queries()[name](spark, SF)
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        assert "strategy=broadcast" not in opt, name


def test_triangle_count_never_forces_edge_broadcast(spark):
    # the co-purchase edge list is corpus-scale on a real graph: the
    # two-hop wedge joins must be plain shuffle joins (degree-oriented
    # to bound fan-out), with no user-forced broadcast hint anywhere
    df = all_queries()["x141_triangle_count"](spark, SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in opt


def test_winsorize_bounds_broadcast_not_shuffle(spark):
    # the p01/p99 bounds are a 1-row broadcast; lineitem scans twice
    # (once for bounds, once clipped) but never sort-merge joins
    plan = _plan(spark, "x93_winsorized_mean")
    assert "SortMergeJoin" not in plan


def test_bloom_screen_is_joinless_on_the_corpus_side(spark):
    # the whole point of the Bloom screen vs x146's anti-join: the
    # corpus is filtered by a 1-row broadcast probe (BNLJ against the
    # bounded m/64-word array), never a corpus-keyed join — the only
    # exchanges in the plan belong to the filter BUILD (<= m/64 rows)
    plan = _plan(spark, "x147_bloom_decontaminate")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_cms_grid_always_broadcasts(spark):
    # the sketch grid is bounded at depth*width rows by construction —
    # the probe join must be a broadcast hash join, and the only
    # corpus-keyed shuffles are the two token aggregations
    plan = _plan(spark, "x149_cms_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bloom_pruned_join_filters_before_exchange(spark):
    # the bloom probe must sit in the fact scan stage, below the join's
    # exchange: non-candidate rows die map-side
    plan = _plan(spark, "x155_bloom_pruned_join")
    probe = plan.find("bloom_words")
    join = plan.find("Join [l_orderkey")  # the exact orders join
    assert probe != -1 and join != -1
    # toString prints parents above children: the bloom probe (fused
    # into the 1-row cross join's condition) must sit BELOW the exact
    # join — rows are screened before they reach it
    assert probe > join


def test_paragraph_dedup_two_shuffles_no_broadcast_of_corpus(spark):
    plan = _plan(spark, "x152_paragraph_dedup")
    # digest-keyed window + doc-keyed agg: shuffles only, no corpus
    # broadcast anywhere
    assert "BroadcastExchange" not in plan


def test_containment_broadcasts_eval_grams_only(spark):
    plan = _plan(spark, "x153_containment_decontaminate")
    assert "BroadcastExchange" in plan  # the eval gram table
    # corpus side aggregates by doc id — partial+final pair present
    assert plan.count("HashAggregate") >= 2


def test_tpch_q8_single_fact_shuffle(spark):
    # all dims broadcast: the only sort-merge-worthy join is
    # lineitem⋈orders
    plan = _plan(spark, "x161_tpch_q8")
    assert plan.count("BroadcastHashJoin") >= 5
    assert plan.count("SortMergeJoin") <= 1


def test_hll_wau_slides_on_sketch_table(spark):
    # the 7-day fan-out joins the per-day SKETCH table to itself (a
    # broadcast of the calendar-sized side), never re-shuffling events
    plan = _plan(spark, "x154_rolling_hll_wau")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_tpch_q4_preagg_join_with_pushed_quarter(spark):
    # the EXISTS rewrites to a per-orderkey max(l_shipdate) pre-agg
    # (partial+final HashAggregate pair -> map-side combine before the
    # shuffle) + inner 1:1 join — no semi join of the full lineitem
    # projection — and the quarter filter reaches the orders scan
    plan = _plan(spark, "x193_tpch_q4")
    assert "LeftSemi" not in plan
    assert "partial_max(l_shipdate" in plan  # map-side combine present
    assert "PushedFilters" in plan and "o_orderdate" in plan


def test_x37_exists_rewritten_to_preagg(spark):
    # same lossless EXISTS->max rewrite for the 60-day variant: the
    # lineitem side collapses to one row per orderkey before the join
    plan = _plan(spark, "x37_semi_join")
    assert "LeftSemi" not in plan
    assert "partial_max(l_shipdate" in plan


def test_x5_prefix_filtered_candidates_and_array_verify(spark):
    # the exact-Jaccard join generates candidates ONLY from the sorted
    # extended prefixes (posexplode over the slice) and verifies by
    # candidate-cardinality array intersection — the corpus-scale
    # posting join and the 86M-row pair aggregation are gone (r8)
    plan = _plan(spark, "x5_ngram_jaccard_pairs")
    assert "posexplode" in plan and "slice" in plan
    assert "array_intersect" in plan


def test_registry_wide_no_cartesian_no_rowwise_python(spark):
    """Sweep EVERY registered query's physical plan for the two
    patterns that are always wrong at 100 TB: a CartesianProduct (an
    unkeyed all-pairs join that slipped past the bucket/broadcast
    decompositions) and BatchEvalPython (a row-at-a-time Python UDF in
    the plan — Python is allowed only Arrow-batched: ArrowEvalPython /
    mapInPandas / FlatMapGroupsInPandas). Queries that DRAIN work at
    build time (streaming foreachBatch, iterative trainers) are
    excluded here — their execution behavior is pinned by their own
    tests — so this stays a plan-only sweep."""
    from dirty_js_etl_spark.queries import all_queries

    skip_prefixes = ("x14_", "x17_", "x31_", "x59_", "x62_", "x80_",
                     "x94_", "x109_", "x150_", "x164_")  # run streams
    skip_exact = {
        "x132_kmeans_clusters",   # iterative trainer (jobs at build)
        "x156_bpe_vocab",         # iterative trainer
        "x18_ivf_topk",           # k-means cell build
        "x148_semantic_dedup",    # sampled k-means build
    }
    bad = {}
    for name, fn in all_queries().items():
        if name.startswith(skip_prefixes) or name in skip_exact:
            continue
        df = fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        hits = [p for p in ("CartesianProduct", "BatchEvalPython") if p in plan]
        if hits:
            bad[name] = hits
    assert not bad, f"scale-hostile plan operators: {bad}"


def test_tpch_q2_filtered_window_and_takeordered(spark):
    # the part filter reaches the part scan BEFORE the per-part min
    # window (the filter commutes with the min), suppliers attach by
    # broadcast, and LIMIT 100 is a TakeOrdered, not a global sort
    plan = _plan(spark, "x194_tpch_q2")
    assert "PushedFilters" in plan and "p_size" in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_tpch_q9_broadcast_dims_single_fact_shuffle(spark):
    # supply cost is computed inline from lineitem's own keys — no
    # partsupp join; part/supplier/nation broadcast; the name filter
    # pushes to the part scan as a StartsWith
    plan = _plan(spark, "x195_tpch_q9")
    assert "StringStartsWith(p_name,red" in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_tpch_q20_pushed_year_and_semi_join(spark):
    # the ship-year range reaches the lineitem scan; the supplier
    # screen is a LeftSemi against the aggregated excess set
    plan = _plan(spark, "x197_tpch_q20")
    assert "PushedFilters" in plan and "l_shipdate" in plan
    assert "LeftSemi" in plan


def test_tpch_q3_structural_single_exchange(spark):
    # pins the r9 sf1 audit verdict (SCALE.md "x33 — structural, kept",
    # commit a398753): at fixture scale BUILDING customers broadcast-
    # build against orders, the post-shipdate-cut lineitem slice
    # broadcast-builds against the filtered c⋈o side, and the ONLY
    # hash exchange is the final group-by — the query is scan-bound.
    # A planner/AQE flip to a shuffle join (or any second exchange)
    # fails here and forces a re-audit instead of a silent bench drift.
    plan = _plan(spark, "x33_tpch_q3")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_iterative_queries_compile_once_per_session(spark):
    # the perfbench `iterative` round (x143, x206, x201) needs ~141
    # generated classes; Spark's default codegen cache of 100 evicts them
    # mid-round, so every warm round recompiled over 100 of them.
    # session.CODEGEN_CACHE_ENTRIES holds the round, so a second pass
    # compiles almost nothing (x206's first warm run generates a few
    # new classes, hence a tenth rather than zero).
    compiled = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount
    )
    qs = all_queries()

    def one_pass() -> int:
        c0 = compiled()
        for name in (
            "x143_pagerank", "x206_entity_resolution", "x201_ivf_topk_portable"
        ):
            qs[name](spark, SF).collect()
            spark.catalog.clearCache()
        return compiled() - c0

    # earlier tests in the session may already have cached part of the
    # round, so the first pass's count varies (48-141 seen); bound the
    # second pass by a tenth of the round's ~141 classes instead
    first, second = one_pass(), one_pass()
    assert second < 15, (first, second)
