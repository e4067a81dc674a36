"""Benchmark harness: the headline queries, timed by the runner's bench
mode (``tools/runner.py``; see ``runner.bench`` for the record).

    python bench.py [sf_dir] [query ...]

The fixture dir defaults to ``$SPARK_GRAFT_SF_DIR``, else
/root/testdata/sf0.1; the queries default to ``HEADLINE``. Prints ONE
JSON line on stdout (Spark noise goes to stderr): {"metric", "value":
total_sec, "unit", "queries": {name: best_sec}, "runs", "canary", "sf",
"compiles", "session_start_s", "class_archive", "stamp"}. It is graded
against BASELINE.md (DuckDB on the same parquet is the de facto
yardstick, 2x envelope); "How to read a contaminated run" there explains
how the spreads and the canary series keep a contended box from faking a
regression.
"""

from __future__ import annotations

import sys

# headline set: the merge pipeline (shuffle join + audit), grouped agg,
# broadcast FK join, distinct, idempotent re-merge — plus the
# training-data extension ops (dedup, near-dup pairs, similarity top-k,
# sessionization, rollup) so the bench profile covers every operator
# family the engine ships
HEADLINE = [
    "t5_merge_full",
    "t6_audit",
    "c11_t4_grouping",
    "c13_foreign_key",
    "t3_force_distinct",
    "t11_idempotent_merge",
    "x1_dedup_exact",
    "x3_text_quality",
    "x5_ngram_jaccard_pairs",
    "x6_minhash_lsh_pairs",
    "x8_embedding_topk",
    "x12_sessionize",
    "x13_hourly_rollup",
    "x21_asof_join",
    "x27_range_join",
    "x28_hierarchical_rollup",
    "x32_tpch_q1",
    "x33_tpch_q3",
    "x34_tpch_q5",
    "x37_semi_join",
    "x40_group_percentiles",
    "x41_hash_split",
    "x44_scd2_history",
    "x45_decontaminate",
    "x46_pack_sequences",
    "x48_vocab_topk",
    "x50_repetition_stats",
    "x52_tpch_q6",
    "x55_tpch_q18",
    "x58_hourly_grid_fill",
    "x60_curate_corpus",
    "x63_funnel",
    "x67_snapshot_diff",
    "x89_session_window_native",
    "x90_ngram_corpus_dedup",
    "x97_token_search",
    # text: sub-document dedup and containment decontamination;
    # tpch: the Q8/Q21 analogs
    "x152_paragraph_dedup",
    "x153_containment_decontaminate",
    "x161_tpch_q8",
    "x162_tpch_q21",
    # tpch: Q4 as a semi-join; Q2/Q9/Q11/Q20 on the derived partsupp
    # dimension
    "x193_tpch_q4",
    "x194_tpch_q2",
    "x195_tpch_q9",
    "x196_tpch_q11",
    "x197_tpch_q20",
    # the heaviest kernels, so a perf regression in them is visible —
    # similarity: the portable IVF twin; multimodal: the real A/V byte
    # decoders; linkage: blocking, resolution and LSH blocking.
    # Totals are not comparable across differing sets (BASELINE.md).
    "x201_ivf_topk_portable",
    "x203_audio_decode",
    "x204_frame_sample_real",
    "x205_link_pairs",
    "x206_entity_resolution",
    "x208_lsh_link_pairs",
    # linkage: the composed multi-pass resolution (x209) — the full
    # three-generator pipeline, the heaviest linkage query — and weighted
    # pairs; then privacy (PII scrub), graph (PageRank), privacy
    # (t-closeness)
    "x209_multi_pass_resolution",
    "x210_weighted_link_pairs",
    "x211_pii_redact",
    "x143_pagerank",
    "x213_t_closeness",
    # sketch: the portable twins (bottom-k quantile rollup, KMV set
    # ops) — cheap, but their rank-window shapes belong in the profile
    "x214_quantile_rollup_portable",
    "x215_theta_overlap_portable",
    # dedup: the daily-ingest index-probe path. The driver's
    # registry query (x216_incremental_ingest_dedup) rebuilds the
    # corpus index in-query for oracle self-containment; in production
    # the index is PERSISTED and each ingest pays only the probe, so
    # the headline times that path: the index is
    # written to parquet once, untimed, and the timed plan reads it.
    "x216_ingest_probe",
    "x217_quality_linear_scorer",
]


if __name__ == "__main__":
    from tools import runner

    raise SystemExit(runner.main(["bench", *sys.argv[1:]]))
