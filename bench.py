"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: best_sec}, "runs": {name: [all N run secs]},
"canary": {"query": ..., "every": K, "series": [...]}, "sf": ...,
"compiles": {name: classes compiled during its timed runs},
"session_start_s": get_spark's wall time, "class_archive": what the
session start did with the driver's class-data archive, "mapped",
"dumping" or "off: <reason>" (see session.get_spark)}.
It is graded against BASELINE.md (DuckDB on the same parquet is the de facto
yardstick, 2x envelope). "How to read a contaminated run" is documented in
BASELINE.md — the spreads + canary series exist so a contended driver box can
never fake a regression invisibly.

Each timed run drains the query with a count-style action (collect on
aggregates, count on wide outputs) so the whole plan executes; a warmup
pass primes the JVM/codegen caches first. A warm query whose plan repeats
compiles no new classes, so a nonzero ``compiles`` entry means the query
generates different code per run or the codegen class cache is too
small for the working set (see session.CODEGEN_CACHE_ENTRIES).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dirty_js_etl_spark import session  # noqa: E402
from dirty_js_etl_spark.queries import all_queries  # noqa: E402

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
    # round 4: sub-doc dedup, containment decontamination, deep TPC-H
    "x152_paragraph_dedup",
    "x153_containment_decontaminate",
    "x161_tpch_q8",
    "x162_tpch_q21",
    # round 7: the final TPC-H shapes (Q4 semi-join; Q2/Q9/Q11/Q20 on
    # the derived partsupp dimension)
    "x193_tpch_q4",
    "x194_tpch_q2",
    "x195_tpch_q9",
    "x196_tpch_q11",
    "x197_tpch_q20",
    # the newest, heaviest kernels — real A/V byte decoders, the portable
    # IVF twin, the linkage family — so a perf regression in them is
    # visible. BASELINE.md notes the set change; totals are not comparable
    # across differing sets.
    "x201_ivf_topk_portable",
    "x203_audio_decode",
    "x204_frame_sample_real",
    "x205_link_pairs",
    "x206_entity_resolution",
    "x208_lsh_link_pairs",
    # round 10: the composed multi-pass resolution (x209) — the full
    # three-generator linkage pipeline, the heaviest linkage query
    "x209_multi_pass_resolution",
    "x210_weighted_link_pairs",
    "x211_pii_redact",
    "x143_pagerank",
    "x213_t_closeness",
    # round 11: the portable sketch twins (bottom-k quantile rollup,
    # KMV set ops) — cheap, but their rank-window shapes belong in the
    # profile now that every approximate family has a twin
    "x214_quantile_rollup_portable",
    "x215_theta_overlap_portable",
    # round 11/12: the daily-ingest index-probe path. The driver's
    # registry query (x216_incremental_ingest_dedup) rebuilds the
    # corpus index in-query for oracle self-containment; in production
    # the index is PERSISTED and each ingest pays only the probe, so
    # the headline times that path: the index is
    # written to parquet once, untimed, and the timed plan reads it.
    "x216_ingest_probe",
    "x217_quality_linear_scorer",
]


def _x216_index_dir(sf_dir: str) -> str:
    """Per-scale, per-process index path: two concurrent bench runs (e.g.
    an sf0.1 bench next to an sf1 sweep) must not overwrite/read each
    other's prebuilt index and silently time a probe against the
    wrong-scale corpus."""
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    return f"/tmp/spark_graft_bench_x216_index_{tag}_{os.getpid()}"


def _prep_x216_index(spark, sf_dir: str, index_dir: str) -> None:
    """Fixture prep for x216_ingest_probe: build the corpus near-dup
    index ONCE (exactly x216's parameters) and persist it as parquet —
    the table layout a production pipeline keeps between ingests."""
    from pyspark.sql import functions as F

    from dirty_js_etl_spark.operators.dedup import (
        build_near_dup_index,
        portable_token_hash60,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    idx = build_near_dup_index(
        corpus, "doc_id", "text", num_perm=32, bands=8,
        hash_fn=portable_token_hash60, portable_bands=True,
    )
    idx.band_index.write.mode("overwrite").parquet(f"{index_dir}/band_index")
    idx.hashed.write.mode("overwrite").parquet(f"{index_dir}/hashed")
    idx.sizes.write.mode("overwrite").parquet(f"{index_dir}/sizes")


def _x216_ingest_probe(spark, sf_dir: str):
    """Probe-only x216: band the ingest batch and probe the PREBUILT
    parquet index (written by :func:`_prep_x216_index`) — per-ingest
    cost as production pays it. Same output as the registry query."""
    from pyspark.sql import functions as F

    from dirty_js_etl_spark.operators.dedup import (
        NearDupIndex,
        portable_token_hash60,
        probe_near_dup_index,
    )

    index_dir = _x216_index_dir(sf_dir)
    index = NearDupIndex(
        band_index=spark.read.parquet(f"{index_dir}/band_index"),
        hashed=spark.read.parquet(f"{index_dir}/hashed"),
        sizes=spark.read.parquet(f"{index_dir}/sizes"),
    )
    ingest = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") % 5 == 0
    )
    return probe_near_dup_index(
        ingest, index, "doc_id", "text", num_perm=32, bands=8,
        jaccard_threshold=0.5, hash_fn=portable_token_hash60,
        portable_bands=True,
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # "sf0.1" -> "0.1"; ".sf1_testdata" -> "1" (numeric prefix only)
    raw = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf = raw[: next((i for i, c in enumerate(raw) if c not in "0123456789."), len(raw))]
    t0 = time.perf_counter()
    spark = session.get_spark("bench")
    session_start_s = time.perf_counter() - t0
    class_archive = session.class_archive
    qs = dict(all_queries())
    qs["x216_ingest_probe"] = _x216_ingest_probe
    names = [n for n in HEADLINE if n in qs]
    extra = os.environ.get("BENCH_QUERIES")
    if extra:
        names = [n for n in extra.split(",") if n in qs]
    if "x216_ingest_probe" in names:
        # untimed: production builds once
        _prep_x216_index(spark, sf_dir, _x216_index_dir(sf_dir))

    # warmup: prime JVM, codegen, parquet footers
    for n in names[:1]:
        qs[n](spark, sf_dir).count()

    def timed_run(name: str) -> float:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        elapsed = time.perf_counter() - t0
        # drop frames persisted inside operators (dedup shingle tables)
        # so measurements stay isolated across queries
        spark.catalog.clearCache()
        return elapsed

    # Contention canary: one fixed cheap query is
    # re-timed before the loop and again every CANARY_EVERY queries. On a
    # quiet box its series is flat; under sustained steal/contention the
    # later samples inflate, which timestamps WHICH window of the bench
    # loop was contended. Read it next to `runs`: a query whose all-N
    # spread is wide AND whose loop position falls in an inflated canary
    # window is a contaminated measurement, not a regression.
    canary_name = os.environ.get("BENCH_CANARY", "x41_hash_split")
    canary_every = max(1, int(os.environ.get("BENCH_CANARY_EVERY", "10")))
    canary: list[float] = []
    if canary_name in qs:
        timed_run(canary_name)  # its own warmup
        canary.append(round(timed_run(canary_name), 4))

    # per-query untimed warmup + best-of-N (default 3): the host VM
    # shows heavy run-to-run steal/JIT variance (round 2 recorded a
    # phantom 8x regression on x5 from one contended run); the warmup
    # absorbs first-run compilation/page-cache effects and the minimum
    # of three timed runs is the achievable per-query time. Under
    # SUSTAINED contention even the minimum inflates, so the
    # artifact also carries every run's time (`runs`) and the canary
    # series — the evidence needed to tell contention from regression.
    runs = max(3, int(os.environ.get("BENCH_RUNS", "3")))
    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    compiles: dict[str, int] = {}
    # Spark's count of generated classes compiled (cache misses) in this JVM
    compiled = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount
    )
    for qi, n in enumerate(names):
        samples: list[float] = []
        timed_run(n)  # untimed warmup
        c0 = compiled()
        for _ in range(runs):
            samples.append(round(timed_run(n), 4))
        compiles[n] = compiled() - c0
        timings[n] = min(samples)
        all_runs[n] = samples
        if canary and (qi + 1) % canary_every == 0:
            canary.append(round(timed_run(canary_name), 4))
    if canary:  # closing sample so the tail window is always covered
        canary.append(round(timed_run(canary_name), 4))

    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "queries": timings,
                "runs": all_runs,
                "canary": {
                    "query": canary_name,
                    "every": canary_every,
                    "series": canary,
                },
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "compiles": compiles,
                "session_start_s": round(session_start_s, 4),
                "class_archive": class_archive,
            }
        )
    )


if __name__ == "__main__":
    main()
