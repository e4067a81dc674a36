"""Partitioning-invariance guards — the continuous twin of
``tools/determinism_audit.py``.

The full audit (DETERMINISM_AUDIT.json: 250/251 invariant, the one
sensitivity a rows-only KLL sketch by design) runs per-round over the
whole registry; these tests pin the property continuously for one
representative query per family, so a change that introduces an
arrival-order dependence (an unordered ``first()``, a float-sum
tie-break, a ``limit`` without a sort) fails at commit time, not at the
next round's audit.

The hostile config mirrors the audit: few shuffle partitions, 1 MiB scan
splits with zero open cost (so even sf0.001 parquet fans out), AQE off
so runtime coalescing can't undo the split.
"""

from __future__ import annotations

import pytest

from dirty_js_etl_spark.testing import normalize_pdf
from tests.conftest import SF_DIR

HOSTILE = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.files.maxPartitionBytes": str(1024 * 1024),
    "spark.sql.files.openCostInBytes": "0",
    "spark.sql.adaptive.enabled": "false",
}

# one per family: merge lifecycle, near-dup pairs, LSH portable twin,
# connected components, mergeable-sketch rollup, ANN top-k, window
# funnel (the file with group-constant first() calls).
REPRESENTATIVES = [
    "t5_merge_full",
    "x5_ngram_jaccard_pairs",
    "x6b_minhash_lsh_portable",
    "x36_dup_clusters",
    "x214_quantile_rollup_portable",
    "x8_embedding_topk",
    "x63_funnel",
]


@pytest.fixture(scope="module")
def registry():
    import __spark_entry__ as entry_mod

    return entry_mod.queries()


@pytest.mark.parametrize("name", REPRESENTATIVES)
def test_query_invariant_under_hostile_partitioning(spark, registry, name):
    if name not in registry:
        pytest.fail(f"representative {name} no longer registered")
    fn = registry[name]
    baseline = normalize_pdf(fn(spark, SF_DIR).toPandas())
    spark.catalog.clearCache()
    saved = {k: spark.conf.get(k, None) for k in HOSTILE}
    try:
        for k, v in HOSTILE.items():
            spark.conf.set(k, v)
        hostile = normalize_pdf(fn(spark, SF_DIR).toPandas())
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.catalog.clearCache()
    assert baseline == hostile, (
        f"{name} output depends on physical partitioning; first diffs: "
        f"{[(a, b) for a, b in zip(baseline, hostile) if a != b][:3]}"
    )
