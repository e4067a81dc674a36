"""Partitioning-invariance guards — the continuous twin of the sweep
``python tools/runner.py determinism``.

The sweep (the ``hostile`` session of ``CORRECTNESS_LOCAL_sf0.01.json``)
re-runs the whole registry under ``testing.HOSTILE``; these tests pin
the property continuously for one representative query per family, so a
change that introduces an arrival-order dependence (an unordered
``first()``, a float-sum tie-break, a ``limit`` without a sort) fails at
commit time, not at the next sweep.
"""

from __future__ import annotations

import pytest

from dirty_js_etl_spark.testing import hostile, normalize_pdf
from tests.conftest import SF_DIR

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
    with hostile(spark):
        got = normalize_pdf(fn(spark, SF_DIR).toPandas())
    assert baseline == got, (
        f"{name} output depends on physical partitioning; first diffs: "
        f"{[(a, b) for a, b in zip(baseline, got) if a != b][:3]}"
    )
