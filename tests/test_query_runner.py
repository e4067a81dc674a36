"""The query runner's API (``tools/runner.py``) in the shared session at
sf0.001: the record the oracle and determinism modes write per query,
the stamp every record carries, and the bench mode's x216 index, which
lives only as long as the run."""

from __future__ import annotations

import glob
import os
import tempfile

import pyspark
import pytest

from tests.conftest import SF_DIR
from tests.test_static import STAMP_KEYS
from tools import runner

X216_INDEX = os.path.join(tempfile.gettempdir(), "spark_graft_x216_index_*")


def test_oracle_and_hostile_records(spark):
    names = ["t5_merge_full", "x6b_minhash_lsh_portable", "x35b_sketch_estimates"]
    rec = runner.compare(spark, SF_DIR, names, hostile_pass=True)
    q = rec["queries"]
    assert list(q) == names
    assert [q[n]["protected"]["status"] for n in names] == ["ok", "ok", "rows_only"]
    for n in names:
        assert q[n]["hostile"] == {"status": "invariant", "rows": q[n]["protected"]["rows"]}
        assert q[n]["protected"]["rows"] > 0
    sessions = rec["sessions"]
    assert sessions["protected"]["counts"] == {"ok": 2, "rows_only": 1}
    assert sessions["hostile"]["counts"] == {"invariant": 3}
    st = sessions["protected"]["stamp"]
    assert set(st) == STAMP_KEYS
    assert st["sf"] == 0.001
    assert st["spark"] == pyspark.__version__
    assert st["nproc"] >= 1 and st["mem_total_mb"] > 0 and st["jdk"]


def test_bench_mode_leaves_no_x216_index(spark):
    before = set(glob.glob(X216_INDEX))
    rec = runner.bench(spark, SF_DIR, ["x216_ingest_probe"], session_start_s=0.0)
    assert set(rec) == {
        "metric", "value", "unit", "queries", "runs", "canary", "sf",
        "compiles", "session_start_s", "class_archive", "stamp",
    }
    assert list(rec["queries"]) == ["x216_ingest_probe"]
    assert len(rec["runs"]["x216_ingest_probe"]) == runner.RUNS
    # other runs on the box may hold their own index meanwhile
    assert set(glob.glob(X216_INDEX)) <= before
    # a run that fails after the index was built removes it as well
    with pytest.raises(ZeroDivisionError):
        with runner.registry(spark, SF_DIR, ["x216_ingest_probe"]):
            assert set(glob.glob(X216_INDEX)) - before
            1 / 0
    assert set(glob.glob(X216_INDEX)) <= before
