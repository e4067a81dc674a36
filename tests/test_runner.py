"""Pipeline-runner tests (T8-T12, T16): ordering, cleanup rules, passes,
idempotency, in-run state visibility for FK parents."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dirty_js_etl_spark.catalog import Catalog
from dirty_js_etl_spark.functions.combinators import (
    DirectCopy,
    ForeignKey,
    MergeOn,
    RawValue,
)
from dirty_js_etl_spark.plans.mapping import MappingSpec, run_mapping
from dirty_js_etl_spark.plans.runner import Pipeline


@pytest.fixture()
def cat(spark):
    c = Catalog(spark)
    c.register("src", spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"))
    c.register("dst", spark.createDataFrame([(1, "old", "x")], "id int, v string, extra string"))
    return c


def _merge_spec(**kw):
    base = dict(
        destination="dst",
        source="src",
        use_merge=True,
        columns={"id": MergeOn("id"), "v": DirectCopy("v")},
    )
    base.update(kw)
    return MappingSpec(**base)


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_single_pass_merge(cat):
    res = Pipeline().use_mapping(_merge_spec()).run(cat)
    assert rows(res["dst"].result) == [(1, "a", "x"), (2, "b", None)]


def test_two_passes_fixpoint(cat):
    res = Pipeline(passes=2).use_mapping(_merge_spec()).run(cat)
    assert rows(res["dst"].result) == [(1, "a", "x"), (2, "b", None)]
    # pass 2 audit must be all-UPDATE (the reference's test protocol,
    # etl.js:27-29)
    audit2 = res["dst"].audit_per_pass[1]
    assert set(r["_action"] for r in audit2.collect()) == {"UPDATE"}


def test_check_idempotent(cat):
    assert Pipeline().use_mapping(_merge_spec()).check_idempotent(cat)


def test_truncate_cleanup_skipped_for_merge(cat):
    # merge tables: cleanup emitted commented-out (tsql2008.js:89)
    res = Pipeline().use_mapping(_merge_spec(truncate=True)).run(cat)
    assert rows(res["dst"].result) == [(1, "a", "x"), (2, "b", None)]


def test_truncate_cleanup_applies_for_insert(cat):
    spec = MappingSpec(
        destination="dst",
        source="src",
        truncate=True,
        columns={"id": DirectCopy("id"), "v": DirectCopy("v")},
    )
    res = Pipeline().use_mapping(spec).run(cat)
    # dest emptied, then append: only source rows remain
    assert rows(res["dst"].result) == [(1, "a", None), (2, "b", None)]


def test_kill_where_cleanup(cat):
    spec = MappingSpec(
        destination="dst",
        source="src",
        kill_where="id = 1",
        columns={"id": DirectCopy("id"), "v": DirectCopy("v")},
    )
    res = Pipeline().use_mapping(spec).run(cat)
    assert rows(res["dst"].result) == [(1, "a", None), (2, "b", None)]


def test_fk_parent_sees_in_run_state(spark):
    """T16: a child mapping's FK lookup resolves against the parent rows
    merged earlier in the same run (etl.js:39 ordering contract)."""
    cat = Catalog(spark)
    cat.register("p_src", spark.createDataFrame([(10, "P10")], "pid int, pname string"))
    cat.register("parent", spark.createDataFrame([], "pid int, pname string"))
    cat.register("c_src", spark.createDataFrame([(1, 10)], "cid int, pref int"))
    cat.register("child", spark.createDataFrame([], "cid int, pname string"))

    parent_map = MappingSpec(
        destination="parent",
        source="p_src",
        use_merge=True,
        columns={"pid": MergeOn("pid"), "pname": DirectCopy("pname")},
    )
    child_map = MappingSpec(
        destination="child",
        source="c_src",
        use_merge=True,
        columns={
            "cid": MergeOn("cid"),
            "pname": ForeignKey("pref", "parent", "pname", "pid"),
        },
    )
    res = Pipeline().use_mapping(parent_map).use_mapping(child_map).run(cat)
    assert rows(res["child"].result) == [(1, "P10")]


def test_dry_run_leaves_catalog_untouched(cat):
    Pipeline(dry_run=True).use_mapping(_merge_spec()).run(cat)
    assert rows(cat.read("dst")) == [(1, "old", "x")]


def test_persist_updates_catalog(cat):
    Pipeline(dry_run=False).use_mapping(_merge_spec()).run(cat)
    assert rows(cat.read("dst")) == [(1, "a", "x"), (2, "b", None)]


def test_message_and_hooks_run(cat, caplog):
    import logging

    spec = _merge_spec(message="migrating things")
    with caplog.at_level(logging.INFO, logger="dirty_js_etl_spark"):
        Pipeline().use_mapping(spec).run(cat)
    assert any("migrating things" in m for m in caplog.messages)


def test_observation_metrics_piggyback_on_action(spark, catalog):
    # Pipeline observability: Observation metrics compute DURING the
    # action (no second scan) -- the replacement for the reference's
    # PRINT narration (T14) that actually measures the data: row count
    # and null tally arrive with the job, free, at any scale.
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("etl_metrics")
    c = catalog.read("customer")
    observed = c.observe(
        obs,
        F.count(F.lit(1)).alias("rows_processed"),
        F.sum(F.col("c_acctbal").isNull().cast("int")).alias("null_acctbal"),
    )
    n = observed.count()
    got = obs.get
    assert got["rows_processed"] == n
    assert got["null_acctbal"] == 0


def test_check_idempotent_sees_rows_pass_2_adds(spark):
    # a NULL merge key never matches, so every pass inserts that source
    # row again: pass 1 leaves 2 rows, pass 2 leaves 3
    cat = Catalog(spark)
    cat.register("src", spark.createDataFrame([(1, "a"), (None, "b")], "id int, v string"))
    cat.register("dst", spark.createDataFrame([], "id int, v string, extra string"))
    pipe = Pipeline().use_mapping(_merge_spec())
    assert not pipe.check_idempotent(cat)


# -- the stored, action-tagged merge frame -----------------------------------


def _chain_catalog(spark):
    """Parent/child merge pair (FK into the in-run parent) plus an append
    with truncate and an append with kill_where."""
    cat = Catalog(spark)
    tables = {
        "p_src": ([(10, "P10"), (20, "P20")], "pid int, pname string"),
        "parent": ([(10, "old"), (30, "P30")], "pid int, pname string"),
        "c_src": ([(1, 10), (2, 20), (3, 30)], "cid int, pref int"),
        "child": ([(1, "stale")], "cid int, pname string"),
        "t_log": ([(9, "gone", "x")], "id int, v string, extra string"),
        "k_log": ([(1, "drop", "x"), (5, "keep", "y")], "id int, v string, extra string"),
    }
    for name, (data, schema) in tables.items():
        cat.register(name, spark.createDataFrame(data, schema))
    specs = [
        MappingSpec(
            destination="parent",
            source="p_src",
            use_merge=True,
            columns={"pid": MergeOn("pid"), "pname": DirectCopy("pname")},
        ),
        MappingSpec(
            destination="child",
            source="c_src",
            use_merge=True,
            columns={
                "cid": MergeOn("cid"),
                "pname": ForeignKey("pref", "parent", "pname", "pid"),
            },
        ),
        MappingSpec(
            destination="t_log",
            source="c_src",
            truncate=True,
            columns={"id": DirectCopy("cid"), "v": ForeignKey("pref", "parent", "pname", "pid")},
        ),
        MappingSpec(
            destination="k_log",
            source="c_src",
            kill_where="id < 3",
            columns={"id": DirectCopy("cid"), "v": RawValue("new")},
        ),
    ]
    return cat, specs


def test_pipeline_outputs_read_stored_rows_not_joins(spark):
    cat, specs = _chain_catalog(spark)
    res = Pipeline(mappings=specs, passes=2).run(cat)
    frames = [df for tr in res.values() for df in (tr.result, *tr.audit_per_pass)]
    assert len(frames) == 4 * 3
    for df in frames:
        df.collect()  # the final adaptive plan, every query stage included
        assert "Join" not in df._jdf.queryExecution().executedPlan().toString()


def test_pipeline_matches_unmaterialized_run_mapping_chain(spark):
    cat, specs = _chain_catalog(spark)
    res = Pipeline(mappings=specs, passes=2).run(cat)

    # the same chain by hand, every frame lazy: cleanup, then two passes
    # of run_mapping against an overlay of the in-run state
    state = Catalog(spark)
    for name in ("p_src", "c_src", "parent", "child"):
        state.register(name, cat.read(name))
    state.register("t_log", cat.read("t_log").limit(0))
    state.register("k_log", cat.read("k_log").filter(~F.coalesce(F.expr("id < 3"), F.lit(False))))
    audits: dict[str, list] = {s.destination: [] for s in specs}
    for _ in range(2):
        for spec in specs:
            mr = run_mapping(spec, state, dest=state.read(spec.destination))
            state.register(spec.destination, mr.result)
            audits[spec.destination].append(mr.audit)

    for spec in specs:
        name = spec.destination
        assert rows(res[name].result) == rows(state.read(name))
        got = [rows(a) for a in res[name].audit_per_pass]
        assert got == [rows(a) for a in audits[name]]
    # the fixture exercises every path: updates, inserts, FK, cleanup
    assert rows(res["child"].result) == [(1, "P10"), (2, "P20"), (3, "P30")]
    assert rows(res["t_log"].result) == [
        (1, "P10", None), (1, "P10", None), (2, "P20", None), (2, "P20", None),
        (3, "P30", None), (3, "P30", None),
    ]
    assert rows(res["k_log"].result) == [
        (1, "new", None), (1, "new", None), (2, "new", None), (2, "new", None),
        (3, "new", None), (3, "new", None), (5, "keep", "y"),
    ]
