"""Merge-operator matrix tests (T5/T6): the full-outer-join decomposition
across matched/insert/keep × insert_only/update_only/merge_pk, plus the
duplicate-key guard and literal/NULL merge-on forms."""

from __future__ import annotations

import pytest

from dirty_js_etl_spark.operators.merge import (
    DuplicateMergeKeysError,
    MergeKey,
    merge_into_sql,
    merge_upsert,
)


@pytest.fixture()
def frames(spark):
    dest = spark.createDataFrame(
        [(1, "old1", "keep1"), (2, "old2", "keep2")],
        "k int, v string, extra string",
    )
    src = spark.createDataFrame([(2, "new2"), (3, "new3")], "k int, v string")
    return dest, src


KEYS = [MergeKey("k")]


def rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )


def test_full_merge(spark, frames):
    dest, src = frames
    mr = merge_upsert(dest, src, KEYS)
    assert rows(mr.result) == [
        (1, "old1", "keep1"),  # dest-only kept
        (2, "new2", "keep2"),  # matched: updated, unmapped col kept
        (3, "new3", None),  # inserted: unmapped col NULL
    ]
    assert sorted((r["_action"], r["k"]) for r in mr.audit.collect()) == [
        ("INSERT", 3),
        ("UPDATE", 2),
    ]


def test_insert_only(spark, frames):
    dest, src = frames
    mr = merge_upsert(dest, src, KEYS, insert_only=True)
    assert rows(mr.result) == [
        (1, "old1", "keep1"),
        (2, "old2", "keep2"),  # MATCHED suppressed -> dest kept
        (3, "new3", None),
    ]
    assert [(r["_action"], r["k"]) for r in mr.audit.collect()] == [("INSERT", 3)]


def test_update_only(spark, frames):
    dest, src = frames
    mr = merge_upsert(dest, src, KEYS, update_only=True)
    assert rows(mr.result) == [
        (1, "old1", "keep1"),
        (2, "new2", "keep2"),  # updated; no insert of k=3
    ]
    assert [(r["_action"], r["k"]) for r in mr.audit.collect()] == [("UPDATE", 2)]


def test_merge_pk_protected(spark, frames):
    dest, src = frames
    mr = merge_upsert(dest, src, KEYS, merge_pk=("v",))
    assert rows(mr.result) == [
        (1, "old1", "keep1"),
        (2, "old2", "keep2"),  # v excluded from UPDATE SET
        (3, "new3", None),  # insert still gets source v
    ]


def test_duplicate_source_keys_raise(spark):
    dest = spark.createDataFrame([(1, "a")], "k int, v string")
    src = spark.createDataFrame([(1, "x"), (1, "y")], "k int, v string")
    with pytest.raises(DuplicateMergeKeysError):
        merge_upsert(dest, src, KEYS, validate_keys=True)


def test_value_and_column_keys(spark):
    # ON D.k = S.k AND D.kind = 'x' (tsql2008.js:197-209 value form)
    dest = spark.createDataFrame(
        [(1, "x", "old"), (1, "y", "other")], "k int, kind string, v string"
    )
    src = spark.createDataFrame([(1, "x", "new")], "k int, kind string, v string")
    mr = merge_upsert(dest, src, [MergeKey("k"), MergeKey("kind", kind="value", value="x")])
    assert rows(mr.result) == [(1, "x", "new"), (1, "y", "other")]


def test_null_form_key(spark):
    # ON D.k = S.k AND D.flag IS NULL
    dest = spark.createDataFrame(
        [(1, None, "old"), (1, "set", "other")], "k int, flag string, v string"
    )
    src = spark.createDataFrame([(1, None, "new")], "k int, flag string, v string")
    mr = merge_upsert(
        dest, src, [MergeKey("k"), MergeKey("flag", kind="null")], merge_pk=("flag",)
    )
    assert rows(mr.result) == [(1, "set", "other"), (1, None, "new")]


def test_source_superset_raises(spark, frames):
    dest, _ = frames
    src = spark.createDataFrame([(1, "a", 1.0)], "k int, v string, unknown double")
    with pytest.raises(ValueError, match="unknown"):
        merge_upsert(dest, src, KEYS)


def test_flags_mutually_exclusive(spark, frames):
    dest, src = frames
    with pytest.raises(ValueError):
        merge_upsert(dest, src, KEYS, insert_only=True, update_only=True)


def test_merge_into_sql_render():
    sql = merge_into_sql(
        "delta.users",
        "src_view",
        [MergeKey("k")],
        ["k", "v"],
        merge_pk=("k",),
    )
    assert "MERGE INTO delta.users AS D" in sql
    assert "ON D.`k` = S.`k`" in sql
    assert "UPDATE SET D.`v` = S.`v`" in sql
    assert "INSERT (`k`, `v`)" in sql


def test_merge_into_sql_goldens():
    # Exact renders for every mode x key-kind combination. delta-spark /
    # Iceberg are not installable here (and local DuckDB 1.0 predates
    # MERGE INTO), so the executable-parity check is deferred to a real
    # cluster; these goldens pin the emitted statement byte-for-byte so
    # any render drift is caught, and the MergeKey classification they
    # encode is the same one merge_upsert's driver-green t5/t6/t11
    # queries execute.
    keys = [MergeKey("k"), MergeKey("site", kind="value", value="us"),
            MergeKey("tomb", kind="null")]
    cols = ["k", "site", "tomb", "v"]
    assert merge_into_sql("cat.t", "sv", keys, cols) == (
        "MERGE INTO cat.t AS D\n"
        "USING sv AS S\n"
        "ON D.`k` = S.`k` AND D.`site` = 'us' AND D.`tomb` IS NULL\n"
        "WHEN MATCHED THEN UPDATE SET D.`k` = S.`k`, D.`site` = S.`site`, "
        "D.`tomb` = S.`tomb`, D.`v` = S.`v`\n"
        "WHEN NOT MATCHED THEN INSERT (`k`, `site`, `tomb`, `v`) "
        "VALUES (S.`k`, S.`site`, S.`tomb`, S.`v`)"
    )
    assert merge_into_sql("cat.t", "sv", [MergeKey("k")], ["k", "v"],
                          insert_only=True) == (
        "MERGE INTO cat.t AS D\n"
        "USING sv AS S\n"
        "ON D.`k` = S.`k`\n"
        "WHEN NOT MATCHED THEN INSERT (`k`, `v`) VALUES (S.`k`, S.`v`)"
    )
    assert merge_into_sql("cat.t", "sv", [MergeKey("k")], ["k", "v"],
                          update_only=True) == (
        "MERGE INTO cat.t AS D\n"
        "USING sv AS S\n"
        "ON D.`k` = S.`k`\n"
        "WHEN MATCHED THEN UPDATE SET D.`k` = S.`k`, D.`v` = S.`v`"
    )
    assert merge_into_sql("cat.t", "sv", [MergeKey("k")], ["k", "v"],
                          merge_pk=("k",)) == (
        "MERGE INTO cat.t AS D\n"
        "USING sv AS S\n"
        "ON D.`k` = S.`k`\n"
        "WHEN MATCHED THEN UPDATE SET D.`v` = S.`v`\n"
        "WHEN NOT MATCHED THEN INSERT (`k`, `v`) VALUES (S.`k`, S.`v`)"
    )
    # integer value-key renders unquoted
    assert "D.`site` = 7" in merge_into_sql(
        "t", "s", [MergeKey("site", kind="value", value=7)], ["site", "v"]
    )
    # string value-keys double embedded quotes; bools render as SQL
    assert "ON D.`name` = 'O''Brien'\n" in merge_into_sql(
        "t", "s", [MergeKey("name", kind="value", value="O'Brien")], ["name", "v"]
    )
    assert "ON D.`live` = TRUE\n" in merge_into_sql(
        "t", "s", [MergeKey("live", kind="value", value=True)], ["live", "v"]
    )


# ---------------------------------------------------------------------------
# Delta execution parity, skipped where delta-spark does not import
# ---------------------------------------------------------------------------


def _delta_ok() -> bool:
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


_DELTA_PARITY_SCRIPT = r"""
import sys

from delta import configure_spark_with_delta_pip
from pyspark.sql import SparkSession

from dirty_js_etl_spark.operators.merge import (
    MergeKey, merge_into_sql, merge_upsert,
)

tmp = sys.argv[1]
builder = (
    SparkSession.builder.master("local[4]")
    .appName("delta-merge-parity")
    .config("spark.sql.extensions",
            "io.delta.sql.DeltaSparkSessionExtension")
    .config("spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
)
spark = configure_spark_with_delta_pip(builder).getOrCreate()
dest_rows = [(1, "old1", "keep1"), (2, "old2", "keep2")]
src_rows = [(2, "new2", "s2"), (3, "new3", "s3")]
for mode, kw in [
    ("full", {}),
    ("insert_only", dict(insert_only=True)),
    ("update_only", dict(update_only=True)),
]:
    dest = spark.createDataFrame(dest_rows, "k int, v string, extra string")
    src = spark.createDataFrame(src_rows, "k int, v string, extra string")
    path = f"{tmp}/delta_{mode}"
    dest.write.format("delta").save(path)
    src.createOrReplaceTempView("src_view")
    sql = merge_into_sql(
        f"delta.`{path}`", "src_view", [MergeKey("k")],
        ["k", "v", "extra"], **kw,
    )
    spark.sql(sql)
    got = {tuple(r) for r in spark.read.format("delta").load(path).collect()}
    exp = {
        tuple(r)
        for r in merge_upsert(dest, src, [MergeKey("k")], **kw).result.collect()
    }
    assert got == exp, mode
spark.stop()
print("PARITY-OK")
"""


@pytest.mark.skipif(
    not _delta_ok(),
    reason="delta-spark not installed in this container (and pip installs "
    "are disallowed) — merge_into_sql stays golden-string-tested here "
    "(test_merge_into_sql_goldens); this test executes the rendered "
    "MERGE INTO against a real local Delta table and cross-checks it "
    "row-for-row against merge_upsert on any cluster where delta-spark "
    "ships",
)
def test_merge_into_sql_executes_on_delta(tmp_path):
    """End-to-end parity: the rendered MERGE INTO, executed on a Delta
    table, must produce exactly merge_upsert's result for the same
    (dest, src, keys) — full merge, insertOnly, and updateOnly.

    Runs in a SUBPROCESS with its own JVM: in the pytest process the
    shared session fixture has usually already built a SparkSession, so
    ``getOrCreate()`` here would return it and silently drop the
    ``spark.sql.extensions`` Delta config — failing on exactly the
    delta-equipped clusters this gate targets. A fresh interpreter makes
    the Delta-configured builder authoritative and leaves the shared
    session untouched."""
    import os
    import subprocess
    import sys

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = repo_root + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [sys.executable, "-c", _DELTA_PARITY_SCRIPT, str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    assert proc.returncode == 0 and "PARITY-OK" in proc.stdout, (
        proc.stdout[-2000:] + proc.stderr[-2000:]
    )
