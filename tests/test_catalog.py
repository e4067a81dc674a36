"""Catalog read-path behavior: under-split spreading and tz hardening.

The reference reads tables in-place inside one SQL Server instance
(``/root/reference/tsql2008.js:7-18``); splitting and timezone semantics
are Spark-side concerns with no reference counterpart, so these tests pin
OUR scale contract: single small files get spread to cluster parallelism,
big splittable files are left to Spark's own scan planning, and a session
whose timezone cannot be pinned to UTC fails loudly instead of silently
shifting epochs away from the naive-UTC oracle read.
"""

from __future__ import annotations

import os

import pytest

from dirty_js_etl_spark.catalog import _harden_session, _spread


def _n_scan_partitions(df):
    return df.rdd.getNumPartitions()


def test_spread_repartitions_small_single_file(spark, tmp_path):
    path = str(tmp_path / "small.parquet")
    spark.range(100).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    par = spark.sparkContext.defaultParallelism
    assert _n_scan_partitions(df) < par  # precondition: under-split scan
    spread = _spread(spark, df)
    assert _n_scan_partitions(spread) == par


def _assert_big_file_left_alone(spark, tmp_path, spell):
    """Write a single-file splittable parquet, set maxPartitionBytes to
    ``spell(n)`` for an ``n`` under file size / (2 * parallelism), and
    check that ``_spread`` inserts no Exchange above the scan."""
    path = str(tmp_path / "big.parquet")
    spark.range(200_000).selectExpr("id", "repeat('x', 64) AS pad").coalesce(
        1
    ).write.parquet(path)
    datafile = next(
        f for f in os.listdir(path) if f.endswith(".parquet") and not f.startswith("_")
    )
    size = os.path.getsize(os.path.join(path, datafile))
    par = spark.sparkContext.defaultParallelism
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", spell(size // (par * 2)))
    try:
        df = spark.read.parquet(path)
        assert _n_scan_partitions(df) >= par  # precondition: Spark splits it
        spread = _spread(spark, df)
        # identity: no Exchange was inserted on top of the scan
        assert "Exchange" not in spread._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_spread_leaves_big_splittable_file_alone(spark, tmp_path):
    """A large single-file splittable parquet that Spark
    already carves into >= parallelism scan partitions must NOT be
    round-tripped through a repartition shuffle. Simulated by shrinking
    maxPartitionBytes below the file size / parallelism ratio."""
    _assert_big_file_left_alone(spark, tmp_path, lambda n: str(max(1, n)))


def test_spread_reads_unit_suffixed_max_partition_bytes(spark, tmp_path):
    """``spark.sql.files.maxPartitionBytes`` accepts byte strings
    ("2k", "64MB"); Spark's scan splits the file by the parsed value, so
    ``_spread`` must read the same value and leave the scan alone."""
    _assert_big_file_left_alone(
        spark, tmp_path, lambda n: f"{max(1, n // 1024)}k"
    )


def test_harden_session_raises_when_tz_unsettable(spark, monkeypatch):
    """A warn in a 226-query sweep is easy to miss — when the
    session timezone cannot be pinned to UTC, raise."""
    real_set = spark.conf.set

    def locked_set(key, value):
        if key == "spark.sql.session.timeZone":
            raise RuntimeError("conf locked")
        real_set(key, value)

    real_set("spark.sql.session.timeZone", "America/New_York")
    try:
        monkeypatch.setattr(spark.conf, "set", locked_set)
        with pytest.raises(RuntimeError, match="timeZone"):
            _harden_session(spark)
    finally:
        monkeypatch.undo()
        real_set("spark.sql.session.timeZone", "UTC")


def test_harden_session_is_quiet_when_utc_sticks(spark):
    _harden_session(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
