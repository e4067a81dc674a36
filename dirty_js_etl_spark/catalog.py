"""Catalog — named-relation resolution over a parquet directory.

The reference addresses relations as ``[db].[dbo].[table]`` strings inside
one SQL Server instance (``/root/reference/tsql2008.js:7-18``); data never
flows through the tool. Here a relation name resolves to a ``DataFrame``:
by default a parquet file under a root directory (the driver fixture
layout, ``/root/testdata/sf*/{name}.parquet``), with an overlay dict so a
pipeline can layer in-flight results on top (the analog of "tables already
migrated in this run" that the reference's FK lookups depend on —
``/root/reference/etl.js:39`` loads mappings in dependency order for
exactly this reason).

Temp names (reference: ``#temp`` passes through unqualified,
``tsql2008.js:8``) map to overlay-only relations that never touch storage.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class Catalog:
    """Resolve table names to DataFrames over a parquet root + overlay."""

    def __init__(self, spark: SparkSession, root: str | None = None):
        self.spark = spark
        self.root = root
        self._overlay: dict[str, DataFrame] = {}
        self._loaders: dict[str, Callable[[], DataFrame]] = {}

    def register(self, name: str, df: DataFrame) -> None:
        """Overlay a DataFrame under ``name`` (wins over parquet)."""
        self._overlay[name] = df

    def register_loader(self, name: str, loader: Callable[[], DataFrame]) -> None:
        self._loaders[name] = loader

    def has(self, name: str) -> bool:
        if name in self._overlay or name in self._loaders:
            return True
        return self.root is not None and os.path.exists(self._path(name))

    def read(self, name: str) -> DataFrame:
        if name in self._overlay:
            return self._overlay[name]
        if name in self._loaders:
            return self._loaders[name]()
        if self.root is None:
            raise KeyError(f"unknown relation {name!r} (no parquet root configured)")
        return self.spark.read.parquet(self._path(name))

    def _path(self, name: str) -> str:
        assert self.root is not None
        return os.path.join(self.root, f"{name}.parquet")


FIXTURE_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# Tables with heavy per-row compute downstream (regex shingling, MinHash
# signatures, embedding dot products, sessionization). The fixtures are
# single-file / single-row-group parquet — an UNSPLITTABLE one-partition
# scan — so without a repartition every map-only operator over them runs
# on one core. On a real cluster these tables arrive as many files and
# the repartition below becomes a no-op (guarded on partition count).
HEAVY_TABLES = ("documents", "embeddings", "events")


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Repartition an under-split scan up to the cluster's parallelism.

    Guarded on ``df.inputFiles()`` (a driver-side file-index listing) —
    NOT ``df.rdd.getNumPartitions()``, which converts the scan to an RDD
    on every catalog read (a per-read plan conversion on a real
    cluster). The fixtures are single-file single-row-group parquet,
    so file count is the partition count; on a many-file production
    table the guard sees >= parallelism files and this is a no-op. The
    file sizes are re-read on every call (driver-side ``stat`` calls on
    fewer than parallelism files), so a file rewritten at the same path
    gets a fresh decision.
    """
    par = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — non-file relation: leave as-is
        return df
    nfiles = len(files)
    if not 0 < nfiles < par:
        return df
    # A big SPLITTABLE file is not under-split: Spark carves it into
    # ~size/maxPartitionBytes scan partitions, so only reshuffle when the
    # estimated scan partition count is ALSO below parallelism (file
    # count alone would reshuffle large single-file tables). The size
    # comes from the JVM's parsed conf, so a unit-suffixed setting
    # ("2m", "64MB") reads as the scan planner reads it.
    sql_conf = spark._jsparkSession.sessionState().conf()
    max_bytes = sql_conf.filesMaxPartitionBytes()
    paths = [uri.removeprefix("file:") for uri in files]
    if not all(os.path.exists(p) for p in paths):
        return df  # remote storage: trust Spark's own split planning
    total = sum(os.path.getsize(p) for p in paths)
    if max(nfiles, -(-total // max_bytes)) < par:
        df = df.repartition(par)
    return df


def _ntz_to_ltz(df: DataFrame) -> DataFrame:
    """Normalize any TIMESTAMP_NTZ column to a session-tz TIMESTAMP.

    The fixture writer omits parquet's isAdjustedToUTC flag, so under a
    session that has NOT disabled ``inferTimestampNTZ`` (the driver's
    session — queries receive it, not our protected one) the columns
    surface as TIMESTAMP_NTZ and every epoch function (``unix_micros``,
    ``unix_timestamp``) and watermark dies with DATATYPE_MISMATCH at
    analysis. Under the UTC session timezone the cast is value-exact and
    identical to DuckDB's naive-UTC read of the same file."""
    ntz = [name for name, dtype in df.dtypes if dtype == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _harden_session(spark: SparkSession) -> None:
    """Runtime-settable read protections, applied at catalog construction
    so they hold in ANY session (the driver builds its own, without
    ``session.get_spark``'s builder-time configs — the root cause of the
    rounds-2/3/4 works-locally-dies-under-the-driver failures)."""
    for key, val in (
        # TIMESTAMP(NANOS) fixtures (earlier testdata generations)
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        # micros-no-UTC-flag fixtures (current generation) → LTZ not NTZ
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
        # oracle parity: DuckDB reads these timestamps naive-UTC
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(key, val)
        except Exception:  # noqa: BLE001 — conf locked: fall back to casts
            pass
    # The NTZ→LTZ fallback cast in _ntz_to_ltz is value-exact ONLY under a
    # UTC session zone; if the conf could not be set, a non-UTC zone would
    # silently shift epoch values away from the oracle's naive-UTC read.
    # Fail loudly instead of silently diverging: wrong
    # answers are worse than a loud failure in a 226-query sweep.
    try:
        tz = spark.conf.get("spark.sql.session.timeZone")
    except Exception:  # noqa: BLE001
        tz = None
    if tz != "UTC":
        raise RuntimeError(
            "spark.sql.session.timeZone could not be set to UTC "
            f"(currently {tz!r}); TIMESTAMP_NTZ fixture columns will be "
            "reinterpreted in the session zone and epoch math will "
            "disagree with the naive-UTC oracle read"
        )


def fixture_catalog(spark: SparkSession, sf_dir: str) -> Catalog:
    """Catalog over one driver fixture directory (TESTDATA.md).

    Timestamp columns are NTZ-proofed twice over: session confs are set
    at construction (``_harden_session``) AND every loader casts any
    surviving TIMESTAMP_NTZ column to TIMESTAMP (``_ntz_to_ltz``), so the
    same query plan analyzes identically under the builder's protected
    session and the driver's default one. ``events.parquet`` generations
    with TIMESTAMP(NANOS) read as bigint under ``nanosAsLong`` and are
    rebuilt as micros timestamps (matching DuckDB, which truncates nanos
    to micros on read)."""
    _harden_session(spark)
    cat = Catalog(spark, root=sf_dir)

    def _load_events() -> DataFrame:
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return _spread(spark, _ntz_to_ltz(df))

    cat.register_loader("events", _load_events)

    def _loader(name: str, spread: bool) -> Callable[[], DataFrame]:
        def load() -> DataFrame:
            df = _ntz_to_ltz(
                spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
            )
            return _spread(spark, df) if spread else df

        return load

    for name in FIXTURE_TABLES:
        if name == "events":
            continue
        cat.register_loader(name, _loader(name, spread=name in HEAVY_TABLES))
    return cat
