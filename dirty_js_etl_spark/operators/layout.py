"""Physical-layout operators: multi-dimensional clustering for
data-skipping at scale.

The reference never manages physical layout (it emits T-SQL and lets
SQL Server store rows; SURVEY.md §4.1). At 100 TB on object storage,
layout IS performance: parquet footer min/max stats prune row groups
only if rows that are close in the predicate space are close in the
file order. ``write_clustered`` delivers that for multi-column
predicates via a Morton (Z-order) key:

1. bucketize each clustering column to ``bits``-bit ranks: equi-depth
   bucket boundaries come from ``approxQuantile`` (a sampled sketch —
   one pass, driver-bounded result, NO global sort), and the rank is a
   pure map-side count-of-boundaries-below expression — resilient to
   skew and scale;
2. interleave the bits into one Z-key (pure integer arithmetic — the
   same formula the x119 query cross-checks against DuckDB);
3. ``repartitionByRange`` on the key (range partitioner → files own
   disjoint key ranges) + ``sortWithinPartitions`` (row groups within a
   file own disjoint sub-ranges).

A predicate on ANY prefix-subset of the clustered columns then touches
only the files whose Z-range intersects it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(cols: list[Column], bits: int = 8) -> Column:
    """Interleave the low ``bits`` bits of each (already bucketized,
    non-negative) column into a Morton key. Integer-only arithmetic."""
    n = len(cols)
    key = F.lit(0).cast("bigint")
    for i in range(bits):
        for j, c in enumerate(cols):
            bit = F.floor(c.cast("bigint") / F.lit(2**i)) % 2
            key = key + bit * F.lit(2 ** (i * n + j))
    return key


def _rank_from_bounds(value: Column, bounds: list[float]) -> Column:
    """Bucket rank = number of boundaries <= value: a map-side integer
    expression over a literal boundary array (duplicate boundaries from
    heavy hitters collapse into one bucket, keeping ranks < 2^bits)."""
    arr = F.array(*[F.lit(float(b)) for b in bounds])
    v = value.cast("double")
    return F.aggregate(
        arr,
        F.lit(0).cast("bigint"),
        lambda acc, b: acc
        + F.when(v >= b, F.lit(1)).otherwise(F.lit(0)).cast("bigint"),
    )


_NUMERIC_PREFIXES = (
    "tinyint", "smallint", "int", "bigint", "float", "double", "decimal"
)


def _order_proxy(col: str, dtype: str) -> Column:
    """Order-preserving numeric proxy of an orderable cluster column, so
    the ``approxQuantile`` sketch (numeric-only) accepts it: timestamps →
    epoch micros, dates → epoch days, numerics pass through. Anything
    else (string, binary, …) has no order-preserving numeric embedding
    bounded by a quantile sketch — fail loudly instead of silently
    narrowing the clustering contract."""
    if dtype.startswith(_NUMERIC_PREFIXES):
        return F.col(col)
    if dtype.startswith("timestamp"):
        # _ntz casts through session-tz (pinned UTC) — order-preserving
        return F.unix_micros(F.col(col).cast("timestamp"))
    if dtype == "date":
        return F.unix_date(F.col(col)).cast("bigint")
    raise ValueError(
        f"cluster column {col!r} has type {dtype}: Z-order clustering "
        "supports numeric, timestamp and date columns (strings have no "
        "order-preserving numeric proxy; pre-map them, e.g. to a "
        "dictionary rank, before clustering)"
    )


def rank_bucketize(df: DataFrame, col: str, bits: int = 8) -> Column:
    """Equi-depth bucket rank of ``col`` in [0, 2^bits): boundaries from
    an ``approxQuantile`` sketch (one sampled pass, no global sort), so
    arbitrary value distributions (skew, outliers) still spread roughly
    uniformly across the Z-space. Timestamp/date columns ride an
    order-preserving epoch proxy through the sketch."""
    n = 2**bits
    probs = [i / n for i in range(1, n)]
    proxy = _order_proxy(col, dict(df.dtypes)[col])
    bounds = df.select(proxy.alias("__zq")).approxQuantile(
        "__zq", probs, 1.0 / (4 * n)
    )
    return _rank_from_bounds(proxy, bounds)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int = 8,
    bits: int = 8,
) -> None:
    """Write ``df`` as parquet clustered on the Z-order of
    ``cluster_cols``: ``n_files`` range-partitioned, internally sorted
    files with disjoint Z-ranges (verified by test_layout.py).

    Bucket boundaries for ALL cluster columns come from one
    ``approxQuantile`` pass (multi-column form — a single sampled scan,
    driver-bounded result); ranking is then pure map-side arithmetic,
    so the only data movement is the final range partition on ``__z``.
    """
    n = 2**bits
    probs = [i / n for i in range(1, n)]
    types = dict(df.dtypes)
    proxies = [_order_proxy(c, types[c]) for c in cluster_cols]
    aliases = [f"__zq{i}" for i in range(len(cluster_cols))]
    all_bounds = df.select(
        *[p.alias(a) for p, a in zip(proxies, aliases)]
    ).approxQuantile(aliases, probs, 1.0 / (4 * n))
    zcols = [
        _rank_from_bounds(p, bounds)
        for p, bounds in zip(proxies, all_bounds)
    ]
    keyed = df.withColumn("__z", zorder_key(zcols, bits))
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_files(
    spark,
    path: str,
    target_mb: int = 128,
    sort_within_by: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_mb)`` files — the maintenance pass
    every long-running ingest needs (thousands of per-batch micro-files
    destroy scan throughput: footer overhead, task-per-file scheduling,
    object-store request amplification).

    Returns the new file count. Sizing reads the CURRENT total byte
    size from the file listing (driver-side metadata only — no data
    pass); the rewrite is one job: coalesce-by-repartition to the
    target count (+ optional ``sortWithinPartitions`` to restore a
    clustering order, since repartition would otherwise destroy it).
    Writes to a temp sibling then swaps, so a failed compaction never
    loses the input — the poor-man's transaction; on Delta/Iceberg use
    OPTIMIZE, which this mirrors.
    """
    import math
    import os
    import shutil

    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    out = df.repartition(n_files)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    tmp = path.rstrip("/") + ".__compact_tmp"
    out.write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + ".__compact_old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n_files
