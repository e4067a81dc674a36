"""The one oracle comparator and the two fixtures every comparison
shares, used by ``tools/runner.py`` (modes ``oracle`` and
``determinism``), the pytest mirror (``tests/test_queries.py``) and the
partitioning guards (``tests/test_determinism.py``).

Mirrors the driver's t2 gate shape: row count + column names +
order-insensitive value comparison (columns sorted by name, rows sorted,
floats canonicalized to 12 significant digits).

12 digits, not 6: 6g could mask a driver-red low-bit mismatch behind
local green. 12g is strictly harder than any plausible driver rounding
while still absorbing the one legitimate cross-engine artifact the
queries already guard (±0.0 after round(), collapsed here as well).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

# Hostile partitioning, every knob runtime-settable via spark.conf: few
# shuffle partitions, 1 MiB scan splits with zero file-open cost (so even
# sf0.001 parquet fans out to many input splits), AQE off (no runtime
# coalescing to re-merge what was split). A query whose output changes
# under it depends on physical partitioning: float aggregation order, an
# unordered first()/limit, a tie broken by arrival.
HOSTILE = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.files.maxPartitionBytes": str(1024 * 1024),
    "spark.sql.files.openCostInBytes": "0",
    "spark.sql.adaptive.enabled": "false",
}


@contextmanager
def hostile(spark):
    """Run the block under :data:`HOSTILE`, then restore the session's
    own values. Cached frames are dropped on the way in and out, so no
    frame crosses between the two layouts."""
    spark.catalog.clearCache()
    saved = {k: spark.conf.get(k, None) for k in HOSTILE}
    try:
        for k, v in HOSTILE.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.catalog.clearCache()


def oracle_db(sf_dir: str):
    """A DuckDB connection with one view per fixture table of ``sf_dir``.

    Spill goes outside the worktree (DuckDB's default temp_directory is
    the cwd-relative ``.tmp/``; a large sweep once committed a 2.1 GB
    spill file) and into a per-process dir, because DuckDB's spill file
    names are not process-unique."""
    import duckdb

    from dirty_js_etl_spark.catalog import FIXTURE_TABLES

    con = duckdb.connect()
    con.execute(f"SET temp_directory='/tmp/duckdb_oracle_tmp_{os.getpid()}'")
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize_pdf(pdf) -> list[tuple[str, ...]]:
    import pandas as pd

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)

    def canon(v):
        if v is None or v != v:  # None / NaN
            return "NULL"
        if isinstance(v, float):
            if v == 0.0:
                v = 0.0  # collapse IEEE -0.0 vs +0.0
            return f"{v:.12g}"
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
        return str(v)

    return sorted(tuple(canon(v) for v in row) for row in pdf.itertuples(index=False))


def compare_frames(spark_pdf, duck_pdf) -> list[str]:
    """Return a list of problems; empty means match."""
    problems: list[str] = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount {len(spark_pdf)} != {len(duck_pdf)}")
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
        )
    if not problems:
        a, b = normalize_pdf(spark_pdf), normalize_pdf(duck_pdf)
        if a != b:
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            problems.append(f"values differ; first diffs: {diffs}")
    return problems
