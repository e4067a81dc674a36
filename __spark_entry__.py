"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

The real implementation lives in the ``dirty_js_etl_spark`` package
(see SURVEY.md §2 for the operator inventory each query exercises).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the reference's users-merge scenario
    (``mappings/users.js`` transposed, SURVEY.md §7.2) — merge-upsert the
    full ``customer`` relation over a stale derived snapshot with an FK
    broadcast-lookup into ``nation``, via the join-based MERGE operator."""
    from dirty_js_etl_spark.queries import all_queries

    t5_merge_full = all_queries()["t5_merge_full"]
    return t5_merge_full(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from dirty_js_etl_spark.queries import all_queries

    return all_queries()


def oracle_sql() -> dict[str, str]:
    from dirty_js_etl_spark.queries import all_oracles

    return all_oracles()
