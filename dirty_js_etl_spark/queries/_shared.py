"""Driver-facing query registry: one (Spark query, DuckDB oracle) pair per
implemented operator from SURVEY.md §2.

Every query callable takes ``(spark, sf_dir)`` and returns a DataFrame;
the paired oracle is ANSI/DuckDB SQL over the same parquet tables that
must produce identical row count, column names, and (order-insensitive)
values. Column names are aliased identically on both sides — the driver
sorts columns by name before hashing.

Float-determinism rules used throughout (so cross-engine hashes match):

- sums over integral-valued doubles (``l_quantity``) are exact in IEEE
  double regardless of order — safe;
- money sums go through ``CAST(x AS DECIMAL(18,2))`` (exact, associative)
  and the *result* is cast to DOUBLE on both sides so the output type and
  bits agree;
- double→int casts: Spark truncates toward zero, DuckDB rounds — oracles
  spell ``CAST(trunc(x) AS INT)`` to pin truncation semantics;
- ``round`` can yield IEEE −0.0 on one engine and +0.0 on the other
  (hash mismatch): add ``+ 0.0`` after rounding to normalize;
- regressions/moments over large-magnitude x (epoch seconds) are
  cancellation-prone and engine-order-dependent — center x first;
- DuckDB parses ``127.0`` as DECIMAL and FLOAT×DECIMAL *stays float32*
  (Spark promotes to double) — oracles CAST float columns to DOUBLE
  before arithmetic.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dirty_js_etl_spark.catalog import Catalog, fixture_catalog
from dirty_js_etl_spark.functions.combinators import (
    AggregateColumn,
    CaseMap,
    CastAs,
    ConcatColumns,
    CopyOrClear,
    CopyOrDefault,
    DirectCopy,
    ForeignKey,
    InvertBit,
    MergeOn,
    RawValue,
    Sql,
    SqlFunction,
    StaticHash,
    TruncateString,
)
from dirty_js_etl_spark.plans.mapping import MappingSpec, compile_mapping, run_mapping
from dirty_js_etl_spark.plans.runner import Pipeline

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None  # None -> driver does a rows-only check


_REGISTRY: dict[str, RegisteredQuery] = {}


def register(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        _REGISTRY[name] = RegisteredQuery(name=name, fn=fn, oracle=oracle)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Driver window: the driver verifies the first ~51 entries of queries(), so
# the order is a contract. _SENTINELS lead it, then every other query in
# registration order (the import order in queries/__init__.py). A query that
# must be in the window goes into _SENTINELS.
#
# The sentinels: the flagship merge pipeline (C7/C2/C13/C8/C3/C12 + T5 in
# one query, the §2 regression canary), then the graph, linkage and MinHash
# queries whose plans depend most on shuffle partitioning and spread.
# ---------------------------------------------------------------------------
_SENTINELS: list[str] = [
    "t5_merge_full",
    "x143_pagerank",
    "x141_triangle_count",
    "x205_link_pairs",
    "x210_weighted_link_pairs",
    "x6_minhash_lsh_pairs",
    "x206_entity_resolution",
    "x209_multi_pass_resolution",
]


def _window_order() -> list[str]:
    missing = [n for n in _SENTINELS if n not in _REGISTRY]
    if missing:
        raise ValueError(f"_SENTINELS names not registered: {missing}")
    return list(_SENTINELS) + [n for n in _REGISTRY if n not in _SENTINELS]


def all_queries() -> dict[str, QueryFn]:
    return {name: _REGISTRY[name].fn for name in _window_order()}


def all_oracles() -> dict[str, str]:
    return {
        name: _REGISTRY[name].oracle
        for name in _window_order()
        if _REGISTRY[name].oracle
    }


# ---------------------------------------------------------------------------
# Flagship fixture: the reference's users-merge scenario (FIXTURES.md §C)
# transposed onto the driver tables. ``users_dest`` is a deterministic
# derived snapshot (even custkeys, stale values, one unmapped column) that
# the merge upserts the full ``customer`` relation over.
# ---------------------------------------------------------------------------


def users_dest(cat: Catalog) -> DataFrame:
    c = cat.read("customer")
    return c.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("orig_id"),
        F.upper(F.col("c_name")).alias("user_nm"),
        F.lit(0).alias("acct_i"),
        F.lit(None).cast("string").alias("nation_nm"),
        F.lit("STALE").alias("mktseg"),
        F.lit("D").alias("tag"),
        F.concat(F.lit("legacy-"), F.col("c_custkey").cast("string")).alias(
            "legacy_note"
        ),
    )


def users_mapping(**overrides) -> MappingSpec:
    """The flagship mapping — reference ``mappings/users.js`` transposed:
    MergeOn (C12), ConcatColumns (C7), CastAs (C2), ForeignKey (C13),
    CopyOrDefault (C8), RawValue (C3) into one merge (T5) with audit (T6).
    """
    kw = dict(
        destination="users",
        source="customer",
        use_merge=True,
        columns={
            "orig_id": MergeOn("c_custkey"),
            "user_nm": ConcatColumns(["c_name", "c_mktsegment"]),
            "acct_i": CastAs("c_acctbal", "INT"),
            "nation_nm": ForeignKey(
                "c_nationkey", "nation", "n_name", "n_nationkey"
            ),
            "mktseg": CopyOrDefault("c_mktsegment", "UNKNOWN"),
            "tag": RawValue("S"),
        },
    )
    kw.update(overrides)
    return MappingSpec(**kw)


# Shared oracle CTEs mirroring users_dest / users_mapping exactly.
_USERS_CTE = """
WITH dest AS (
  SELECT c_custkey AS orig_id,
         upper(c_name) AS user_nm,
         0 AS acct_i,
         CAST(NULL AS VARCHAR) AS nation_nm,
         'STALE' AS mktseg,
         'D' AS tag,
         'legacy-' || CAST(c_custkey AS VARCHAR) AS legacy_note
  FROM customer WHERE c_custkey % 2 = 0
),
src AS (
  SELECT c.c_custkey AS orig_id,
         trim(coalesce(c.c_name, '') || ' ' || coalesce(c.c_mktsegment, '')) AS user_nm,
         CAST(trunc(c.c_acctbal) AS INT) AS acct_i,
         n.n_name AS nation_nm,
         CASE WHEN c.c_mktsegment IS NULL OR length(rtrim(c.c_mktsegment)) = 0
              THEN 'UNKNOWN' ELSE c.c_mktsegment END AS mktseg,
         'S' AS tag
  FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
)
"""


def _cat(spark: SparkSession, sf_dir: str) -> Catalog:
    return fixture_catalog(spark, sf_dir)


def _users_cat(spark: SparkSession, sf_dir: str) -> Catalog:
    cat = _cat(spark, sf_dir)
    cat.register("users", users_dest(cat))
    return cat


def _project(spec: MappingSpec, spark: SparkSession, sf_dir: str) -> DataFrame:
    return compile_mapping(spec, _cat(spark, sf_dir)).projected


def _select_spec(columns: dict, source: str, **kw) -> MappingSpec:
    return MappingSpec(destination="__out", source=source, columns=columns, **kw)


