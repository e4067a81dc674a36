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
# Driver window: the driver verifies the first 51 entries of queries(), so
# that order is a contract, pinned here by name. WINDOW leads queries();
# every other registered query follows in sorted name order, so the module
# a query lives in decides nothing.
#
# The window opens with the flagship merge pipeline (C7/C2/C13/C8/C3/C12 +
# T5 in one query, the §2 regression canary), then the graph, linkage and
# MinHash queries whose plans depend most on shuffle partitioning and
# spread, then the C1–C15 / T2–T17 mapping surface and the first
# analytics, TPC-H and dedup queries.
# ---------------------------------------------------------------------------
WINDOW: tuple[str, ...] = (
    "t5_merge_full",
    "x143_pagerank",
    "x141_triangle_count",
    "x205_link_pairs",
    "x210_weighted_link_pairs",
    "x6_minhash_lsh_pairs",
    "x206_entity_resolution",
    "x209_multi_pass_resolution",
    "c1_direct_copy",
    "c2_cast_as",
    "c3_raw_value",
    "c4_case_map",
    "c5_invert_bit",
    "c6_truncate_string",
    "c7_concat_columns",
    "c8_copy_or_default",
    "c9_copy_or_clear",
    "c10_static_hash",
    "c11_t4_grouping",
    "c13_foreign_key",
    "c13_foreign_key_filtered",
    "c14_sql_function",
    "c15_sql_expr",
    "t2_source_filter",
    "t3_force_distinct",
    "t5_merge_insert_only",
    "t5_merge_update_only",
    "t5_merge_pk",
    "c12_merge_on_value",
    "c12_merge_on_null",
    "t6_audit",
    "t7_insert_select",
    "t8_truncate",
    "t9_kill_where",
    "t11_idempotent_merge",
    "t16_registry_fk_chain",
    "t10_setup_hooks",
    "t12_dry_run_invariance",
    "t15_pipeline_run",
    "t13_temp_qualified",
    "t14_print_messages",
    "t17_config_modes",
    "x22_topn_orders",
    "x23_set_ops",
    "x24_window_functions",
    "x25_date_functions",
    "x26_math_functions",
    "x32_tpch_q1",
    "x33_tpch_q3",
    "x34_tpch_q5",
    "x1_dedup_exact",
)


def _order() -> list[str]:
    missing = [n for n in WINDOW if n not in _REGISTRY]
    if missing:
        raise ValueError(f"WINDOW names not registered: {missing}")
    return [*WINDOW, *sorted(set(_REGISTRY).difference(WINDOW))]


def all_queries() -> dict[str, QueryFn]:
    return {name: _REGISTRY[name].fn for name in _order()}


def all_oracles() -> dict[str, str]:
    return {
        name: _REGISTRY[name].oracle
        for name in _order()
        if _REGISTRY[name].oracle
    }


def _cat(spark: SparkSession, sf_dir: str) -> Catalog:
    return fixture_catalog(spark, sf_dir)


_DEC = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"


def _disc_price():
    return F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,2)")
    )


# normalized text, both engines: lower + trim + collapse whitespace
_NORM_SQL = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
