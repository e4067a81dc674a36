"""Mapping queries: the reference's combinator and T-SQL surface.

C1–C15 are the column combinators (``functions/combinators.py``) compiled
through ``plans/mapping.py``; T2–T17 are the mapping-level transforms:
source filter, distinct, the MERGE matrix with audit, append, truncate,
kill-where, idempotency, the setup hooks, dry runs, pipelines, temp
qualification and config modes (``plans/runner.py``, ``plans/config.py``).
x64 is C14's extension path through a registered pandas UDF.

The flagship fixture lives here too: ``users_dest`` / ``users_mapping``
transpose the reference's users-merge scenario (FIXTURES.md §C) onto the
driver tables, and ``t5_merge_full`` runs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dirty_js_etl_spark.catalog import Catalog
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
from dirty_js_etl_spark.queries._shared import _cat, register


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


def _users_cat(spark: SparkSession, sf_dir: str) -> Catalog:
    cat = _cat(spark, sf_dir)
    cat.register("users", users_dest(cat))
    return cat


def _project(spec: MappingSpec, spark: SparkSession, sf_dir: str) -> DataFrame:
    return compile_mapping(spec, _cat(spark, sf_dir)).projected


def _select_spec(columns: dict, source: str, **kw) -> MappingSpec:
    return MappingSpec(destination="__out", source=source, columns=columns, **kw)


@register(
    "c1_direct_copy",
    "SELECT c_custkey AS custkey, c_name AS name FROM customer",
)
def c1_direct_copy(spark, sf_dir):
    spec = _select_spec(
        {"custkey": DirectCopy("c_custkey"), "name": DirectCopy("c_name")},
        "customer",
    )
    return _project(spec, spark, sf_dir)


@register(
    "c2_cast_as",
    "SELECT CAST(trunc(c_acctbal) AS INT) AS bal_i, "
    "CAST(c_custkey AS VARCHAR) AS key_s FROM customer",
)
def c2_cast_as(spark, sf_dir):
    spec = _select_spec(
        {
            "bal_i": CastAs("c_acctbal", "INT"),
            "key_s": CastAs("c_custkey", "NVARCHAR(64)"),
        },
        "customer",
    )
    return _project(spec, spark, sf_dir)


@register(
    "c3_raw_value",
    "SELECT r_regionkey AS k, 'fixed' AS s, 42 AS n, "
    "CAST(NULL AS VARCHAR) AS nil FROM region",
)
def c3_raw_value(spark, sf_dir):
    spec = _select_spec(
        {
            "k": DirectCopy("r_regionkey"),
            "s": RawValue("fixed"),
            "n": RawValue(42),
            "nil": RawValue(None, dtype="NVARCHAR"),
        },
        "region",
    )
    return _project(spec, spark, sf_dir)


@register(
    "c4_case_map",
    "SELECT o_orderkey AS okey, "
    "CASE WHEN o_orderpriority = '1-URGENT' THEN 'P0' "
    "     WHEN o_orderpriority = '2-HIGH' THEN 'P1' "
    "     WHEN o_orderpriority = '3-MEDIUM' THEN 'P2' "
    "     ELSE 'P3' END AS prio FROM orders",
)
def c4_case_map(spark, sf_dir):
    spec = _select_spec(
        {
            "okey": DirectCopy("o_orderkey"),
            "prio": CaseMap(
                "o_orderpriority",
                {"1-URGENT": "P0", "2-HIGH": "P1", "3-MEDIUM": "P2"},
                default="P3",
            ),
        },
        "orders",
    )
    return _project(spec, spark, sf_dir)


@register(
    "c5_invert_bit",
    "SELECT l_orderkey AS okey, l_linenumber AS line, "
    "CASE WHEN l_linenumber = 1 THEN 0 ELSE 1 END AS not_first FROM lineitem",
)
def c5_invert_bit(spark, sf_dir):
    spec = _select_spec(
        {
            "okey": DirectCopy("l_orderkey"),
            "line": DirectCopy("l_linenumber"),
            "not_first": InvertBit("l_linenumber"),
        },
        "lineitem",
    )
    return _project(spec, spark, sf_dir)


@register(
    "c6_truncate_string",
    "SELECT p_partkey AS pkey, "
    "nullif(rtrim(substr(p_name, 1, 12)), '') AS name12 FROM part",
)
def c6_truncate_string(spark, sf_dir):
    spec = _select_spec(
        {
            "pkey": DirectCopy("p_partkey"),
            "name12": TruncateString("p_name", 12),
        },
        "part",
    )
    return _project(spec, spark, sf_dir)


@register(
    "c7_concat_columns",
    "SELECT c_custkey AS custkey, "
    "trim(coalesce(c_name, '') || ' ' || coalesce(c_mktsegment, '')) AS full_nm "
    "FROM customer",
)
def c7_concat_columns(spark, sf_dir):
    spec = _select_spec(
        {
            "custkey": DirectCopy("c_custkey"),
            "full_nm": ConcatColumns(["c_name", "c_mktsegment"]),
        },
        "customer",
    )
    return _project(spec, spark, sf_dir)


@register(
    "c8_copy_or_default",
    "SELECT c_custkey AS custkey, "
    "CASE WHEN c_mktsegment IS NULL OR length(rtrim(c_mktsegment)) = 0 "
    "THEN 'UNKNOWN' ELSE c_mktsegment END AS seg FROM customer",
)
def c8_copy_or_default(spark, sf_dir):
    spec = _select_spec(
        {
            "custkey": DirectCopy("c_custkey"),
            "seg": CopyOrDefault("c_mktsegment", "UNKNOWN"),
        },
        "customer",
    )
    return _project(spec, spark, sf_dir)


@register(
    "c9_copy_or_clear",
    "SELECT c_custkey AS custkey, "
    "CASE WHEN c_mktsegment IS NULL OR length(rtrim(c_mktsegment)) = 0 "
    "THEN NULL ELSE c_mktsegment END AS seg FROM customer",
)
def c9_copy_or_clear(spark, sf_dir):
    # C9 is C8 with a NULL default ("clear"): empty-or-null -> NULL
    spec = _select_spec(
        {
            "custkey": DirectCopy("c_custkey"),
            "seg": CopyOrClear("c_mktsegment"),
        },
        "customer",
    )
    return _project(spec, spark, sf_dir)


# StaticHash: digest computed driver-side at plan-build time (C10) — the
# oracle embeds the same literal, proving the generation-time semantics.
_C10_DIGEST = "2a1b5084e9c310025c1b3c574a4d8e0f"


@register(
    "c10_static_hash",
    f"SELECT r_regionkey AS k, '{_C10_DIGEST}' AS secret_hash FROM region",
)
def c10_static_hash(spark, sf_dir):
    spec = _select_spec(
        {
            "k": DirectCopy("r_regionkey"),
            "secret_hash": StaticHash("dirty-js-etl", algorithm="md5", encoding="hex"),
        },
        "region",
    )
    return _project(spec, spark, sf_dir)


@register(
    "c11_t4_grouping",
    "SELECT l_returnflag, l_linestatus, "
    "SUM(l_quantity) AS l_quantity, "
    "CAST(COUNT(l_orderkey) AS BIGINT) AS l_orderkey FROM lineitem "
    "GROUP BY l_returnflag, l_linestatus",
)
def c11_t4_grouping(spark, sf_dir):
    # GROUP BY keys inferred from the isColumn-flagged mappings (T4);
    # aggregates aliased back to their source names (tsql2008.js:235-238).
    spec = _select_spec(
        {
            "l_returnflag": DirectCopy("l_returnflag"),
            "l_linestatus": DirectCopy("l_linestatus"),
            "l_quantity": AggregateColumn("l_quantity", "SUM"),
            "l_orderkey": AggregateColumn("l_orderkey", "COUNT"),
        },
        "lineitem",
        use_grouping=True,
    )
    return _project(spec, spark, sf_dir)


@register(
    "c13_foreign_key",
    "SELECT c.c_custkey AS custkey, n.n_name AS nation_nm FROM customer c "
    "LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey",
)
def c13_foreign_key(spark, sf_dir):
    spec = _select_spec(
        {
            "custkey": DirectCopy("c_custkey"),
            "nation_nm": ForeignKey("c_nationkey", "nation", "n_name", "n_nationkey"),
        },
        "customer",
    )
    return _project(spec, spark, sf_dir)


@register(
    "c13_foreign_key_filtered",
    "SELECT c.c_custkey AS custkey, n.n_name AS nation_r1 FROM customer c "
    "LEFT JOIN (SELECT * FROM nation WHERE n_regionkey = 1) n "
    "ON c.c_nationkey = n.n_nationkey",
)
def c13_foreign_key_filtered(spark, sf_dir):
    # filterColumn/filterValue variant (mappr.js:297-306: extra WHERE
    # equality inside the generated lookup fn)
    spec = _select_spec(
        {
            "custkey": DirectCopy("c_custkey"),
            "nation_r1": ForeignKey(
                "c_nationkey",
                "nation",
                "n_name",
                "n_nationkey",
                filter_column="n_regionkey",
                filter_value=1,
            ),
        },
        "customer",
    )
    return _project(spec, spark, sf_dir)


@register(
    "c14_sql_function",
    "SELECT c_custkey AS custkey, upper(c_name) AS name_u, "
    "round(c_acctbal, 1) AS bal_r FROM customer",
)
def c14_sql_function(spark, sf_dir):
    spec = _select_spec(
        {
            "custkey": DirectCopy("c_custkey"),
            "name_u": SqlFunction("upper", columns=["c_name"]),
            "bal_r": SqlFunction("round", columns=["c_acctbal"], raws=[1]),
        },
        "customer",
    )
    return _project(spec, spark, sf_dir)


@register(
    "c15_sql_expr",
    "SELECT o_orderkey AS okey, o_totalprice * 2 AS double_price, "
    "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_final FROM orders",
)
def c15_sql_expr(spark, sf_dir):
    spec = _select_spec(
        {
            "okey": DirectCopy("o_orderkey"),
            "double_price": Sql("o_totalprice * 2", source_column="o_totalprice"),
            "is_final": Sql(
                "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END",
                source_column="o_orderstatus",
            ),
        },
        "orders",
    )
    return _project(spec, spark, sf_dir)


@register(
    "t2_source_filter",
    "SELECT o_orderkey AS okey, o_totalprice AS price FROM orders "
    "WHERE o_totalprice > 100000 AND o_orderstatus = 'O'",
)
def t2_source_filter(spark, sf_dir):
    spec = _select_spec(
        {"okey": DirectCopy("o_orderkey"), "price": DirectCopy("o_totalprice")},
        "orders",
        source_filter="o_totalprice > 100000 AND o_orderstatus = 'O'",
    )
    return _project(spec, spark, sf_dir)


@register(
    "t3_force_distinct",
    "SELECT DISTINCT o_custkey AS custkey, o_orderstatus AS status FROM orders",
)
def t3_force_distinct(spark, sf_dir):
    spec = _select_spec(
        {
            "custkey": DirectCopy("o_custkey"),
            "status": DirectCopy("o_orderstatus"),
        },
        "orders",
        force_distinct=True,
    )
    return _project(spec, spark, sf_dir)


_MERGE_FULL_SELECT = """
SELECT
  CASE WHEN s.orig_id IS NOT NULL THEN s.orig_id ELSE d.orig_id END AS orig_id,
  CASE WHEN s.orig_id IS NOT NULL THEN s.user_nm ELSE d.user_nm END AS user_nm,
  CASE WHEN s.orig_id IS NOT NULL THEN s.acct_i ELSE d.acct_i END AS acct_i,
  CASE WHEN s.orig_id IS NOT NULL THEN s.nation_nm ELSE d.nation_nm END AS nation_nm,
  CASE WHEN s.orig_id IS NOT NULL THEN s.mktseg ELSE d.mktseg END AS mktseg,
  CASE WHEN s.orig_id IS NOT NULL THEN s.tag ELSE d.tag END AS tag,
  d.legacy_note AS legacy_note
FROM dest d FULL OUTER JOIN src s ON d.orig_id = s.orig_id
"""


def _run_users(spark, sf_dir, **overrides):
    cat = _users_cat(spark, sf_dir)
    return run_mapping(users_mapping(**overrides), cat)


@register("t5_merge_full", _USERS_CTE + _MERGE_FULL_SELECT)
def t5_merge_full(spark, sf_dir):
    return _run_users(spark, sf_dir).result


@register(
    "t5_merge_insert_only",
    _USERS_CTE
    + """
SELECT
  coalesce(d.orig_id, s.orig_id) AS orig_id,
  CASE WHEN d.orig_id IS NOT NULL THEN d.user_nm ELSE s.user_nm END AS user_nm,
  CASE WHEN d.orig_id IS NOT NULL THEN d.acct_i ELSE s.acct_i END AS acct_i,
  CASE WHEN d.orig_id IS NOT NULL THEN d.nation_nm ELSE s.nation_nm END AS nation_nm,
  CASE WHEN d.orig_id IS NOT NULL THEN d.mktseg ELSE s.mktseg END AS mktseg,
  CASE WHEN d.orig_id IS NOT NULL THEN d.tag ELSE s.tag END AS tag,
  d.legacy_note AS legacy_note
FROM dest d FULL OUTER JOIN src s ON d.orig_id = s.orig_id
""",
)
def t5_merge_insert_only(spark, sf_dir):
    # WHEN MATCHED suppressed (tsql2008.js:304-308): matched rows keep dest
    return _run_users(spark, sf_dir, insert_only=True).result


@register(
    "t5_merge_update_only",
    _USERS_CTE
    + """
SELECT
  d.orig_id AS orig_id,
  CASE WHEN s.orig_id IS NOT NULL THEN s.user_nm ELSE d.user_nm END AS user_nm,
  CASE WHEN s.orig_id IS NOT NULL THEN s.acct_i ELSE d.acct_i END AS acct_i,
  CASE WHEN s.orig_id IS NOT NULL THEN s.nation_nm ELSE d.nation_nm END AS nation_nm,
  CASE WHEN s.orig_id IS NOT NULL THEN s.mktseg ELSE d.mktseg END AS mktseg,
  CASE WHEN s.orig_id IS NOT NULL THEN s.tag ELSE d.tag END AS tag,
  d.legacy_note AS legacy_note
FROM dest d LEFT JOIN src s ON d.orig_id = s.orig_id
""",
)
def t5_merge_update_only(spark, sf_dir):
    # WHEN NOT MATCHED suppressed (tsql2008.js:310-314): no inserts
    return _run_users(spark, sf_dir, update_only=True).result


@register(
    "t5_merge_pk",
    _USERS_CTE
    + """
SELECT
  CASE WHEN s.orig_id IS NOT NULL THEN s.orig_id ELSE d.orig_id END AS orig_id,
  CASE WHEN s.orig_id IS NOT NULL THEN s.user_nm ELSE d.user_nm END AS user_nm,
  CASE WHEN s.orig_id IS NOT NULL THEN s.acct_i ELSE d.acct_i END AS acct_i,
  CASE WHEN s.orig_id IS NOT NULL THEN s.nation_nm ELSE d.nation_nm END AS nation_nm,
  CASE WHEN s.orig_id IS NOT NULL THEN s.mktseg ELSE d.mktseg END AS mktseg,
  CASE WHEN d.orig_id IS NULL THEN s.tag ELSE d.tag END AS tag,
  d.legacy_note AS legacy_note
FROM dest d FULL OUTER JOIN src s ON d.orig_id = s.orig_id
""",
)
def t5_merge_pk(spark, sf_dir):
    # mergePk columns excluded from UPDATE SET (tsql2008.js:296-299):
    # matched rows keep the dest 'tag', inserts still get the source value
    return _run_users(spark, sf_dir, merge_pk=("tag",)).result


# C12's literal-value and IS-NULL MergeOn forms (tsql2008.js:197-209):
# the ON clause compares the DEST column against a literal / NULL, while
# the column's own source expression (the literal) still lands in the
# UPDATE SET and INSERT VALUES lists exactly like the golden's merge-on
# column does (test.sql:63,89).
_C12V_SQL = """
WITH dest AS (
  SELECT r_regionkey AS k, lower(r_name) AS nm,
         CASE WHEN r_regionkey < 2 THEN 'LOCKED' ELSE 'ACTIVE' END AS status
  FROM region
), src AS (
  SELECT r_regionkey AS k, r_name AS nm, 'ACTIVE' AS status FROM region
)
SELECT
  CASE WHEN s.k IS NOT NULL THEN s.k ELSE d.k END AS k,
  CASE WHEN s.k IS NOT NULL THEN s.nm ELSE d.nm END AS nm,
  CASE WHEN s.k IS NOT NULL THEN s.status ELSE d.status END AS status
FROM dest d FULL OUTER JOIN src s ON d.k = s.k AND d.status = 'ACTIVE'
"""


@register("c12_merge_on_value", _C12V_SQL)
def c12_merge_on_value(spark, sf_dir):
    # ON D.status = 'ACTIVE' AND D.k = S.k: LOCKED dest rows never match,
    # so their source rows fall through to INSERT — the literal form
    # actually gates matching here.
    cat = _cat(spark, sf_dir)
    r = cat.read("region")
    cat.register(
        "region_status",
        r.select(
            F.col("r_regionkey").alias("k"),
            F.lower(F.col("r_name")).alias("nm"),
            F.when(F.col("r_regionkey") < 2, F.lit("LOCKED"))
            .otherwise(F.lit("ACTIVE"))
            .alias("status"),
        ),
    )
    spec = MappingSpec(
        destination="region_status",
        source="region",
        use_merge=True,
        columns={
            "k": MergeOn("r_regionkey"),
            "nm": DirectCopy("r_name"),
            "status": MergeOn(value="ACTIVE"),
        },
    )
    return run_mapping(spec, cat).result


_C12N_SQL = """
WITH dest AS (
  SELECT r_regionkey AS k,
         CASE WHEN r_regionkey % 2 = 0 THEN NULL ELSE 'kept' END AS tag
  FROM region
), src AS (SELECT r_regionkey AS k FROM region)
SELECT CASE WHEN s.k IS NOT NULL THEN s.k ELSE d.k END AS k,
       CASE WHEN s.k IS NOT NULL THEN NULL ELSE d.tag END AS tag
FROM dest d FULL OUTER JOIN src s ON d.k = s.k AND d.tag IS NULL
"""


@register("c12_merge_on_null", _C12N_SQL)
def c12_merge_on_null(spark, sf_dir):
    # ON D.tag IS NULL AND D.k = S.k: only unnamed (NULL-tag) dest slots
    # match; everything else inserts. The merge-on column's expression is
    # the NULL literal, emitted into SET/VALUES as in the reference.
    cat = _cat(spark, sf_dir)
    r = cat.read("region")
    cat.register(
        "region_tag",
        r.select(
            F.col("r_regionkey").alias("k"),
            F.when(F.col("r_regionkey") % 2 == 0, F.lit(None))
            .otherwise(F.lit("kept"))
            .alias("tag"),
        ),
    )
    spec = MappingSpec(
        destination="region_tag",
        source="region",
        use_merge=True,
        columns={
            "k": MergeOn("r_regionkey"),
            "tag": MergeOn(value=None),
        },
    )
    return run_mapping(spec, cat).result


@register(
    "t6_audit",
    _USERS_CTE
    + """
SELECT
  CASE WHEN d.orig_id IS NOT NULL THEN 'UPDATE' ELSE 'INSERT' END AS _action,
  s.orig_id AS orig_id, s.user_nm AS user_nm, s.acct_i AS acct_i,
  s.nation_nm AS nation_nm, s.mktseg AS mktseg, s.tag AS tag,
  d.legacy_note AS legacy_note
FROM src s LEFT JOIN dest d ON d.orig_id = s.orig_id
""",
)
def t6_audit(spark, sf_dir):
    # OUTPUT $action, Inserted.* (tsql2008.js:294-316)
    return _run_users(spark, sf_dir).audit


@register(
    "t7_insert_select",
    _USERS_CTE
    + """
SELECT * FROM dest
UNION ALL
SELECT s.*, CAST(NULL AS VARCHAR) AS legacy_note FROM src s
""",
)
def t7_insert_select(spark, sf_dir):
    # non-merge append path (tsql2008.js:319-343); unmapped dest columns
    # become NULL like an INSERT with a partial column list
    cat = _users_cat(spark, sf_dir)
    return run_mapping(users_mapping(use_merge=False), cat).result


@register(
    "t8_truncate",
    _USERS_CTE
    + """
SELECT s.*, CAST(NULL AS VARCHAR) AS legacy_note FROM src s
""",
)
def t8_truncate(spark, sf_dir):
    # truncate cleanup (T8) empties the destination before the non-merge
    # append — the result is exactly the projected source (merge tables
    # skip cleanup, emitted commented-out: tsql2008.js:89)
    cat = _users_cat(spark, sf_dir)
    pipe = Pipeline().use_mapping(users_mapping(use_merge=False, truncate=True))
    return pipe.run(cat)["users"].result


@register(
    "t9_kill_where",
    _USERS_CTE
    + """
SELECT * FROM dest WHERE NOT coalesce(orig_id % 4 = 0, FALSE)
UNION ALL
SELECT s.*, CAST(NULL AS VARCHAR) AS legacy_note FROM src s
""",
)
def t9_kill_where(spark, sf_dir):
    # conditional-delete cleanup (T9) runs before the body, then the
    # non-merge mapping appends — exercised through the Pipeline runner
    cat = _users_cat(spark, sf_dir)
    pipe = Pipeline().use_mapping(
        users_mapping(use_merge=False, kill_where="orig_id % 4 = 0")
    )
    return pipe.run(cat)["users"].result


@register("t11_idempotent_merge", _USERS_CTE + _MERGE_FULL_SELECT)
def t11_idempotent_merge(spark, sf_dir):
    # two passes over the same source (tsql2008.js:345-358); the oracle is
    # the SINGLE-pass result — hash equality IS the idempotency proof
    cat = _users_cat(spark, sf_dir)
    pipe = Pipeline(passes=2).use_mapping(users_mapping())
    return pipe.run(cat)["users"].result


@register(
    "t16_registry_fk_chain",
    """
WITH seed AS (
  SELECT n_nationkey, 'OLD_' || n_name AS n_name
  FROM nation WHERE n_nationkey < 13
), psrc AS (
  SELECT n_nationkey, n_name FROM nation WHERE n_regionkey <> 2
), merged AS (
  SELECT coalesce(s.n_nationkey, d.n_nationkey) AS n_nationkey,
         CASE WHEN s.n_nationkey IS NOT NULL THEN s.n_name
              ELSE d.n_name END AS n_name
  FROM seed d FULL OUTER JOIN psrc s ON d.n_nationkey = s.n_nationkey
)
SELECT c.c_custkey AS cust_id, c.c_name AS cust_nm, m.n_name AS nation_nm
FROM customer c LEFT JOIN merged m ON c.c_nationkey = m.n_nationkey
""",
)
def t16_registry_fk_chain(spark, sf_dir):
    # T16 — ordered registry, FK sees in-run state (tables.js:6-14,
    # etl.js:40-43; the mappings/user_roles.js:7-28 scenario): the parent
    # mapping merges a FILTERED nation source over a stale seed, then the
    # child mapping's FK lookup resolves against the parent table AS
    # MERGED IN THIS RUN — fresh names where the filter admitted the
    # source row, stale OLD_ names where only the seed row survives,
    # NULL where neither exists. Resolving against pre-run state (or
    # against raw nation) produces a different answer, so the oracle
    # discriminates the ordering contract itself.
    cat = _cat(spark, sf_dir)
    nation = cat.read("nation")
    cat.register(
        "dim_nation",
        nation.filter(F.col("n_nationkey") < 13).select(
            "n_nationkey",
            F.concat(F.lit("OLD_"), F.col("n_name")).alias("n_name"),
        ),
    )
    customer = cat.read("customer")
    cat.register(
        "dim_customer",
        customer.limit(0).select(
            F.col("c_custkey").alias("cust_id"),
            F.col("c_name").alias("cust_nm"),
            F.lit(None).cast("string").alias("nation_nm"),
        ),
    )
    parent_map = MappingSpec(
        destination="dim_nation",
        source="nation",
        use_merge=True,
        source_filter="n_regionkey <> 2",
        columns={
            "n_nationkey": MergeOn("n_nationkey"),
            "n_name": DirectCopy("n_name"),
        },
    )
    child_map = MappingSpec(
        destination="dim_customer",
        source="customer",
        use_merge=True,
        columns={
            "cust_id": MergeOn("c_custkey"),
            "cust_nm": DirectCopy("c_name"),
            "nation_nm": ForeignKey(
                "c_nationkey", "dim_nation", "n_name", "n_nationkey"
            ),
        },
    )
    pipe = Pipeline().use_mapping(parent_map).use_mapping(child_map)
    return pipe.run(cat)["dim_customer"].result


@register(
    "t10_setup_hooks",
    """
SELECT o_orderkey AS okey, o_custkey AS ckey,
       CAST(trunc(o_totalprice) AS INT) AS price_i
FROM orders WHERE o_totalprice > 150000
""",
)
def t10_setup_hooks(spark, sf_dir):
    # T10 — setup/teardown hooks (tsql2008.js:50-58,133-141): the setup
    # SQL materializes a temp view BEFORE the body runs and the mapping
    # sources from it (T13 temp-name passthrough: the catalog loader
    # resolves the view at body time, so the query only works if the
    # hook ran first); the teardown drops it after. Hook commands are
    # passed twice (pipeline + mapping level) to exercise the reference's
    # dedup rule (tsql2008.js:55,138).
    cat = _cat(spark, sf_dir)
    cat.read("orders").createOrReplaceTempView("__t10_orders_raw")
    hook = (
        "CREATE OR REPLACE TEMP VIEW hooked_orders AS "
        "SELECT o_orderkey, o_custkey, o_totalprice "
        "FROM __t10_orders_raw WHERE o_totalprice > 150000"
    )
    cat.register_loader("hooked_orders", lambda: spark.table("hooked_orders"))
    cat.register(
        "order_flags",
        cat.read("orders").limit(0).select(
            F.col("o_orderkey").alias("okey"),
            F.col("o_custkey").alias("ckey"),
            F.lit(None).cast("int").alias("price_i"),
        ),
    )
    spec = MappingSpec(
        destination="order_flags",
        source="hooked_orders",
        setup=(hook,),
        teardown=("DROP VIEW IF EXISTS hooked_orders",),
        columns={
            "okey": DirectCopy("o_orderkey"),
            "ckey": DirectCopy("o_custkey"),
            "price_i": CastAs("o_totalprice", "INT"),
        },
    )
    pipe = Pipeline(setup=(hook,)).use_mapping(spec)
    return pipe.run(cat)["order_flags"].result


@register(
    "t12_dry_run_invariance",
    _USERS_CTE
    + ", merged AS ("
    + _MERGE_FULL_SELECT
    + """)
SELECT 'stored' AS kind, * FROM dest
UNION ALL
SELECT 'computed' AS kind, * FROM merged
""",
)
def t12_dry_run_invariance(spark, sf_dir):
    # T12 — transactional test mode (tsql2008.js:64-71,147-154): a
    # dry-run pipeline computes the full merge result ('computed' rows
    # must equal the merged oracle) while the catalog's stored table
    # stays byte-identical to the seed ('stored' rows must equal the
    # untouched dest) — BEGIN TRANSACTION ... rollback as a testable
    # invariant rather than a mode flag.
    cat = _users_cat(spark, sf_dir)
    pipe = Pipeline(dry_run=True).use_mapping(users_mapping())
    res = pipe.run(cat)["users"].result
    stored = cat.read("users").select(F.lit("stored").alias("kind"), "*")
    computed = res.select(F.lit("computed").alias("kind"), "*")
    return stored.unionByName(computed)


@register(
    "t15_pipeline_run",
    """
SELECT 'dim_nation' AS destination,
       (SELECT count(*) FROM nation) AS n_rows,
       (SELECT count(*) FROM nation) AS n_insert,
       CAST(0 AS BIGINT) AS n_update
UNION ALL
SELECT 'users',
       (SELECT count(*) FROM customer),
       (SELECT count(*) FROM customer WHERE c_custkey % 2 = 1),
       (SELECT count(*) FROM customer WHERE c_custkey % 2 = 0)
""",
)
def t15_pipeline_run(spark, sf_dir):
    # T15 — script assembly (tsql2008.js:345-358 builds ONE script from
    # every registered mapping): two mappings on one Pipeline, one
    # run() call, and the per-table TableRunResult map comes back as an
    # observable run-summary relation — rows after the run plus audit
    # action counts per destination — so the runner surface is
    # driver-hash-checked rather than pytest-only.
    # dim_nation appends the full nation table into an empty seed
    # (T7 path, all-INSERT audit); users is the flagship merge (T5
    # path, odd custkeys INSERT / even custkeys UPDATE by fixture
    # construction).
    cat = _users_cat(spark, sf_dir)
    nation = cat.read("nation")
    cat.register(
        "dim_nation",
        nation.select(
            F.col("n_nationkey").alias("nk"), F.col("n_name").alias("name")
        ).limit(0),
    )
    pipe = (
        Pipeline()
        .use_mapping(
            MappingSpec(
                destination="dim_nation",
                source="nation",
                columns={
                    "nk": DirectCopy("n_nationkey"),
                    "name": DirectCopy("n_name"),
                },
            )
        )
        .use_mapping(users_mapping())
    )
    results = pipe.run(cat)
    summaries = []
    for dest_name in ("dim_nation", "users"):
        tr = results[dest_name]
        audit = tr.audit_per_pass[-1]
        counts = tr.result.agg(
            F.count(F.lit(1)).alias("n_rows")
        ).crossJoin(
            audit.agg(
                F.sum(
                    F.when(F.col("_action") == "INSERT", 1).otherwise(0)
                ).cast("long").alias("n_insert"),
                F.sum(
                    F.when(F.col("_action") == "UPDATE", 1).otherwise(0)
                ).cast("long").alias("n_update"),
            )
        )
        summaries.append(
            counts.select(
                F.lit(dest_name).alias("destination"),
                F.col("n_rows").cast("long").alias("n_rows"),
                "n_insert",
                "n_update",
            )
        )
    return summaries[0].unionByName(summaries[1])


@register(
    "t13_temp_qualified",
    """
SELECT c_custkey AS orig_id,
       upper(c_name) AS name_u,
       CAST(length(rtrim(c_mktsegment)) AS INT) AS seg_len,
       CAST(strpos(c_name, '#') AS INT) AS pos_hash,
       coalesce(nullif(c_mktsegment, 'BUILDING'), 'none') AS fallback
FROM customer WHERE c_custkey <= 500
""",
)
def t13_temp_qualified(spark, sf_dir):
    # T13 — temp tables + T-SQL name/function spellings as one
    # observable query: the mapping's SOURCE is an overlay-only temp
    # relation (reference '#temp' passes through unqualified,
    # tsql2008.js:8) and every column is a dialect='tsql' Sql
    # passthrough — [bracketed] identifiers, ISNULL, LEN (trailing-space
    # rule), CHARINDEX (argument order preserved: DuckDB strpos swaps) —
    # so the lexical shim's output is driver-hash-checked, not
    # pytest-only.
    cat = _cat(spark, sf_dir)
    cat.register(
        "#staging", cat.read("customer").filter(F.col("c_custkey") <= 500)
    )
    spec = MappingSpec(
        destination="__out",
        source="#staging",
        columns={
            "orig_id": DirectCopy("c_custkey"),
            "name_u": Sql("UPPER([c_name])", dialect="tsql"),
            "seg_len": Sql(
                "CAST(LEN([c_mktsegment]) AS INT)", dialect="tsql"
            ),
            "pos_hash": Sql("CHARINDEX('#', [c_name])", dialect="tsql"),
            "fallback": Sql(
                "ISNULL(NULLIF([c_mktsegment], 'BUILDING'), 'none')",
                dialect="tsql",
            ),
        },
    )
    return compile_mapping(spec, cat).projected


@register(
    "t14_print_messages",
    """
SELECT * FROM (VALUES
  (1, 'BEGIN PASS 1 of 1'),
  (2, 'INFO: Loading users'),
  (3, 'END PASS 1')) AS t(seq, message)
""",
)
def t14_print_messages(spark, sf_dir):
    # T14 — PRINT → logging, driven end to end: a capturing handler on
    # the package logger records the narration an actual Pipeline.run
    # emits (BEGIN/END pass banners + the mapping's PRINT message,
    # tsql2008.js:21 sqlPrint -> log.info), and the captured lines
    # come back as a relation. If the runner stopped logging, the rows
    # disappear and the hash check fails.
    import logging

    logger = logging.getLogger("dirty_js_etl_spark")
    records: list[str] = []

    class _Capture(logging.Handler):
        def emit(self, record: logging.LogRecord) -> None:
            records.append(record.getMessage())

    handler = _Capture(level=logging.INFO)
    old_level = logger.level
    logger.addHandler(handler)
    logger.setLevel(logging.INFO)
    try:
        cat = _users_cat(spark, sf_dir)
        Pipeline().use_mapping(
            users_mapping(message="Loading users")
        ).run(cat)
    finally:
        logger.removeHandler(handler)
        logger.setLevel(old_level)
    return spark.createDataFrame(
        [(i + 1, msg) for i, msg in enumerate(records)],
        "seq int, message string",
    )


@register(
    "t17_config_modes",
    """
SELECT 'users' AS destination, 2 AS passes, FALSE AS sql_test,
       (SELECT count(*) FROM customer) AS n_rows
""",
)
def t17_config_modes(spark, sf_dir):
    # T17 — BuildConfig deep-merge observably: a PARTIAL modes override
    # ({'passes': 2} without sqlTest) must keep the sqlTest default
    # (deep merge; the reference's shallow extend would drop it), the
    # mapping registers through the callable module form
    # (config.useMapping(module), mappr.js:74-77), and to_pipeline
    # carries both modes into a real 2-pass run whose row count rides
    # along — config plumbing, registration, and execution in one
    # hash-checked relation.
    from dirty_js_etl_spark.plans.config import BuildConfig

    cfg = BuildConfig({"modes": {"passes": 2}})

    def users_module(config, args):
        return users_mapping()

    cfg.use_mapping(users_module)
    pipe = cfg.to_pipeline()
    cat = _users_cat(spark, sf_dir)
    n = pipe.run(cat)["users"].result.agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    return n.select(
        F.lit("users").alias("destination"),
        F.lit(int(pipe.passes)).alias("passes"),
        F.lit(bool(pipe.dry_run)).alias("sql_test"),
        F.col("n_rows"),
    )


@register(
    "x64_pandas_udf_log1p",
    """
SELECT event_id, round(ln(1 + value), 6) AS log1p_value
FROM events WHERE value >= 0
""",
)
def x64_pandas_udf_log1p(spark, sf_dir):
    # the C14 extension path when no builtin matches: an Arrow-batched
    # pandas UDF registered by name and resolved through the Sql/
    # SqlFunction combinators -- vectorized numpy on the executor,
    # never row-at-a-time
    from dirty_js_etl_spark.functions.udfs import register_udfs

    register_udfs(spark)
    spec = _select_spec(
        {
            "event_id": DirectCopy("event_id"),
            "log1p_value": Sql("round(log1p_val(value), 6)", columns=["value"]),
        },
        source="events",
    )
    events = _cat(spark, sf_dir).read("events").filter(F.col("value") >= 0)
    cat = _cat(spark, sf_dir)
    cat.register("events", events)
    return compile_mapping(spec, cat).projected
