"""Column-transform combinators — the mapping DSL (SURVEY.md §2.1).

Each combinator mirrors one of the 15 operators of the reference DSL
(``/root/reference/mappr.js``) but returns a :class:`ColumnSpec`: a lazy
``pyspark.sql.Column`` expression plus the metadata flags the reference
attaches to ``options`` (``isColumn`` / ``isColumns`` / ``aggregate`` /
``mergeOn``) that drive GROUP BY inference and merge-key classification in
the compiler (``/root/reference/tsql2008.js:197-238``).

T-SQL semantic quirks are reproduced deliberately (SURVEY.md §7.4):

- ``InvertBit(NULL) = 1`` (NULL falls into the CASE ELSE,
  ``mappr.js:191-202``);
- ``CopyOrDefault`` treats whitespace-only as empty (T-SQL ``LEN``
  ignores trailing spaces, ``mappr.js:271-282``);
- ``ConcatColumns`` coalesces each part to ``''`` before concatenation
  (T-SQL string ``+`` with NULL yields NULL, ``mappr.js:216-235``);
- ``StaticHash`` hashes at *plan-build* time on the driver and embeds a
  literal, not a per-row hash (``mappr.js:236-246``).

Everything here builds stock Catalyst expressions — whole-stage-codegen
eligible, no Python UDFs — so at 100 TB these run JVM-side and fold into
the scan/project stages.
"""

from __future__ import annotations

import base64
import hashlib
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from dirty_js_etl_spark.functions import tsql_compat

__all__ = [
    "ColumnSpec",
    "FkLookup",
    "MergeOnSpec",
    "DirectCopy",
    "CastAs",
    "RawValue",
    "CaseMap",
    "InvertBit",
    "TruncateString",
    "ConcatColumns",
    "CopyOrDefault",
    "CopyOrClear",
    "StaticHash",
    "AggregateColumn",
    "MergeOn",
    "ForeignKey",
    "SqlFunction",
    "Sql",
]


def _ident_slug(value: Any) -> str:
    import re as _re

    return _re.sub(r"[^A-Za-z0-9]", "_", str(value))


def normalize_options(options: Any, key: str = "sourceColumn") -> dict:
    """The reference's string-vs-object argument coercion
    (``mappr.js:106-114`` and the per-combinator
    ``if (!opts.sourceColumn) opts.sourceColumn = options`` idiom,
    ``mappr.js:146,193``): every combinator accepts either an options
    object or a bare scalar shorthand for its primary key."""
    if isinstance(options, dict):
        return dict(options)
    return {key: options}


@dataclass(frozen=True)
class FkLookup:
    """A surrogate-key lookup (reference C13, ``mappr.js:283-307``).

    The reference memoizes the generated scalar function per
    ``(parent_table, parent_column, import_column[, filter])`` tuple
    (``mappr.js:290-294``) but passes each column's own ``sourceColumn``
    per *invocation* (``mappr.js:298-304``) — so two FK columns reading
    different fact columns against the same parent must produce distinct
    lookups. ``name`` (the memo key and join-output column prefix) therefore
    includes ``source_column`` and ``filter_value``: distinct invocations
    get distinct joins while the parent read itself is still shared by
    Catalyst (same scan, reused exchange).
    """

    parent_table: str
    parent_column: str
    import_column: str
    source_column: str
    filter_column: str | None = None
    filter_value: Any = None

    @property
    def name(self) -> str:
        # mirrors the generated fn name get_<parent>_<col>_by_<import>
        # (reference mappr.js:96-105) so plans read like the golden SQL,
        # plus the per-invocation disambiguators (source column, filter value)
        n = f"get_{self.parent_table}_{self.parent_column}_by_{self.import_column}"
        if self.filter_column is not None:
            n += f"_f_{self.filter_column}_{_ident_slug(self.filter_value)}"
        return n + f"_from_{self.source_column}"

    @property
    def output_column(self) -> str:
        return f"__fk_{self.name}"


@dataclass(frozen=True)
class MergeOnSpec:
    """Merge-key classification (reference C12, ``mappr.js:167-190``).

    Three forms, matching ``tsql2008.js:197-209``:
    ``kind='column'`` → ``ON D.dest = S.src``;
    ``kind='value'``  → ``ON D.dest = <literal>``;
    ``kind='null'``   → ``ON D.dest IS NULL``.
    """

    kind: str  # 'column' | 'value' | 'null'
    source_column: str | None = None
    value: Any = None


@dataclass(frozen=True)
class ColumnSpec:
    """One destination column: a lazy expression + DSL metadata."""

    expr: Column
    source_columns: tuple[str, ...] = ()
    is_column: bool = False  # single-col ref -> GROUP BY key candidate
    is_columns: bool = False  # multi-col ref -> all cols become keys
    aggregate: str | None = None  # agg fn name (C11); excluded from keys
    merge_on: MergeOnSpec | None = None
    lookups: tuple[FkLookup, ...] = ()


def _col_spec(expr: Column, *cols: str, **kw: Any) -> ColumnSpec:
    return ColumnSpec(expr=expr, source_columns=tuple(cols), **kw)


# ---------------------------------------------------------------------------
# C1-C15
# ---------------------------------------------------------------------------


def DirectCopy(source_column: str | dict) -> ColumnSpec:
    """C1 — identity column reference (``mappr.js:247-261``).
    Accepts ``'col'`` or ``{'sourceColumn': 'col'}`` (T17 coercion)."""
    src = normalize_options(source_column)["sourceColumn"]
    return _col_spec(F.col(src), src, is_column=True)


# T-SQL type spellings -> Spark SQL cast targets. The reference passes
# types through as uninterpreted strings (SURVEY.md §1.2); we resolve the
# observed vocabulary and accept Spark type names verbatim otherwise.
_TSQL_TYPES = {
    "INT": "int",
    "INTEGER": "int",
    "BIGINT": "bigint",
    "SMALLINT": "smallint",
    "TINYINT": "tinyint",
    "BIT": "boolean",
    "FLOAT": "double",
    "REAL": "float",
    "DATETIME": "timestamp",
    "DATETIME2": "timestamp",
    "DATE": "date",
    "UNIQUEIDENTIFIER": "string",
    "NVARCHAR": "string",
    "VARCHAR": "string",
    "CHAR": "string",
    "NCHAR": "string",
    "TEXT": "string",
    "NTEXT": "string",
}


def resolve_type(type_name: str) -> str:
    base = type_name.split("(")[0].strip().upper()
    if base in _TSQL_TYPES:
        return _TSQL_TYPES[base]
    if base.startswith("DECIMAL") or base.startswith("NUMERIC"):
        inner = type_name[type_name.find("(") :] if "(" in type_name else "(18,2)"
        return f"decimal{inner}"
    return type_name  # assume a Spark type name


def CastAs(source_column: str | dict, type_name: str | None = None) -> ColumnSpec:
    """C2 — ``CAST(col AS type)`` (``mappr.js:120-133``). The second
    argument is the *default* when ``options.type`` is unset, matching
    ``mappr.js:121-123``."""
    o = normalize_options(source_column)
    src = o["sourceColumn"]
    t = o.get("type") or type_name
    if t is None:
        raise ValueError(f"CastAs for {src!r} needs a type")
    return _col_spec(F.col(src).cast(resolve_type(t)), src, is_column=True)


def RawValue(value: Any = None, dtype: str | None = None) -> ColumnSpec:
    """C3 — literal; ``None`` → NULL (``mappr.js:352-362``).
    Accepts a bare value or ``{'value': v}`` (T17 coercion)."""
    if isinstance(value, dict):
        value = value.get("value")
    expr = F.lit(None) if value is None else F.lit(value)
    if dtype is not None:
        expr = expr.cast(resolve_type(dtype))
    return ColumnSpec(expr=expr)


def CaseMap(
    source_column: str | dict,
    mapping: dict[Any, Any] | None = None,
    default: Any = None,
) -> ColumnSpec:
    """C4 — value remap via chained CASE (``mappr.js:143-166``).

    The reference nests one CASE per key; the flat WHEN-chain is
    semantically identical (verified by execution, SURVEY.md C4).
    Object form: ``{'sourceColumn': c, 'map': {...}, 'default': d}``.
    """
    o = normalize_options(source_column)
    source_column = o["sourceColumn"]
    mapping = o.get("map", mapping) or {}
    default = o.get("default", default)
    col = F.col(source_column)
    expr: Column | None = None
    for k, v in mapping.items():
        cond = col == F.lit(k)
        expr = F.when(cond, F.lit(v)) if expr is None else expr.when(cond, F.lit(v))
    if expr is None:
        return _col_spec(F.lit(default), source_column, is_column=True)
    return _col_spec(expr.otherwise(F.lit(default)), source_column, is_column=True)


def InvertBit(source_column: str | dict) -> ColumnSpec:
    """C5 — ``CASE WHEN c = 1 THEN 0 ELSE 1 END``; NULL → 1
    (``mappr.js:191-202``). Deliberately NOT ``1 - c`` (would keep NULL)."""
    src = normalize_options(source_column)["sourceColumn"]
    col = F.col(src)
    return _col_spec(
        F.when(col == 1, F.lit(0)).otherwise(F.lit(1)), src, is_column=True
    )


def TruncateString(
    source_column: str | dict, string_length: int | None = None
) -> ColumnSpec:
    """C6 — ``RTRIM(LEFT(c, n))`` then empty→NULL (``mappr.js:203-215``).
    Object form: ``{'sourceColumn': c, 'stringLength': n}``."""
    o = normalize_options(source_column)
    src = o["sourceColumn"]
    n = o.get("stringLength", string_length)
    if n is None:
        raise ValueError(f"TruncateString for {src!r} needs stringLength")
    trimmed = F.rtrim(F.substring(F.col(src), 1, n))
    return _col_spec(F.nullif(trimmed, F.lit("")), src, is_column=True)


def ConcatColumns(columns: list[str] | dict, spacer: str = " ") -> ColumnSpec:
    """C7 — NULL-safe concat with spacer + outer trim (``mappr.js:216-235``).

    Every part is coalesced to ``''`` first: plain ``concat_ws`` *skips*
    NULLs (dropping their spacer), while T-SQL emits the spacer around an
    empty string — interior empties leave doubled spacers, and the outer
    ``RTRIM(LTRIM(...))`` only strips outer whitespace.
    """
    if isinstance(columns, dict):
        spacer = columns.get("spacer", spacer)
        columns = columns["columns"]
    parts = [F.coalesce(F.col(c), F.lit("")) for c in columns]
    return ColumnSpec(
        expr=F.trim(F.concat_ws(spacer, *parts)),
        source_columns=tuple(columns),
        is_columns=True,
    )


def CopyOrDefault(source_column: str | dict, value: Any = None) -> ColumnSpec:
    """C8 — empty-or-NULL → default (``mappr.js:271-282``).

    T-SQL ``LEN`` ignores trailing spaces, so whitespace-only strings
    count as empty — hence the ``rtrim`` before ``length``.
    Object form: ``{'sourceColumn': c, 'value': v}``.
    """
    o = normalize_options(source_column)
    src = o["sourceColumn"]
    value = o.get("value", value)
    col = F.col(src)
    empty = col.isNull() | (F.length(F.rtrim(col)) == 0)
    return _col_spec(
        F.when(empty, F.lit(value)).otherwise(col), src, is_column=True
    )


def CopyOrClear(source_column: str | dict, value: Any = None) -> ColumnSpec:
    """C9 — alias of C8 (``mappr.js:262-270`` delegates to CopyOrDefault)."""
    return CopyOrDefault(source_column, value)


def StaticHash(
    value: Any, algorithm: str = "sha512", encoding: str = "base64"
) -> ColumnSpec:
    """C10 — hash a *static* value at plan-build time on the driver and
    embed the digest as a literal (``mappr.js:236-246``). The per-row
    variant would be ``F.sha2(col, 512)`` — explicitly not what the
    reference does (verified by execution, SURVEY.md C10).
    Object form: ``{'value': v, 'algorithm': ..., 'encoding': ...}``."""
    if isinstance(value, dict):
        algorithm = value.get("algorithm", algorithm)
        encoding = value.get("encoding", encoding)
        value = value.get("value")
    h = hashlib.new(algorithm, str(value).encode("utf-8"))
    if encoding == "base64":
        digest = base64.b64encode(h.digest()).decode("ascii")
    elif encoding == "hex":
        digest = h.hexdigest()
    else:
        raise ValueError(f"unsupported encoding {encoding!r}")
    return ColumnSpec(expr=F.lit(digest))


# canonical agg-name -> pyspark function; anything else goes through F.expr
_AGG_FNS = {
    "SUM": F.sum,
    "COUNT": F.count,
    "AVG": F.avg,
    "MIN": F.min,
    "MAX": F.max,
}


def AggregateColumn(
    source_column: str | dict, aggregate: str | None = None
) -> ColumnSpec:
    """C11 — mark a column for aggregation under ``useGrouping``
    (``mappr.js:134-142``). The compiler emits ``AGG(c) AS c`` inside the
    grouped source (``tsql2008.js:235-238``) and the outer expression
    references the aliased result — so ``expr`` is just the column ref.
    Object form: ``{'sourceColumn': c, 'aggregate': 'SUM'}``."""
    o = normalize_options(source_column)
    source_column = o["sourceColumn"]
    aggregate = o.get("aggregate", aggregate)
    if aggregate is None:
        raise ValueError(f"AggregateColumn for {source_column!r} needs an aggregate")
    return _col_spec(
        F.col(source_column),
        source_column,
        is_column=False,
        aggregate=aggregate.upper(),
    )


def aggregate_expr(source_column: str, aggregate: str) -> Column:
    """``AGG(col) AS col`` — the grouped-subquery side of C11."""
    fn = _AGG_FNS.get(aggregate.upper())
    if fn is not None:
        return fn(F.col(source_column)).alias(source_column)
    return F.expr(f"{aggregate}(`{source_column}`)").alias(source_column)


_UNSET = object()


def MergeOn(
    source_column: str | dict | None = None, value: Any = _UNSET
) -> ColumnSpec:
    """C12 — merge-key marker, three forms (``mappr.js:167-190``,
    classification ``tsql2008.js:197-209``):

    - ``MergeOn('col')``        → ``ON D.dest = S.col``
    - ``MergeOn(value=v)``      → ``ON D.dest = v``
    - ``MergeOn(value=None)``   → ``ON D.dest IS NULL``

    Object forms (T17 coercion): ``{'sourceColumn': c}`` and
    ``{'value': v}`` (an explicit ``'value': None`` selects the IS NULL
    form, as in the reference where the key's *presence* decides,
    ``mappr.js:171-183``).
    """
    if isinstance(source_column, dict):
        o = source_column
        source_column = o.get("sourceColumn")
        if "value" in o:
            value = o["value"]
    if source_column is not None:
        return _col_spec(
            F.col(source_column),
            source_column,
            is_column=True,
            merge_on=MergeOnSpec(kind="column", source_column=source_column),
        )
    if value is _UNSET:
        raise ValueError("MergeOn requires a source_column or a value")
    if value is None:
        return ColumnSpec(expr=F.lit(None), merge_on=MergeOnSpec(kind="null"))
    return ColumnSpec(
        expr=F.lit(value), merge_on=MergeOnSpec(kind="value", value=value)
    )


def ForeignKey(
    source_column: str | dict,
    parent_table: str | None = None,
    parent_column: str | None = None,
    import_column: str | None = None,
    filter_column: str | None = None,
    filter_value: Any = None,
    **_types: Any,
) -> ColumnSpec:
    """C13 — surrogate-key resolution (``mappr.js:283-307``).

    The reference emits a scalar lookup function — row-by-row in SQL
    Server. Spark-first this is a **broadcast left-outer equi-join**
    against the parent, deduplicated on the import key first to preserve
    the scalar-subquery "one arbitrary match" cardinality (SURVEY.md
    §7.4). The compiler performs the join; this spec carries the lookup
    descriptor and an expression referencing the join-output column.

    ``parentType`` / ``importType`` / ``filterType`` from the reference
    signature are accepted and ignored (types are carried by the data).
    Object form mirrors the reference's options object
    (``mappr.js:283-307``): ``{'sourceColumn': ..., 'parentTable': ...,
    'parentColumn': ..., 'importColumn': ..., 'filterColumn': ...,
    'filterValue': ...}``.
    """
    if isinstance(source_column, dict):
        o = source_column
        source_column = o["sourceColumn"]
        parent_table = o.get("parentTable", parent_table)
        parent_column = o.get("parentColumn", parent_column)
        import_column = o.get("importColumn", import_column)
        filter_column = o.get("filterColumn", filter_column)
        filter_value = o.get("filterValue", filter_value)
    if parent_table is None or parent_column is None or import_column is None:
        raise ValueError(
            f"ForeignKey for {source_column!r} needs parentTable, "
            "parentColumn and importColumn"
        )
    lk = FkLookup(
        parent_table=parent_table,
        parent_column=parent_column,
        import_column=import_column,
        source_column=source_column,
        filter_column=filter_column,
        filter_value=filter_value,
    )
    return ColumnSpec(
        expr=F.col(lk.output_column),
        source_columns=(source_column,),
        is_column=True,
        lookups=(lk,),
    )


def _render_raw(r: Any) -> str:
    """Render a raw argument as a SQL literal: None → NULL (as the
    reference's RawValue renders, ``mappr.js:352-362``), booleans →
    TRUE/FALSE, strings quoted with embedded single quotes doubled."""
    if r is None:
        return "NULL"
    if isinstance(r, bool):
        return "TRUE" if r else "FALSE"
    if isinstance(r, str):
        return "'" + r.replace("'", "''") + "'"
    return repr(r)


def SqlFunction(
    name: str | dict,
    columns: list[str] | None = None,
    raws: list[Any] | None = None,
) -> ColumnSpec:
    """C14 — arbitrary scalar fn call ``name(c1, …, 'raw1', …)``
    (``mappr.js:308-329``). Resolved by Spark SQL, so builtins stay
    JVM-side; registered UDFs also resolve by name.
    Object form: ``{'name': ..., 'columns': [...], 'raws': [...]}``."""
    if isinstance(name, dict):
        o = name
        name = o["name"]
        columns = o.get("columns", columns)
        raws = o.get("raws", raws)
    cols = list(columns or [])
    args = [f"`{c}`" for c in cols] + [_render_raw(r) for r in (raws or [])]
    return ColumnSpec(
        expr=F.expr(f"{name}({', '.join(args)})"),
        source_columns=tuple(cols),
        is_columns=bool(cols),
    )


def Sql(
    sql: str | dict,
    columns: list[str] | None = None,
    source_column: str | None = None,
    dialect: str = "spark",
) -> ColumnSpec:
    """C15 — raw SQL expression passthrough (``mappr.js:330-351``).

    ``columns`` / ``source_column`` are the optional GROUP-BY-inference
    hints the reference supports. ``dialect='tsql'`` runs the lexical
    T-SQL shim (GETDATE → current_timestamp, [brackets] → backquotes).
    Object form: ``{'sql': ..., 'columns': [...]}`` or
    ``{'sql': ..., 'sourceColumn': ...}`` (``mappr.js:333-344``).
    """
    if isinstance(sql, dict):
        o = sql
        sql = o["sql"]
        columns = o.get("columns", columns)
        source_column = o.get("sourceColumn", source_column)
        dialect = o.get("dialect", dialect)
    text = tsql_compat.translate(sql) if dialect == "tsql" else sql
    if source_column is not None:
        return _col_spec(F.expr(text), source_column, is_column=True)
    if columns:
        return ColumnSpec(
            expr=F.expr(text), source_columns=tuple(columns), is_columns=True
        )
    return ColumnSpec(expr=F.expr(text))
