"""MappingSpec + compiler — table mappings as DataFrame pipelines.

The reference's central unit is the *table mapping* object (schema doc
``/root/reference/mappr.js:10-47``) consumed by the codegen backend
(``/root/reference/tsql2008.js:177-343``). Here the same declaration
compiles to a DataFrame pipeline:

    read(source) → filter(source_filter) → groupBy/distinct
                 → FK broadcast joins → project → merge/append

Stage order matches the reference: the USING subquery applies
filter/grouping/distinct *inside* (``tsql2008.js:262-289``) and the
column transforms (including FK lookup calls) evaluate *outside* on
``S.*`` — so grouping happens on raw source columns and transforms see the
grouped result.

GROUP BY key inference reproduces the DSL contract
(``tsql2008.js:216-238``): every mapped column flagged ``isColumn`` /
``isColumns`` contributes its source columns as keys; ``aggregate``
columns become ``AGG(c) AS c``. The two *verified emission bugs* in the
reference's plain-insert path (broken DISTINCT column list, broken grouped
concat — SURVEY.md T3/T4) are fixed here: we implement the intended
semantics.

Everything stays declarative so Catalyst prunes columns to the parquet
scan and picks join strategies; ``compile_mapping`` never triggers an
action.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dirty_js_etl_spark.catalog import Catalog
from dirty_js_etl_spark.functions import tsql_compat
from dirty_js_etl_spark.functions.combinators import (
    ColumnSpec,
    FkLookup,
    aggregate_expr,
)
from dirty_js_etl_spark.operators.merge import MergeKey, MergeResult, merge_upsert


@dataclass
class MappingSpec:
    """Declarative table mapping (reference schema ``mappr.js:10-47``).

    ``columns`` maps destination column name → :class:`ColumnSpec`; the
    dict's insertion order is the destination column order, as in the
    reference where destination names are object keys
    (``mappings/users.js:14-43``).
    """

    destination: str
    source: str
    columns: dict[str, ColumnSpec]
    use_merge: bool = False
    merge_pk: tuple[str, ...] = ()
    insert_only: bool = False
    update_only: bool = False
    source_filter: str | None = None
    filter_dialect: str = "spark"
    use_grouping: bool = False
    force_distinct: bool = False
    truncate: bool = False
    kill_where: str | None = None
    setup: tuple[str, ...] = ()
    teardown: tuple[str, ...] = ()
    message: str | None = None
    # scale knob (no reference analog): opt-in duplicate-key check
    validate_merge_keys: bool = False

    def __post_init__(self) -> None:
        if not self.columns:
            raise ValueError(f"mapping for {self.destination!r} has no columns")
        if self.insert_only and self.update_only:
            raise ValueError("insertOnly and updateOnly are mutually exclusive")
        if self.use_merge and not self.merge_keys():
            raise ValueError(
                f"useMerge mapping for {self.destination!r} needs >=1 MergeOn column"
            )

    def merge_keys(self) -> list[MergeKey]:
        keys: list[MergeKey] = []
        for dest, spec in self.columns.items():
            mo = spec.merge_on
            if mo is not None:
                keys.append(MergeKey(dest_column=dest, kind=mo.kind, value=mo.value))
        return keys

    def referenced_source_columns(self) -> list[str]:
        seen: dict[str, None] = {}
        for spec in self.columns.values():
            for c in spec.source_columns:
                seen.setdefault(c, None)
        return list(seen)

    def group_by_keys(self) -> list[str]:
        """Inferred GROUP BY keys (``tsql2008.js:216-232``): source columns
        of every non-aggregate mapped column flagged isColumn/isColumns."""
        seen: dict[str, None] = {}
        for spec in self.columns.values():
            if spec.aggregate is not None:
                continue
            if spec.is_column or spec.is_columns:
                for c in spec.source_columns:
                    seen.setdefault(c, None)
        return list(seen)

    def aggregate_exprs(self) -> list[Column]:
        """``AGG(c) AS c`` list (``tsql2008.js:234-238``)."""
        return [
            aggregate_expr(spec.source_columns[0], spec.aggregate)
            for spec in self.columns.values()
            if spec.aggregate is not None
        ]

    def fk_lookups(self) -> list[FkLookup]:
        """Distinct FK lookups, memoized by name as the reference memoizes
        generated functions (``mappr.js:290-294``)."""
        seen: dict[str, FkLookup] = {}
        for spec in self.columns.values():
            for lk in spec.lookups:
                seen.setdefault(lk.name, lk)
        return list(seen.values())


def prepare_source(spec: MappingSpec, catalog: Catalog) -> DataFrame:
    """The USING-subquery analog: read → filter → group/distinct → FK joins."""
    df = catalog.read(spec.source)

    if spec.source_filter:
        pred = (
            tsql_compat.translate(spec.source_filter)
            if spec.filter_dialect == "tsql"
            else spec.source_filter
        )
        df = df.filter(F.expr(pred))

    if spec.use_grouping:
        keys = spec.group_by_keys()
        df = df.groupBy(*[F.col(k) for k in keys]).agg(*spec.aggregate_exprs())
    elif spec.force_distinct:
        needed = spec.referenced_source_columns()
        # prune to referenced columns when the mapping declares them —
        # distinct over pruned columns is both the intended semantics
        # (SURVEY.md T3) and far cheaper at scale (smaller shuffle rows)
        if needed and all(
            spec_.source_columns or not (spec_.is_column or spec_.is_columns)
            for spec_ in spec.columns.values()
        ):
            df = df.select(*needed).distinct()
        else:
            df = df.distinct()

    for lk in spec.fk_lookups():
        df = _apply_fk_join(df, lk, catalog)
    return df


def _apply_fk_join(df: DataFrame, lk: FkLookup, catalog: Catalog) -> DataFrame:
    """C13 as a left-outer equi-join (SURVEY.md §2 C13).

    The parent is deduplicated on the import key so cardinality matches
    the T-SQL scalar function's "one arbitrary match" — a join would
    otherwise multiply rows. No forced broadcast hint: FK parents are
    *already-migrated destination tables* (the reference's own scenario
    looks up per-user ``individual``/``users`` parents,
    ``mappings/users.js:31-38``), which scale with the data. Size-based
    planning broadcasts a parent while it fits — the fact side then
    never shuffles for the lookup — and degrades to a shuffle join when
    it doesn't, instead of OOMing the driver on a hinted build side.
    """
    parent = catalog.read(lk.parent_table)
    if lk.filter_column is not None:
        parent = parent.filter(F.col(lk.filter_column) == F.lit(lk.filter_value))
    parent = (
        parent.select(lk.import_column, lk.parent_column)
        .dropDuplicates([lk.import_column])
        .select(
            F.col(lk.import_column).alias(f"__fkk_{lk.name}"),
            F.col(lk.parent_column).alias(lk.output_column),
        )
    )
    joined = df.join(
        parent,
        F.col(lk.source_column) == F.col(f"__fkk_{lk.name}"),
        "left_outer",
    )
    return joined.drop(f"__fkk_{lk.name}")


@dataclass
class CompiledMapping:
    spec: MappingSpec
    projected: DataFrame  # source after filter/group/distinct/FK + projection


def compile_mapping(spec: MappingSpec, catalog: Catalog) -> CompiledMapping:
    """Compile to the projected source DataFrame (T1: each destination
    column's expression written once — the reference's raison d'être was
    avoiding the UPDATE/INSERT duplication, ``README.md:14``)."""
    src = prepare_source(spec, catalog)
    projected = src.select(
        *[s.expr.alias(dest) for dest, s in spec.columns.items()]
    )
    return CompiledMapping(spec=spec, projected=projected)


def run_mapping(
    spec: MappingSpec, catalog: Catalog, dest: DataFrame | None = None
) -> MergeResult:
    """Execute one mapping against the current destination contents.

    - ``use_merge`` → join-based upsert (T5) + audit (T6);
    - otherwise     → append (T7, INSERT-SELECT): unmapped destination
      columns become NULL; audit is all-INSERT.

    Both return the action-tagged frame described in
    :mod:`dirty_js_etl_spark.operators.merge`, unmaterialized.
    """
    compiled = compile_mapping(spec, catalog)
    if dest is None:
        dest = catalog.read(spec.destination)

    if spec.use_merge:
        return merge_upsert(
            dest,
            compiled.projected,
            keys=spec.merge_keys(),
            insert_only=spec.insert_only,
            update_only=spec.update_only,
            merge_pk=spec.merge_pk,
            validate_keys=spec.validate_merge_keys,
        )

    proj = compiled.projected
    missing = [c for c in dest.columns if c not in proj.columns]
    widened = proj.select(
        *[F.col(c) for c in proj.columns],
        *[F.lit(None).cast(dict(dest.dtypes)[c]).alias(c) for c in missing],
    ).select(*dest.columns)
    # the merge's tagged-frame shape: kept dest rows carry no action
    kept = dest.select(F.lit(None).cast("string").alias("_action"), *dest.columns)
    new = widened.select(F.lit("INSERT").alias("_action"), *dest.columns)
    return MergeResult(kept.unionByName(new))
