"""Join-based MERGE/upsert with audit stream (SURVEY.md §2 T5/T6).

The reference emits T-SQL ``MERGE dest USING src ON keys WHEN MATCHED THEN
UPDATE … WHEN NOT MATCHED THEN INSERT … OUTPUT $action, Inserted.*``
(``/root/reference/tsql2008.js:252-317``). Plain parquet has no ACID
upsert, so the Spark-native decomposition is a single **key-partitioned
outer join** + per-column ``F.when`` selection:

- matched               → source value   (UPDATE)   [unless insert_only
                                                     or column in merge_pk]
- source-only           → source value   (INSERT)   [unless update_only]
- dest-only             → dest value     (keep)

``insert_only`` / ``update_only`` reproduce the reference's clause
suppression (``tsql2008.js:304-314``); ``merge_pk`` columns are excluded
from the UPDATE branch (``tsql2008.js:296-299``).

Result and audit are two views of one **action-tagged frame**: the
joined rows are projected once to ``_action`` plus the output columns,
with ``_action`` NULL for dest-only rows (and for matched rows under
``insert_only``). ``result`` drops the tag; ``audit`` keeps the tagged
rows. A caller that stores the tagged frame once (``Pipeline.run``
checkpoints it per mapping per pass) computes the merge once for every
write and audit count that follows; an unstored frame is recomputed by
each action, like any DataFrame.

Scale notes (100 TB):

- The join shuffles both sides by the merge keys once per computation
  of the tagged frame. AQE splits skewed keys at runtime.
- Duplicate source keys are an *error* in T-SQL MERGE but silently
  multiply rows in a join; ``validate_keys=True`` adds one cheap
  map-side-combined aggregation to detect them (on by default in tests,
  off by default here — opt in where the source is untrusted).
- On an ACID table format (Delta/Iceberg), prefer the storage-native
  ``MERGE INTO`` — see :func:`merge_into_sql` which renders the
  equivalent statement for those backends.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dirty_js_etl_spark.functions.combinators import _render_raw

_S_PREFIX = "__s_"
_D_PRESENT = "__d_present"
_S_PRESENT = "__s_present"


@dataclass(frozen=True)
class MergeKey:
    """One ON-clause term: ``D.dest_column <op> <source col | literal | NULL>``."""

    dest_column: str
    kind: str = "column"  # 'column' | 'value' | 'null'
    value: Any = None  # literal for kind='value'


class DuplicateMergeKeysError(ValueError):
    """Source has rows sharing a merge key (T-SQL MERGE raises too)."""


_ACTION = "_action"


@dataclass(frozen=True)
class MergeResult:
    """The merge's action-tagged frame: ``_action`` ('UPDATE' / 'INSERT',
    NULL for rows no source row acted on) followed by the destination
    columns."""

    tagged: DataFrame

    @property
    def result(self) -> DataFrame:
        """Post-merge destination table contents."""
        return self.tagged.drop(_ACTION)

    @property
    def audit(self) -> DataFrame:
        """``OUTPUT $action, Inserted.*`` analog (T6): one row per source
        row that produced an action, carrying the post-merge values."""
        return self.tagged.filter(F.col(_ACTION).isNotNull())


def merge_upsert(
    dest: DataFrame,
    source: DataFrame,
    keys: list[MergeKey],
    insert_only: bool = False,
    update_only: bool = False,
    merge_pk: tuple[str, ...] = (),
    validate_keys: bool = False,
) -> MergeResult:
    """Upsert ``source`` (already projected to destination column names)
    into ``dest``; returns the new table contents and the audit stream.

    ``source`` columns must be a subset of ``dest`` columns (unmapped
    destination columns keep their value on update and become NULL on
    insert, matching INSERT with a partial column list).
    """
    if insert_only and update_only:
        raise ValueError("insert_only and update_only are mutually exclusive")
    extra = set(source.columns) - set(dest.columns)
    if extra:
        raise ValueError(f"source columns not in destination: {sorted(extra)}")

    key_cols = [k.dest_column for k in keys if k.kind == "column"]
    if validate_keys and key_cols:
        dup = (
            source.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise DuplicateMergeKeysError(
                f"source rows share merge key(s) {key_cols}; T-SQL MERGE "
                "would raise — deduplicate the source first"
            )

    s = source.select(
        *[F.col(c).alias(_S_PREFIX + c) for c in source.columns],
        F.lit(True).alias(_S_PRESENT),
    )
    d = dest.withColumn(_D_PRESENT, F.lit(True))

    cond = _join_condition(keys)
    # update_only drops source-only rows -> a dest-left join is enough and
    # avoids materializing the unmatched source side.
    joined = d.join(s, cond, "left_outer" if update_only else "full_outer")

    matched = F.col(_D_PRESENT).isNotNull() & F.col(_S_PRESENT).isNotNull()
    inserted = F.col(_D_PRESENT).isNull() & F.col(_S_PRESENT).isNotNull()

    mapped = set(source.columns)
    out_cols: list[Column] = []
    for c in dest.columns:
        # plain name reference: dest columns keep their names and source
        # columns are _S_PREFIX'd, so this stays unambiguous.
        d_val = F.col(c)
        s_val = F.col(_S_PREFIX + c) if c in mapped else F.lit(None)
        if c in mapped and not insert_only and c not in merge_pk:
            upd = s_val
        else:
            upd = d_val  # MATCHED suppressed (insert_only) or pk-protected
        value = F.when(matched, upd)
        if not update_only:
            value = value.when(inserted, s_val)
        out_cols.append(value.otherwise(d_val).alias(c))

    # $action (tsql2008.js:294-316): NULL where no source row acted —
    # dest-only rows, and matched rows whose UPDATE clause is suppressed.
    # Spelled as one outer WHEN so that Catalyst folds the audit's
    # ``_action IS NOT NULL`` to ``acted``: its source-side conjunct lets
    # an unstored audit run the cheaper one-sided outer join.
    acted = F.col(_S_PRESENT).isNotNull()
    if insert_only:
        acted = acted & ~matched
    action = F.when(acted, F.when(matched, F.lit("UPDATE")).otherwise(F.lit("INSERT")))
    return MergeResult(joined.select(action.alias(_ACTION), *out_cols))


def _join_condition(keys: list[MergeKey]) -> Column:
    if not keys:
        raise ValueError("merge requires at least one MergeOn column")
    terms: list[Column] = []
    for k in keys:
        d_col = F.col(k.dest_column)
        if k.kind == "column":
            terms.append(d_col == F.col(_S_PREFIX + k.dest_column))
        elif k.kind == "value":
            terms.append(d_col == F.lit(k.value))
        elif k.kind == "null":
            terms.append(d_col.isNull())
        else:
            raise ValueError(f"unknown merge key kind {k.kind!r}")
    cond = terms[0]
    for t in terms[1:]:
        cond = cond & t
    return cond


def merge_into_sql(
    dest_table: str,
    source_view: str,
    keys: list[MergeKey],
    columns: list[str],
    insert_only: bool = False,
    update_only: bool = False,
    merge_pk: tuple[str, ...] = (),
) -> str:
    """Render the equivalent ``MERGE INTO`` for ACID table formats
    (Delta/Iceberg), where storage-native upsert beats the join rewrite.

    RENDER-ONLY BOUNDARY: this function emits the SQL string and is
    verified at the string level (tests/test_merge.py); it is never
    executed end-to-end here because neither delta-spark nor an Iceberg
    runtime ships in this environment (plain-parquet Spark has no MERGE
    INTO target). On a cluster with Delta/Iceberg, pass the output to
    ``spark.sql(...)`` after registering the source as a temp view —
    the key/column classification is shared with :func:`merge_upsert`
    (the same :class:`MergeKey` list drives both), so the join-rewrite
    path's oracle coverage (t5/t6/t11) pins the semantics the rendered
    statement must reproduce. Mirrors the reference's emitted MERGE
    (``tsql2008.js:252-317``) minus the T-SQL-only OUTPUT clause."""
    on_terms = []
    for k in keys:
        if k.kind == "column":
            on_terms.append(f"D.`{k.dest_column}` = S.`{k.dest_column}`")
        elif k.kind == "value":
            on_terms.append(f"D.`{k.dest_column}` = {_render_raw(k.value)}")
        else:
            on_terms.append(f"D.`{k.dest_column}` IS NULL")
    upd_cols = [c for c in columns if c not in merge_pk]
    parts = [
        f"MERGE INTO {dest_table} AS D",
        f"USING {source_view} AS S",
        f"ON {' AND '.join(on_terms)}",
    ]
    if not insert_only:
        sets = ", ".join(f"D.`{c}` = S.`{c}`" for c in upd_cols)
        parts.append(f"WHEN MATCHED THEN UPDATE SET {sets}")
    if not update_only:
        cols = ", ".join(f"`{c}`" for c in columns)
        vals = ", ".join(f"S.`{c}`" for c in columns)
        parts.append(f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})")
    return "\n".join(parts)
