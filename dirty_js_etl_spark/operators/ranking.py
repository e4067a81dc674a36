"""Distributed total-order ranking: global row numbers, prefix sums and
ntile buckets WITHOUT a single-partition window sort.

A bare ``Window.orderBy(...)`` (no partitionBy) funnels the whole
relation through ONE task — the classic 100 TB scale-killer ("No
Partition Defined For Window" warning). The decomposition here is the
standard two-level plan every MPP engine uses for global ranking:

1. ``repartitionByRange`` on the order key — partition *i* holds a
   contiguous key range, ranges ascend with partition id;
2. a per-partition window computes LOCAL ranks/sums (parallel, each
   task sorts only its own range);
3. per-partition totals (one tiny row per partition — bounded by the
   cluster's partition count, not by data) get prefix-summed and
   broadcast-joined back as offsets.

The tiny offsets relation does use an unpartitioned window, but over
``num_partitions`` rows — configuration-bounded, never data-bounded.

Exactness: results are identical to the single-partition spelling as
long as the order key is a total order (callers pass a unique
tie-breaker, as the oracle SQL does) and the summed value type is
associative-exact (int/long/decimal; float prefix sums could differ by
association — don't use them here, same rule the oracles follow).

The reference has no ranking at all (SURVEY.md §2.3 — sorts/limits
absent); this module is scale plumbing for the extension queries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PID = "__gord_pid"
_OFS = "__gord_ofs"
_TOT = "__gord_tot"


def _as_cols(order_by: list) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order_by]


def _ranged(df: DataFrame, order_by: list, num_partitions: int | None) -> DataFrame:
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # range partitioner: partition ids ascend with the order key, so the
    # per-partition offset join below reconstructs the global order.
    #
    # Materialization is CORRECTNESS here, not caching: the pid-stamped
    # relation feeds two plan branches (local window + per-partition
    # totals), and RangePartitioner samples its split points with an
    # execution-dependent seed — if the branches each recompute the
    # exchange (ReuseExchange is not guaranteed across AQE replans),
    # they can see DIFFERENT partition layouts and the offsets no
    # longer match the local ranks (observed as run-to-run flips at
    # sf0.1). An eager localCheckpoint pins the layout in one upfront
    # job AND truncates lineage, so both branches read the same frozen
    # blocks. Unlike persist() (which pins storage for the session until
    # someone calls unpersist), checkpoint blocks are released by the
    # ContextCleaner as soon as the DataFrame is garbage-collected — no
    # caller-side cleanup contract. Caveat for multi-executor
    # deployments: local checkpoint blocks are unrecoverable if an
    # executor dies (persist recomputes from lineage; localCheckpoint
    # fails the job) — on an unreliable cluster swap in a reliable
    # checkpoint dir via spark.sparkContext.setCheckpointDir and
    # .checkpoint(). Rows are narrow projections of already-reduced
    # relations; blocks spill to disk if they outgrow memory.
    return (
        df.repartitionByRange(parts, *_as_cols(order_by))
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint(eager=True)
    )


def _offsets(t: DataFrame, agg: Column, combine=None) -> DataFrame:
    """(pid, running-offset-before-pid, grand-total) — one row per range
    partition; the unpartitioned windows here order ``num_partitions``
    rows, not data. ``combine`` re-aggregates the per-partition values
    across partitions (default: sum; pass ``F.max`` for prefix-max —
    any associative aggregate works); sum offsets coalesce to 0, other
    combiners keep NULL for "no earlier partition"."""
    per = t.groupBy(_PID).agg(agg.alias("__p"))
    # deliberately ONE window partition — it holds at most
    # num_partitions rows. The partition key is pmod(pid, 1) (always 0)
    # rather than a bare literal because Catalyst constant-folds foldable
    # partition keys away, leaving an empty partition spec that trips the
    # global-window warning meant for genuinely data-sized sorts.
    one = Window.partitionBy(F.pmod(F.col(_PID), F.lit(1)))
    w_prev = one.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    w_all = one.orderBy(_PID).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    if combine is None:
        zero = F.lit(0).cast("bigint")
        prev = F.coalesce(F.sum("__p").over(w_prev), zero)
        total = F.sum("__p").over(w_all)
    else:
        prev = combine(F.col("__p")).over(w_prev)
        total = combine(F.col("__p")).over(w_all)
    return per.select(_PID, prev.alias(_OFS), total.alias(_TOT))


def with_global_prefix_sum(
    df: DataFrame,
    order_by: list,
    value_col: str | Column,
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """``sum(value) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)`` as a
    range-partitioned parallel plan. Value type must be exact
    (int/long/decimal) for cross-partition associativity."""
    val = F.col(value_col) if isinstance(value_col, str) else value_col
    t = _ranged(df, order_by, num_partitions)
    w_local = (
        Window.partitionBy(_PID)
        .orderBy(*_as_cols(order_by))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = t.withColumn(out_col, F.sum(val).over(w_local))
    ofs = _offsets(t, F.sum(val))
    return (
        local.join(F.broadcast(ofs), _PID)
        .withColumn(out_col, F.col(out_col) + F.col(_OFS))
        .drop(_PID, _OFS, _TOT)
    )


def with_global_row_number(
    df: DataFrame,
    order_by: list,
    out_col: str = "rn",
    num_partitions: int | None = None,
    _keep_total: str | None = None,
) -> DataFrame:
    """``row_number() OVER (ORDER BY ...)`` as a range-partitioned
    parallel plan. ``order_by`` must be a total order (unique
    tie-breaker) for determinism — same contract as the oracle SQL."""
    t = _ranged(df, order_by, num_partitions)
    w_local = Window.partitionBy(_PID).orderBy(*_as_cols(order_by))
    local = t.withColumn(out_col, F.row_number().over(w_local).cast("bigint"))
    ofs = _offsets(t, F.count(F.lit(1)))
    out = (
        local.join(F.broadcast(ofs), _PID)
        .withColumn(out_col, F.col(out_col) + F.col(_OFS))
    )
    if _keep_total:
        out = out.withColumn(_keep_total, F.col(_TOT))
    return out.drop(_PID, _OFS, _TOT)


def with_global_ntile(
    df: DataFrame,
    order_by: list,
    n: int,
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """``ntile(n) OVER (ORDER BY ...)`` from the distributed row number:
    with N rows, the first ``N mod n`` buckets take ``N div n + 1`` rows
    and the rest ``N div n`` — the exact SQL ntile contract, as integer
    arithmetic on (rn, N)."""
    rn, tot = "__gord_rn", "__gord_n"
    out = with_global_row_number(df, order_by, rn, num_partitions, _keep_total=tot)
    # integer-exact bucket math (SQL DIV, no float division):
    #   small = N DIV n rows per tail bucket, big = small + 1 rows per
    #   head bucket, r = N MOD n head buckets covering cut = big*r rows
    out = (
        out.withColumn("__gord_small", F.expr(f"{tot} DIV {n}"))
        .withColumn("__gord_big", F.col("__gord_small") + 1)
        .withColumn("__gord_cut", F.col("__gord_big") * (F.col(tot) % n))
    )
    bucket = F.when(
        F.col(rn) <= F.col("__gord_cut"),
        F.expr(f"({rn} - 1) DIV __gord_big"),
    ).otherwise(
        (F.col(tot) % n)
        + F.expr(
            f"({rn} - __gord_cut - 1) DIV greatest(__gord_small, 1L)"
        )
    )
    return out.withColumn(out_col, (bucket + 1).cast("int")).drop(
        rn, tot, "__gord_small", "__gord_big", "__gord_cut"
    )


def with_global_prefix_max(
    df: DataFrame,
    order_by: list,
    value_col: str | Column,
    out_col: str,
    strictly_earlier: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """``max(value) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING [AND 1
    PRECEDING])`` as a range-partitioned parallel plan — same two-level
    shape as :func:`with_global_prefix_sum` (max is associative): a
    per-partition running max plus a broadcast of each partition's
    strictly-earlier-partitions max (the ≤ num_partitions offset
    table). With ``strictly_earlier`` the first global row gets NULL —
    the "max event time seen BEFORE me" semantics a stream lateness
    profile needs (x177)."""
    val = F.col(value_col) if isinstance(value_col, str) else value_col
    t = _ranged(df, order_by, num_partitions)
    end = -1 if strictly_earlier else Window.currentRow
    w_local = (
        Window.partitionBy(_PID)
        .orderBy(*_as_cols(order_by))
        .rowsBetween(Window.unboundedPreceding, end)
    )
    local = t.withColumn("__loc", F.max(val).over(w_local))
    ofs = _offsets(t, F.max(val), combine=F.max)
    return (
        local.join(F.broadcast(ofs), _PID)
        # greatest() ignores NULL operands, so partition-edge rows with
        # no local predecessor fall back to the earlier-partitions max
        .withColumn(out_col, F.greatest(F.col("__loc"), F.col(_OFS)))
        .drop("__loc", _PID, _OFS, _TOT)
    )
