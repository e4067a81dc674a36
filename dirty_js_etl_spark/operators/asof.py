"""As-of (backward) join — a custom operator Spark's built-ins lack.

For each left row, attach the payload of the *latest* right row with
``right_time <= left_time`` within the same key group (the semantics of
DuckDB/kdb ``ASOF JOIN``, pandas ``merge_asof``). The naive
range-condition join explodes to O(|L|·|R|) per key and Spark plans it
as a broadcast-nested-loop; this implementation uses the canonical
scalable decomposition instead:

1. union the two sides into one stream of (key, time, side, payload);
2. one hash shuffle by key, sort by (time, right-side-first on ties —
   a snapshot taken at t applies to an event at the same t);
3. running ``last(payload, ignoreNulls)`` window fills each left row
   with the most recent right payload;
4. keep only the left rows.

Cost: ONE shuffle of |L|+|R| narrow rows and a per-key sort — the same
profile as a sort-merge join, independent of time-range density. Skew
follows the key distribution (a whale key concentrates its sort); AQE
skew-split does not apply to windows, so extremely hot keys need the
coarse time-bucket pre-split — implemented as
:func:`asof_join_bucketed` (same semantics, every window partition
bounded by per-bucket row counts; equality pytest-pinned, x171
hash-matches x21's oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SIDE = "__asof_side"  # 1 = right (snapshot), 0 = left (probe)
_TIME = "__asof_t"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    payload_cols: list[str] | None = None,
    direction: str = "backward",
    tiebreak_cols: list[str] | None = None,
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """As-of join: left rows gain the payload of the nearest right row at
    or before (``direction="backward"``, the default) or at or after
    (``direction="forward"``) their timestamp; NULL when none exists.
    Forward is the same union + window plan run in reverse time order —
    identical cost profile, no extra machinery.

    ``payload_cols`` defaults to every right column except the key and
    time columns. Left columns all pass through unchanged.

    ``tiebreak_cols``: right-side columns that deterministically resolve
    ties between right rows sharing the same ``(on, right_time)`` — the
    row with the SMALLEST tiebreak tuple wins, matching the SQL spelling
    ``ORDER BY ts[, ts DESC for backward], id LIMIT 1``. Without it, two
    equal-timestamp right rows make the running fill pick an arbitrary
    one (whichever the shuffle happened to order last). The columns ride
    the union only for window ordering and are dropped from the output.

    ``tolerance_seconds``: maximum staleness (pandas ``merge_asof``'s
    ``tolerance``) — a match farther than this from the left timestamp
    is nulled out, exactly as if no right row existed. Implemented as a
    map-side post-filter over the filled match time (the union/window
    plan is unchanged — no extra shuffle).

    The fill carries ONE struct per right row (match time + every
    payload column packed together), so all output columns and the
    tolerance check come from the SAME winning right row — pandas
    ``merge_asof`` semantics. Filling each payload column independently
    (rounds 1–4) silently fell back to an OLDER right row's value
    whenever the winning row carried NULL in that column, diverging from
    both ``merge_asof`` and :func:`asof_join_bucketed`'s boundary
    handoff, and let stale per-column values slip past the tolerance
    filter.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction}")
    if payload_cols is None:
        payload_cols = [c for c in right.columns if c not in (on, right_time)]
    clash = set(payload_cols) & set(left.columns)
    if clash:
        raise ValueError(f"payload columns clash with left columns: {sorted(clash)}")
    r_types = dict(right.dtypes)
    tbs = list(tiebreak_cols or [])
    missing_tb = [c for c in tbs if c not in r_types]
    if missing_tb:
        raise ValueError(f"tiebreak columns not in right: {missing_tb}")
    tb_alias = {c: f"__asof_tb{i}" for i, c in enumerate(tbs)}

    l_side = left.select(
        F.col(on),
        F.col(left_time).alias(_TIME),
        F.lit(0).alias(_SIDE),
        *[F.col(c) for c in left.columns if c != on],
        *[F.lit(None).cast(r_types[c]).alias(c) for c in payload_cols],
        *[F.lit(None).cast(r_types[c]).alias(tb_alias[c]) for c in tbs],
    )
    r_side = right.select(
        F.col(on),
        F.col(right_time).alias(_TIME),
        F.lit(1).alias(_SIDE),
        *[
            F.lit(None).cast(dict(left.dtypes)[c]).alias(c)
            for c in left.columns
            if c != on
        ],
        *[F.col(c) for c in payload_cols],
        *[F.col(c).alias(tb_alias[c]) for c in tbs],
    )

    t_order = F.col(_TIME).asc() if direction == "backward" else F.col(_TIME).desc()
    # tiebreaks DESCENDING in both directions: the running fill takes the
    # LAST non-null row at-or-before the current one, so sorting equal-
    # (time, side) right rows by tiebreak desc puts the smallest tuple
    # last — it wins, exactly like ``ORDER BY ..., id LIMIT 1``. Left
    # rows carry NULL tiebreaks (desc → nulls last) but already sort
    # after right rows via the side column, so their order is unaffected.
    w = (
        Window.partitionBy(on)
        .orderBy(
            t_order,
            F.col(_SIDE).desc(),
            *[F.col(tb_alias[c]).desc() for c in tbs],
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # ONE struct per right row: match time + all payloads travel (and
    # fill) together, so the winning right row is matched wholesale
    row = F.when(
        F.col(_SIDE) == 1,
        F.struct(
            F.col(_TIME).alias("__asof_mt"),
            *[F.col(c).alias(c) for c in payload_cols],
        ),
    )
    filled = l_side.unionByName(r_side).select(
        "*", F.last(row, ignorenulls=True).over(w).alias("__asof_row")
    )
    if tolerance_seconds is None:
        out_payload = {c: F.col("__asof_row").getField(c) for c in payload_cols}
    else:
        within = (
            F.abs(
                F.unix_micros(F.col(_TIME).cast("timestamp"))
                - F.unix_micros(
                    F.col("__asof_row").getField("__asof_mt").cast("timestamp")
                )
            )
            <= F.lit(int(tolerance_seconds * 1_000_000))
        )
        out_payload = {
            c: F.when(within, F.col("__asof_row").getField(c))
            for c in payload_cols
        }
    return filled.filter(F.col(_SIDE) == 0).select(
        F.col(on),
        *[F.col(c) for c in left.columns if c != on],
        *[out_payload[c].alias(c) for c in payload_cols],
    )


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    payload_cols: list[str] | None = None,
    bucket_seconds: int = 3600,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Backward as-of join with TIME-BUCKETED key partitioning — the
    skew-proof variant of :func:`asof_join` for whale keys.

    The plain form windows over ``partitionBy(key)``: a key with 1e9
    rows concentrates its entire sort on one task (AQE skew-split does
    not apply to windows — the limitation the module header documents).
    This form splits every key's timeline into ``bucket_seconds``
    buckets and runs:

    1. per-(key, bucket) LAST right row — window on (key, bucket), each
       partition bounded by the bucket's row count;
    2. boundary fill: one window per key over the BUCKET-GRAIN spine
       (distinct (key, bucket) of both sides — ≤ timeline/bucket rows
       per key, data-independent), carrying the latest right payload of
       all STRICTLY EARLIER buckets;
    3. local fill within each (key, bucket) — same union+running-last
       as the plain form, partitioned by (key, bucket);
    4. result = local fill, else the bucket's boundary value.

    Same semantics as ``asof_join(direction="backward")`` including the
    tie rules (right-at-equal-time applies; ``tiebreak_cols`` smallest
    tuple wins) — equality is pytest-pinned and x171 hash-matches x21's
    oracle. Cost: two (key,bucket) shuffles + one bucket-grain window
    vs one key shuffle — the price of bounding every sort partition.
    """
    if payload_cols is None:
        payload_cols = [c for c in right.columns if c not in (on, right_time)]
    clash = set(payload_cols) & set(left.columns)
    if clash:
        raise ValueError(f"payload columns clash with left columns: {sorted(clash)}")
    r_types = dict(right.dtypes)
    tbs = list(tiebreak_cols or [])
    g = float(bucket_seconds)
    _B = "__asof_bkt"

    def bucket_of(col: str) -> F.Column:
        return F.floor(
            F.unix_micros(F.col(col).cast("timestamp")) / F.lit(g * 1e6)
        ).cast("long")

    # 1. per-bucket winning right row: last by (t, tiebreaks-smallest)
    w_rb = Window.partitionBy(on, _B).orderBy(
        F.col(right_time).desc(),
        *[F.col(c).asc() for c in tbs],  # smallest tiebreak wins the tie
    )
    bucket_last = (
        right.withColumn(_B, bucket_of(right_time))
        .withColumn("__rn", F.row_number().over(w_rb))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(on),
            F.col(_B),
            F.struct(*[F.col(c) for c in payload_cols]).alias("__pl"),
        )
    )

    # 2. bucket-grain spine + strictly-earlier running fill
    spine = (
        left.select(F.col(on), bucket_of(left_time).alias(_B))
        .union(right.select(F.col(on), bucket_of(right_time).alias(_B)))
        .distinct()
        .join(bucket_last, [on, _B], "left")
    )
    w_sp = (
        Window.partitionBy(on)
        .orderBy(_B)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boundary = spine.select(
        F.col(on),
        F.col(_B),
        F.last("__pl", ignorenulls=True).over(w_sp).alias("__boundary"),
    )

    # 3. local fill within (key, bucket) — the plain asof machinery,
    # with the bucket added to the window partitioning
    tb_alias = {c: f"__asof_tb{i}" for i, c in enumerate(tbs)}
    l_side = left.select(
        F.col(on),
        F.col(left_time).alias(_TIME),
        F.lit(0).alias(_SIDE),
        *[F.col(c) for c in left.columns if c != on],
        *[F.lit(None).cast(r_types[c]).alias(c) for c in payload_cols],
        *[F.lit(None).cast(r_types[c]).alias(tb_alias[c]) for c in tbs],
    )
    r_side = right.select(
        F.col(on),
        F.col(right_time).alias(_TIME),
        F.lit(1).alias(_SIDE),
        *[
            F.lit(None).cast(dict(left.dtypes)[c]).alias(c)
            for c in left.columns
            if c != on
        ],
        *[F.col(c) for c in payload_cols],
        *[F.col(c).alias(tb_alias[c]) for c in tbs],
    )
    unioned = l_side.unionByName(r_side).withColumn(_B, bucket_of(_TIME))
    w_loc = (
        Window.partitionBy(on, _B)
        .orderBy(
            F.col(_TIME).asc(),
            F.col(_SIDE).desc(),
            *[F.col(tb_alias[c]).desc() for c in tbs],
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        "*",
        *[
            F.last(F.col(c), ignorenulls=True).over(w_loc).alias(f"__filled_{c}")
            for c in payload_cols
        ],
    )

    # 4. stitch: local value, else the bucket boundary
    out = filled.filter(F.col(_SIDE) == 0).join(boundary, [on, _B], "left")
    return out.select(
        F.col(on),
        *[F.col(c) for c in left.columns if c != on],
        *[
            F.coalesce(
                F.col(f"__filled_{c}"), F.col("__boundary").getField(c)
            ).alias(c)
            for c in payload_cols
        ],
    )
