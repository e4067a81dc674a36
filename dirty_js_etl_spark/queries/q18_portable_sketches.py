"""Portable twins of the native DataSketches demos.

x182 (KLL quantile rollup) and x183 (theta set ops) were the last
approximate family still rows-only WITHOUT a bit-exact SQL-replayable
twin (MinHash has x6b, HLL x192, CMS x149, k-means x200, IVF x201,
streaming x202). These two queries close the set:

- **x214** re-expresses the two-level quantile rollup as a
  deterministic, MERGEABLE bottom-k row sample (daily samples merge
  into weekly ones without re-touching raw data — the exact
  mergeability contract a KLL sketch offers), with empirical quantiles
  whose ordinals are computed in integer arithmetic;
- **x215** re-expresses the theta audience algebra as a K-minimum-
  values sketch (theta IS KMV with θ = the k-th normalized hash):
  distinct estimates from the k-th smallest md5-60bit hash, overlap
  from the Jaccard of the bottom-k union sample.

Every stage — hashes, ranks, ordinals, the single raw correctly-rounded
division per estimate (never decimal-re-rounded: Spark's HALF_UP
``F.round`` and DuckDB's binary ``round`` diverge near midpoints, the
raw IEEE division does not) — is recomputed by the DuckDB oracle, so
the driver
hash-checks the twins end to end; ``tests/test_sketches.py`` ties the
NATIVE demos to these twins with error-bound assertions.

Reference scope note: the reference engine has no sketches (nearest
concept: the generation-time ``StaticHash`` digest, mappr.js:236-246);
this module is SURVEY.md §2.3 extension surface.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dirty_js_etl_spark.queries._shared import _cat, register

_QK = 512  # x214 sample size per day/week
_TK = 256  # x215 KMV sketch size
_SPACE = 1152921504606846976  # 2^60, the md5-60bit draw space


_X214_SQL = f"""
WITH ev AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(date_trunc('week', ts) AS DATE) AS week,
         CAST(value AS DOUBLE) AS value,
         CAST('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS draw
  FROM events
  WHERE event_type = 'purchase'
    AND ts IS NOT NULL AND value IS NOT NULL AND event_id IS NOT NULL
), daily AS (
  SELECT day, week, value, draw FROM (
    SELECT day, week, value, draw,
           row_number() OVER (PARTITION BY day ORDER BY draw) AS rn
    FROM ev
  ) WHERE rn <= {_QK}
), weekly AS (
  SELECT week, value, draw FROM (
    SELECT week, value, draw,
           row_number() OVER (PARTITION BY week ORDER BY draw) AS rn
    FROM daily
  ) WHERE rn <= {_QK}
), ranked AS (
  SELECT week, value, draw,
         row_number() OVER (PARTITION BY week ORDER BY value, draw) AS vrn,
         count(*) OVER (PARTITION BY week) AS ns
  FROM weekly
), q AS (
  SELECT week, CAST(max(ns) AS BIGINT) AS ns,
         max(CASE WHEN vrn = greatest((1 * ns + 1) // 2, 1)
                  THEN value END) AS p50_approx,
         max(CASE WHEN vrn = greatest((19 * ns + 19) // 20, 1)
                  THEN value END) AS p95_approx
  FROM ranked GROUP BY week
), wn AS (
  SELECT week, CAST(sum(dn) AS BIGINT) AS n FROM (
    SELECT day, week, count(*) AS dn FROM ev GROUP BY 1, 2
  ) GROUP BY week
)
SELECT strftime(q.week, '%Y-%m-%d') AS week,
       wn.n, q.ns, q.p50_approx, q.p95_approx
FROM q JOIN wn USING (week)
"""


@register("x214_quantile_rollup_portable", _X214_SQL)
def x214_quantile_rollup_portable(spark, sf_dir):
    # the portable twin of x182's KLL rollup: per-day bottom-k uniform
    # row samples (k smallest md5 draws of the unique event_id — a
    # deterministic reservoir) MERGE into weekly samples by re-ranking
    # the union of the daily k-row states — yesterday's raw rows are
    # never re-touched, the KLL mergeability contract. Weekly p50/p95
    # are the sample's empirical lower quantiles with INTEGER-computed
    # ordinals ((q_num*ns + q_den-1) div q_den) and the draw as rank
    # tiebreak, so every stage replays bit-for-bit in ANY engine. Weekly
    # exact n merges from the daily counts the same way. Scale: two
    # narrow rank-window shuffles (day-keyed, then week-keyed over ≤ k
    # rows/day); state is k rows per group regardless of corpus size.
    from dirty_js_etl_spark.operators.dedup import portable_token_hash60
    from dirty_js_etl_spark.operators.sketch import (
        bottomk_rows,
        sample_quantiles,
    )

    ev = (
        _cat(spark, sf_dir).read("events")
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("ts").isNotNull()
            & F.col("value").isNotNull()
            & F.col("event_id").isNotNull()
        )
        .select(
            F.col("ts").cast("date").alias("day"),
            F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
            F.col("value").cast("double").alias("value"),
            F.col("event_id"),
        )
    )
    daily = bottomk_rows(
        ev, ["day"],
        portable_token_hash60(F.col("event_id").cast("string")),
        _QK, ["week", "value"],
    )
    weekly = bottomk_rows(
        daily, ["week"], F.col("__draw"), _QK, ["value"]
    )
    q = sample_quantiles(
        weekly, ["week"], "value", "__draw",
        {"p50_approx": (1, 2), "p95_approx": (19, 20)},
    )
    wn = (
        ev.groupBy("day", "week")
        .agg(F.count(F.lit(1)).alias("dn"))
        .groupBy("week")
        .agg(F.sum("dn").cast("long").alias("n"))
    )
    # date keys travel as yyyy-MM-dd strings (the x139 idiom — pandas
    # round-trips DateType through Timestamp, breaking the comparator)
    return q.join(wn, "week").select(
        F.date_format("week", "yyyy-MM-dd").alias("week"),
        "n", "ns", "p50_approx", "p95_approx",
    )


def _kmv_est_sql(ns: str, hk: str, k: int) -> str:
    """The kmv_estimate formula, spelled once: exact below saturation,
    else the RAW correctly-rounded double division (no decimal
    re-rounding — Spark's HALF_UP F.round and DuckDB's binary round
    disagree near midpoints; the raw division is bit-identical)."""
    return (
        f"CASE WHEN {ns} < {k} THEN CAST({ns} AS DOUBLE) "
        f"ELSE CAST({k - 1} AS DOUBLE) * CAST({_SPACE} AS DOUBLE)"
        f" / CAST({hk} AS DOUBLE) END"
    )


_X215_SQL = f"""
WITH ev AS (
  SELECT event_type,
         CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS h
  FROM events
  WHERE user_id IS NOT NULL AND event_type IN ('view', 'purchase')
  GROUP BY 1, 2
), sk AS (
  SELECT event_type, h FROM (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM ev
  ) WHERE rn <= {_TK}
), v AS (SELECT h FROM sk WHERE event_type = 'view'),
p AS (SELECT h FROM sk WHERE event_type = 'purchase'),
s AS (
  SELECT h FROM (
    SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (
      SELECT DISTINCT h FROM (
        SELECT h FROM v UNION ALL SELECT h FROM p
      )
    )
  ) WHERE rn <= {_TK}
), va AS (SELECT count(*) AS vns, max(h) AS vhk FROM v),
pa AS (SELECT count(*) AS pns, max(h) AS phk FROM p),
ua AS (SELECT count(*) AS uns, max(h) AS uhk FROM s),
ja AS (
  SELECT count(*) AS jn FROM s
  WHERE h IN (SELECT h FROM v) AND h IN (SELECT h FROM p)
), e AS (
  SELECT {_kmv_est_sql('vns', 'vhk', _TK)} AS viewers_est,
         {_kmv_est_sql('pns', 'phk', _TK)} AS purchasers_est,
         {_kmv_est_sql('uns', 'uhk', _TK)} AS union_est,
         CAST(jn AS DOUBLE) AS jnd, CAST(uns AS DOUBLE) AS unsd
  FROM va, pa, ua, ja
), o AS (
  SELECT viewers_est, purchasers_est, union_est,
         CASE WHEN unsd = 0 THEN 0.0
              ELSE (jnd * union_est) / unsd END AS overlap_est
  FROM e
)
SELECT viewers_est, purchasers_est, union_est, overlap_est,
       viewers_est - overlap_est AS view_only_est
FROM o
"""


@register("x215_theta_overlap_portable", _X215_SQL)
def x215_theta_overlap_portable(spark, sf_dir):
    # the portable twin of x183's theta audience algebra: a KMV sketch
    # (k smallest distinct md5-60bit user hashes per event type — theta
    # IS KMV with θ = the k-th normalized hash). Distinct estimates are
    # (k−1)·2^60/h_k — ONE rounded double division — exact when the
    # group doesn't saturate; the view∩purchase overlap is the KMV set
    # algebra: Jaccard = |S∩A∩B|/|S| over the bottom-k union sample S,
    # times the union estimate. Scale: sketches are k longs per type
    # built in one type+hash-keyed shuffle (bounded state, the
    # theta_sketch_agg contract); every post-sketch stage works on ≤ 2k
    # rows (the global rank window is bounded by construction).
    from dirty_js_etl_spark.operators.sketch import kmv_estimate, kmv_table
    from pyspark.sql import Window

    ev = (
        _cat(spark, sf_dir).read("events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("event_type").isin("view", "purchase")
        )
    )
    sk = kmv_table(ev, ["event_type"], F.col("user_id"), _TK).localCheckpoint(
        eager=True
    )
    # TOTAL per-type estimates in ONE row: a GLOBAL aggregate over the
    # kmv_estimate output always returns exactly one row, so an event
    # type with an EMPTY sketch coalesces to est 0.0 — matching the
    # oracle's scalar aggregates (count(*)/max over an empty v or p
    # still yield a row) — where a bare filter-over-groupBy would
    # return zero rows and crossJoin the whole result away. This also
    # replaces the va × pa crossJoin: both columns ride the same row.
    # (The r12 first cut left-joined a literal type list instead; the
    # A/B measured that spelling +0.75 s — two extra joins and a
    # per-call createDataFrame — so it was replaced by this one.)
    ests = kmv_estimate(sk.select("event_type", "h"), ["event_type"], _TK)
    vp = ests.groupBy().agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("event_type") == "view", F.col("est_distinct")
                )
            ),
            F.lit(0.0),
        ).alias("viewers_est"),
        F.coalesce(
            F.max(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("est_distinct"),
                )
            ),
            F.lit(0.0),
        ).alias("purchasers_est"),
    )
    v = sk.filter(F.col("event_type") == "view").select("h")
    p = sk.filter(F.col("event_type") == "purchase").select("h")
    s = (
        v.unionByName(p)
        .distinct()
        .withColumn("rn", F.row_number().over(Window.orderBy("h")))
        .filter(F.col("rn") <= _TK)
        .select("h")
        .localCheckpoint(eager=True)
    )
    ua = s.agg(F.count(F.lit(1)).alias("uns"), F.max("h").alias("uhk"))
    # raw correctly-rounded division, no decimal re-round (see
    # kmv_estimate: Spark HALF_UP vs DuckDB binary round diverge near
    # 3-decimal midpoints; the raw double is bit-identical)
    union_est = (
        F.when(F.col("uns") < _TK, F.col("uns").cast("double"))
        .otherwise(
            F.lit(float(_TK - 1)) * F.lit(float(_SPACE))
            / F.col("uhk").cast("double")
        )
        .alias("union_est")
    )
    ja = (
        s.join(v, "h", "left_semi")
        .join(p, "h", "left_semi")
        .agg(F.count(F.lit(1)).cast("double").alias("jnd"))
    )
    # every operand is a 1-row global aggregate; broadcast explicitly
    # so the scalar composition can never plan as a CartesianProduct
    # (the registry-wide plan sweep forbids it)
    e = vp.crossJoin(
        F.broadcast(
            ua.select(union_est, F.col("uns").cast("double").alias("unsd"))
        )
    ).crossJoin(F.broadcast(ja))
    o = e.select(
        "viewers_est",
        "purchasers_est",
        "union_est",
        F.when(F.col("unsd") == 0.0, F.lit(0.0))
        .otherwise((F.col("jnd") * F.col("union_est")) / F.col("unsd"))
        .alias("overlap_est"),
    )
    return o.select(
        "viewers_est",
        "purchasers_est",
        "union_est",
        "overlap_est",
        (F.col("viewers_est") - F.col("overlap_est")).alias("view_only_est"),
    )
