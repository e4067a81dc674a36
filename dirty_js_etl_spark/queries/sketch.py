"""Sketch queries: Spark's native sketches and their portable twins
(``operators/sketch.py``).

The native DataSketches demos (approx distinct / percentiles x35, HLL
x144/x154, KLL x182, theta x183) are rows-only: their bits are not
SQL-replayable. Each approximate family also has a bit-exact twin the
DuckDB oracle recomputes: HLL x192, CMS x149, Bloom x147/x155, and
these two:

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
the driver hash-checks the twins end to end; ``tests/test_sketches.py``
ties the NATIVE demos to these twins with error-bound assertions.

Reference scope note: the reference engine has no sketches (nearest
concept: the generation-time ``StaticHash`` digest, mappr.js:236-246);
this module is SURVEY.md §2.3 extension surface.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dirty_js_etl_spark.queries._shared import (
    _DEC,
    _NORM_SQL,
    _cat,
    _disc_price,
    register,
)


@register(
    "x35_sketches",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       TRUE AS hll_in_bound,
       TRUE AS quantiles_in_bound
FROM events GROUP BY event_type
""",
)
def x35_sketches(spark, sf_dir):
    # sketch aggregations per event type, DETERMINISTICALLY oracled: the exact
    # per-group counts hash-check against DuckDB directly, and the HLL++/KLL
    # estimates are emitted as in-error-bound BOOLEANS computed against the
    # exact answers inside the same aggregate (|hll - exact| <= 5% of exact at
    # rsd=0.02; each approx quantile inside the exact [q-0.01, q+0.01] quantile
    # envelope at accuracy=10000) — the oracle asserts TRUE. The raw
    # estimate magnitudes stay covered by tests/test_sketches.py; the
    # rows-only estimate surface lives on in x35b_sketch_estimates.
    events = _cat(spark, sf_dir).read("events")
    agg = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("hll_users"),
        F.percentile_approx("value", [0.5, 0.95, 0.99], 10000).alias("q_est"),
        F.expr(
            "percentile(value, array(0.49, 0.51, 0.94, 0.96, 0.98, 1.0))"
        ).alias("q_env"),
    )
    q_ok = (
        F.col("q_est")[0].between(F.col("q_env")[0], F.col("q_env")[1])
        & F.col("q_est")[1].between(F.col("q_env")[2], F.col("q_env")[3])
        & F.col("q_est")[2].between(F.col("q_env")[4], F.col("q_env")[5])
    )
    return agg.select(
        "event_type",
        "n_events",
        "n_users",
        (
            F.abs(F.col("hll_users") - F.col("n_users"))
            <= 0.05 * F.col("n_users")
        ).alias("hll_in_bound"),
        q_ok.alias("quantiles_in_bound"),
    )


@register("x35b_sketch_estimates", None)  # raw sketch outputs -> rows-only
def x35b_sketch_estimates(spark, sf_dir):
    # the raw HLL++/KLL estimate surface (rows-only companion of x35):
    # another engine's sketch can't be SQL-reproduced, so the driver
    # records row count while tests/test_sketches.py asserts the error
    # bounds (rel err <= 5%, rank err bounded)
    events = _cat(spark, sf_dir).read("events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx("value", [0.5, 0.95, 0.99], 10000).alias("value_q"),
        F.count(F.lit(1)).alias("n_events"),
    ).select(
        "event_type",
        "approx_users",
        F.col("value_q")[0].alias("p50"),
        F.col("value_q")[1].alias("p95"),
        F.col("value_q")[2].alias("p99"),
        "n_events",
    )


@register("x144_sketch_rollup", None)
def x144_sketch_rollup(spark, sf_dir):
    # Two-level sketch REAGGREGATION: per-day HLL sketches (binary,
    # storable) union-merged into weekly distinct-user estimates --
    # x98's incremental-rollup story for COUNT DISTINCT, the one
    # aggregate plain partial sums can't reaggregate.  At 100 TB/day
    # the daily sketch table is bytes per day; weekly/monthly/any-ad-
    # hoc-range distincts come from merging stored states instead of
    # rescanning raw events.  rows-only: sketch estimates are
    # engine-specific (DataSketches HLL); test_sketches.py bounds the
    # error vs the exact two-level answer at <= 5%.
    ev = _cat(spark, sf_dir).read("events")
    daily = ev.groupBy(
        (
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
            / F.lit(7)
        ).cast("int").alias("week_idx"),
        F.col("ts").cast("date").alias("day"),
    ).agg(F.expr("hll_sketch_agg(user_id, 12)").alias("sk"))
    return (
        daily.groupBy("week_idx")
        .agg(
            F.expr(
                "hll_sketch_estimate(hll_union_agg(sk, true))"
            ).alias("approx_weekly_users"),
            F.count(F.lit(1)).alias("n_days"),
        )
    )


@register(
    "x147_bloom_decontaminate",
    f"""
WITH fp AS (
  SELECT doc_id, lang, md5({_NORM_SQL}) AS fp,
         doc_id % 20 = 0 AS is_member
  FROM documents
), probes AS (SELECT * FROM (VALUES (0),(1),(2),(3),(4)) r(j)),
member_bits AS (
  SELECT DISTINCT
         CAST('0x' || substring(
                md5(CAST(r.j AS VARCHAR) || ':' || f.fp), 1, 8)
              AS BIGINT) % 32768 AS pos
  FROM fp f CROSS JOIN probes r WHERE f.is_member
), train AS (
  SELECT f.doc_id, f.lang,
         CAST('0x' || substring(
                md5(CAST(r.j AS VARCHAR) || ':' || f.fp), 1, 8)
              AS BIGINT) % 32768 AS pos
  FROM fp f CROSS JOIN probes r WHERE NOT f.is_member
), hits AS (
  SELECT t.doc_id, t.lang, count(m.pos) AS nhit
  FROM train t LEFT JOIN member_bits m ON t.pos = m.pos
  GROUP BY t.doc_id, t.lang
)
SELECT doc_id, lang FROM hits WHERE nhit < 5
""",
)
def x147_bloom_decontaminate(spark, sf_dir):
    # Membership screening with ZERO corpus-side join: the blocklist
    # (docs with doc_id % 20 == 0, the same eval set as x146) folds to
    # an m-bit Bloom filter -- one narrow aggregation bounded at m/64
    # longs -- and the training side drops members with a map-only
    # k-probe bit test.  x146's broadcast anti-join is the exact
    # spelling; this is what replaces it when the blocklist outgrows
    # broadcast (a billion seen-URL fingerprints still fits in a
    # 1.4 GiB bloom at 10 bits/key) -- membership pruning whose cost
    # is independent of member count.  FP side-effect: a non-member
    # doc can be dropped at (1-e^{-kn/m})^k; with m=2^15, k=5 and the
    # fixture's n<=500 members the expected FP count is < 1e-8 rows.
    # The portable=True bit positions come from md5 hex (cms_bucket's
    # spelling), so the DuckDB oracle rebuilds the EXACT same filter --
    # its false positives included -- and the membership screen is
    # hash-checked, not just FP-bound-tested (the xxhash64 fast path
    # stays the default for production callers).
    from dirty_js_etl_spark.operators.sketch import (
        bloom_build,
        bloom_contains,
    )
    from dirty_js_etl_spark.operators.text import fingerprint_md5

    m_bits, k = 1 << 15, 5
    docs = _cat(spark, sf_dir).read("documents")
    fp = fingerprint_md5(F.col("text"))
    bloom = bloom_build(
        docs.filter(F.col("doc_id") % 20 == 0).select(fp.alias("fp")),
        F.col("fp"),
        m_bits=m_bits,
        k=k,
        portable=True,
    )
    return (
        docs.filter(F.col("doc_id") % 20 != 0)
        .crossJoin(F.broadcast(bloom))  # 1-row filter table: scalar attach
        .filter(
            ~bloom_contains(fp, F.col("bloom_words"), m_bits, k, portable=True)
        )
        .select("doc_id", "lang")
    )


@register(
    "x149_cms_heavy_hitters",
    f"""
WITH tok AS (
  SELECT UNNEST(string_split({_NORM_SQL}, ' ')) AS token FROM documents
), cnt AS (
  SELECT token, CAST(count(*) AS BIGINT) AS c
  FROM tok WHERE length(token) > 0 GROUP BY token
), hrows AS (SELECT * FROM (VALUES (0),(1),(2),(3)) r(j)),
buck AS (
  SELECT r.j,
         CAST('0x' || substring(
                md5(CAST(r.j AS VARCHAR) || ':' || c.token), 1, 8)
              AS BIGINT) % 16 AS b,
         c.token, c.c
  FROM cnt c CROSS JOIN hrows r
), sketch AS (
  SELECT j, b, CAST(sum(c) AS BIGINT) AS s FROM buck GROUP BY j, b
), est AS (
  SELECT bu.token, min(sk.s) AS est_count
  FROM buck bu JOIN sketch sk ON bu.j = sk.j AND bu.b = sk.b
  GROUP BY bu.token
)
SELECT token, CAST(est_count AS BIGINT) AS est_count
FROM est WHERE est_count >= 50
""",
)
def x149_cms_heavy_hitters(spark, sf_dir):
    # Count-min-sketch heavy hitters: build a 4x16 counter grid over
    # token frequencies in one hash-agg pass, then read every distinct
    # token's one-sided estimate back off the broadcast grid (min over
    # the 4 rows) and keep est >= 50.  The deliberately tiny width
    # forces real collisions, so estimates OVERSHOOT exact counts for
    # colliding tokens -- and the DuckDB oracle reproduces the exact
    # same grid because buckets come from md5 hex (cms_bucket ==
    # hash_bucket's portable spelling), making this the sketch-family
    # query whose approximation error is itself hash-checked rather
    # than bound-tested.  Scale: grid build is one narrow pass with
    # map-side partial agg (<= depth*width rows shipped per
    # partition); the probe join broadcasts the grid (always <=
    # depth*width rows); mergeable across shards by cell-wise sum.
    from dirty_js_etl_spark.operators.sketch import cms_estimate, cms_sketch
    from dirty_js_etl_spark.operators.text import tokens

    depth, width = 4, 16
    docs = _cat(spark, sf_dir).read("documents")
    cnt = (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .filter(F.length("token") > 0)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sk = cms_sketch(cnt, "token", "c", depth=depth, width=width)
    est = cms_estimate(
        cnt.select("token"), sk, "token", depth=depth, width=width
    )
    return est.filter(F.col("est_count") >= 50)


@register("x154_rolling_hll_wau", None)  # HLL estimate (engine sketch)
# -> rows-only; tests/test_sketch.py bounds the error vs the exact
# sliding distinct (x145) at <= 5% per day
def x154_rolling_hll_wau(spark, sf_dir):
    # Approximate trailing-7-day WAU via mergeable per-day HLL sketches:
    # the SCALE path for x145's exact sliding distinct. Events reduce to
    # one ~1.5 KB sketch row per day (single shuffle); the slide then
    # operates on the CALENDAR-sized sketch table (<= days x 7 rows,
    # data-independent), vs. the exact form's 7x fan-out of the distinct
    # (day,user) relation. At 100 TB the daily sketches also persist as
    # the incremental state: yesterday's sketches never recompute.
    ev = _cat(spark, sf_dir).read("events")
    daily = (
        ev.select(F.col("ts").cast("date").alias("day"), "user_id")
        .groupBy("day")
        .agg(F.hll_sketch_agg(F.col("user_id"), 12).alias("sk"))
    )
    d2 = daily.select(F.col("day").alias("d"))
    return (
        daily.join(
            F.broadcast(d2),
            (F.col("day") <= F.col("d"))
            & (F.col("day") >= F.date_sub(F.col("d"), 6)),
        )
        .groupBy("d")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk"))
            .cast("long")
            .alias("wau7_approx")
        )
        .select(F.date_format("d", "yyyy-MM-dd").alias("day"), "wau7_approx")
    )


@register(
    "x155_bloom_pruned_join",
    f"""
WITH o AS (
  SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS month
  FROM orders WHERE o_orderpriority = '1-URGENT'
)
SELECT month,
       CAST(sum({_DEC}) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem JOIN o ON l_orderkey = o_orderkey
GROUP BY month
""",
)
def x155_bloom_pruned_join(spark, sf_dir):
    # Bloom-join: screen the fact table with a bounded m-bit filter
    # built from the selective build side BEFORE the exact join, so
    # ~80% of lineitem rows (non-urgent orders) die map-side and never
    # reach the shuffle. No false negatives => identical result to the
    # plain join, which is literally what the oracle runs. The filter
    # is ~128 KB regardless of order count — this is the scale story:
    # selectivity-proportional shuffle reduction at constant broadcast
    # cost (AQE cannot do this when the build side exceeds the
    # broadcast-join threshold). Honest local measurement: at sf0.1 on
    # local[32] the probe CPU (k hashes/row) EXCEEDS the saving,
    # because AQE broadcasts the 30k-key build side and the fact never
    # shuffles anyway — bloom_prune's regime is a non-broadcastable
    # build side + network-bound shuffle, i.e. the cluster, not this
    # box; the oracle equality (bloom+join ≡ join) is the point here.
    from dirty_js_etl_spark.operators.sketch import bloom_prune

    cat = _cat(spark, sf_dir)
    urgent = cat.read("orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey", F.date_format("o_orderdate", "yyyy-MM").alias("month"))
    li = cat.read("lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    pruned = bloom_prune(
        li, F.col("l_orderkey"), urgent.select("o_orderkey"),
        F.col("o_orderkey"), m_bits=1 << 20, k=4,
    )
    return (
        pruned.join(urgent, pruned.l_orderkey == urgent.o_orderkey)
        .groupBy("month")
        .agg(
            F.sum(_disc_price()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register("x182_kll_quantile_rollup", None)  # engine sketch -> rows-only;
# error bound vs exact percentiles pinned in tests/test_sketches.py
def x182_kll_quantile_rollup(spark, sf_dir):
    # Two-level MERGEABLE quantile rollup (the x144 HLL pattern for
    # percentiles): per-day KLL sketches of purchase values reduce each
    # day to one ~KB state row; the weekly p50/p95 come from MERGING
    # the daily sketches — never re-touching raw data. This is the
    # incremental-percentile architecture exact forms (x40) cannot
    # offer: yesterday's sketch never recomputes, and the merge is
    # associative across shards/days.
    ev = _cat(spark, sf_dir).read("events").filter(
        F.col("event_type") == "purchase"
    )
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("day")
    ).agg(F.kll_sketch_agg_double("value").alias("sk"))
    weekly = daily.groupBy(
        F.weekofyear("day").alias("week")
    ).agg(F.kll_merge_agg_double("sk").alias("wsk"))
    return weekly.select(
        "week",
        F.kll_sketch_get_n_double("wsk").cast("long").alias("n"),
        F.kll_sketch_get_quantile_double("wsk", F.lit(0.5)).alias("p50_approx"),
        F.kll_sketch_get_quantile_double("wsk", F.lit(0.95)).alias("p95_approx"),
    )


@register("x183_theta_audience_overlap", None)  # engine sketch ->
# rows-only; error bound vs exact distinct set ops in test_sketches.py
def x183_theta_audience_overlap(spark, sf_dir):
    # Audience set algebra via THETA sketches — the scalable form of
    # "how many users both viewed and purchased" (ad-tech overlap
    # reports): each event type folds to one bounded sketch row (one
    # shuffle); intersection/difference run on the SKETCHES, not the
    # user sets — |types|² set ops at constant cost, vs an exact
    # distinct-intersection join whose cost is data-sized per pair.
    ev = _cat(spark, sf_dir).read("events")
    sk = ev.groupBy("event_type").agg(
        F.theta_sketch_agg("user_id").alias("sk")
    )
    v = sk.filter(F.col("event_type") == "view").select(
        F.col("sk").alias("sv")
    )
    p = sk.filter(F.col("event_type") == "purchase").select(
        F.col("sk").alias("sp")
    )
    both = v.crossJoin(F.broadcast(p))  # two 1-row sketch tables
    return both.select(
        F.theta_sketch_estimate(F.col("sv")).cast("long").alias("viewers"),
        F.theta_sketch_estimate(F.col("sp")).cast("long").alias("purchasers"),
        F.theta_sketch_estimate(
            F.theta_intersection(F.col("sv"), F.col("sp"))
        ).cast("long").alias("overlap_approx"),
        F.theta_sketch_estimate(
            F.theta_difference(F.col("sv"), F.col("sp"))
        ).cast("long").alias("view_only_approx"),
    )


@register(
    "x192_hll_portable",
    """
WITH h AS (
  SELECT CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) AS hv
  FROM events
), b AS (
  SELECT hv // 268435456 AS register, hv % 268435456 AS rest FROM h
), r AS (
  SELECT register,
         CASE WHEN rest = 0 THEN 29 ELSE 29 - length(bin(rest)) END AS rho
  FROM b
), regs AS (
  SELECT register, max(rho) AS rho FROM r GROUP BY register
), dense AS (
  SELECT g.register, COALESCE(regs.rho, 0) AS rho
  FROM range(16) g(register) LEFT JOIN regs ON g.register = regs.register
), z AS (
  SELECT sum(1::BIGINT << (32 - rho)) AS zint FROM dense
)
SELECT CAST(dense.register AS INT) AS register, CAST(dense.rho AS INT) AS rho,
       CAST(0.673 AS DOUBLE) * 256 * 4294967296.0 / z.zint AS est_distinct
FROM dense, z
""",
)
def x192_hll_portable(spark, sf_dir):
    # From-scratch HLL whose DuckDB oracle reproduces the register table
    # AND the estimate bit-for-bit: registers/rho from md5 hex + bin()
    # string length (no transcendental log2), Z carried as an exact
    # BIGINT, one correctly-rounded division at the end.  The sketch
    # family's second fully-hash-checked member after the CMS grid
    # (x149) -- native hll_sketch_agg (x154) stays the production path;
    # this is the engine-portable spelling an external system can audit.
    # Scale: one narrow groupBy over 16 registers, no distinct pre-pass
    # (dups collapse in max), shard-mergeable by register-wise max.
    from dirty_js_etl_spark.operators.sketch import hll_portable

    ev = _cat(spark, sf_dir).read("events")
    return hll_portable(ev, F.col("user_id"), p=4)


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
