"""Split from the original queries.py (registration order preserved)."""
from __future__ import annotations

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

from dirty_js_etl_spark.queries._shared import _cat, _select_spec, register
from dirty_js_etl_spark.queries.q04_corpus import _NORM_SQL, _STREAM_COUNTER

# ---------------------------------------------------------------------------
# Range-frame windows, stream-static join, funnel analysis, Pandas-UDF
# extension path
# ---------------------------------------------------------------------------


@register(
    "x61_moving_avg_range",
    """
SELECT event_id, user_id, ts,
       round(avg(value) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 6) AS mavg_1h
FROM events
""",
)
def x61_moving_avg_range(spark, sf_dir):
    # time-range window frame (RANGE, not ROWS): the trailing-hour mean
    # per user -- per-key window, one hash shuffle on user_id, sort is
    # partition-local; frames are value-ranges so ts gaps are handled.
    # The range key is INTEGER MICROSECONDS on both engines
    # (unix_micros / epoch_us): whole-second keys (unix_timestamp vs
    # DuckDB's fractional epoch()) disagree on frame membership
    # whenever same-user events straddle the boundary inside one
    # second — invisible at sparse sf0.01, real at sf0.1 density.
    from pyspark.sql import Window

    events = _cat(spark, sf_dir).read("events")
    # cast("timestamp") is a no-op on LTZ input and rescues NTZ input
    # (driver sessions without the catalog's conf protections), which
    # once made x61/x139 fail under the driver.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.avg("value").over(w), 6).alias("mavg_1h"),
    )


@register(
    "x62_stream_static_join",
    """
SELECT coalesce(c.c_mktsegment, 'UNKNOWN') AS mktsegment,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
""",
)
def x62_stream_static_join(spark, sf_dir):
    # stream-static enrichment: the static dim broadcasts into every
    # micro-batch (no stream-side shuffle for the join); converges to the
    # batch join+agg when the finite source drains
    from dirty_js_etl_spark.streaming.events import read_events_stream

    cust = _cat(spark, sf_dir).read("customer")
    stream = read_events_stream(spark, sf_dir)
    enriched = stream.join(
        F.broadcast(cust), stream.user_id == cust.c_custkey, "left"
    ).select(
        F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("mktsegment"),
        "value",
    )
    agg = enriched.groupBy("mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("total_value"),
    )
    name = f"stream_static_{next(_STREAM_COUNTER)}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


@register(
    "x63_funnel",
    """
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id
)
SELECT v.user_id,
       CASE WHEN p.user_id IS NOT NULL THEN 'purchase'
            WHEN c.user_id IS NOT NULL THEN 'click'
            ELSE 'view' END AS funnel_stage,
       v.t_view, c.t_click, p.t_purchase
FROM v LEFT JOIN c ON v.user_id = c.user_id
       LEFT JOIN p ON v.user_id = p.user_id
""",
)
def x63_funnel(spark, sf_dir):
    # ordered-funnel analysis (view -> click after view -> purchase
    # after click) in a SINGLE scan and a SINGLE shuffle: three chained
    # conditional mins as window aggregates over the user partition
    # (no ORDER BY -> no per-partition sort), then a same-key groupBy
    # that reuses the window's hash partitioning (no second exchange).
    # Replaces a 3-scan/3-shuffle/2-join formulation that was 3x
    # slower at sf0.1.
    from pyspark.sql import Window

    events = _cat(spark, sf_dir).read("events")
    w = Window.partitionBy("user_id")
    etype, ts = F.col("event_type"), F.col("ts")
    stage1 = events.filter(
        etype.isin("view", "click", "purchase")
    ).withColumn("t_view", F.min(F.when(etype == "view", ts)).over(w))
    stage2 = stage1.withColumn(
        "t_click",
        F.min(
            F.when((etype == "click") & (ts > F.col("t_view")), ts)
        ).over(w),
    )
    stage3 = stage2.withColumn(
        "t_purchase",
        F.min(
            F.when((etype == "purchase") & (ts > F.col("t_click")), ts)
        ).over(w),
    )
    return (
        stage3.filter(F.col("t_view").isNotNull())
        .groupBy("user_id")
        .agg(
            F.first("t_view").alias("t_view"),
            F.first("t_click").alias("t_click"),
            F.first("t_purchase").alias("t_purchase"),
        )
        .select(
            "user_id",
            F.when(F.col("t_purchase").isNotNull(), "purchase")
            .when(F.col("t_click").isNotNull(), "click")
            .otherwise("view")
            .alias("funnel_stage"),
            "t_view",
            "t_click",
            "t_purchase",
        )
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


@register(
    "x65_cube_agg",
    """
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def x65_cube_agg(spark, sf_dir):
    # CUBE: all 4 grouping combinations in ONE shuffle (Expand feeds a
    # single hash-agg) -- the multi-dimensional report shape
    o = _cat(spark, sf_dir).read("orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
    )


@register(
    "x66_ntile_deciles",
    """
SELECT c_custkey,
       CAST(ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS INT) AS decile
FROM customer
""",
)
def x66_ntile_deciles(spark, sf_dir):
    # decile bucketing; deterministic via the (acctbal, custkey) total
    # order.  Distributed ntile (operators/ranking.py): range-partition
    # on the order key, local row numbers, tiny per-partition offset
    # broadcast -- exact SQL ntile semantics with NO single-partition
    # window sort, so the same plan holds at 100 TB.
    from dirty_js_etl_spark.operators.ranking import with_global_ntile

    c = _cat(spark, sf_dir).read("customer")
    return with_global_ntile(
        c.select("c_custkey", "c_acctbal"),
        ["c_acctbal", "c_custkey"],
        10,
        "decile",
    ).select("c_custkey", "decile")


@register(
    "x67_snapshot_diff",
    """
WITH old AS (
  SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 10 <> 3
), new AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0 THEN 'SHIFTED' ELSE c_mktsegment END
           AS c_mktsegment
  FROM customer WHERE c_custkey % 10 <> 4
)
SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
       CASE WHEN o.c_custkey IS NULL THEN 'INSERT'
            WHEN n.c_custkey IS NULL THEN 'DELETE'
            ELSE 'UPDATE' END AS change
FROM old o FULL JOIN new n ON o.c_custkey = n.c_custkey
WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
   OR o.c_mktsegment IS DISTINCT FROM n.c_mktsegment
""",
)
def x67_snapshot_diff(spark, sf_dir):
    # CDC between two table snapshots: one full-outer co-partitioned
    # join on the key; emits only INSERT/DELETE/UPDATE rows (the T6
    # audit stream generalized to snapshot pairs)
    c = _cat(spark, sf_dir).read("customer")
    old = c.filter(F.col("c_custkey") % 10 != 3).select(
        "c_custkey", "c_mktsegment"
    )
    new = c.filter(F.col("c_custkey") % 10 != 4).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, "SHIFTED")
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    o, n = old.alias("o"), new.alias("n")
    return (
        o.join(n, F.col("o.c_custkey") == F.col("n.c_custkey"), "full_outer")
        .filter(
            F.col("o.c_custkey").isNull()
            | F.col("n.c_custkey").isNull()
            | ~F.col("o.c_mktsegment").eqNullSafe(F.col("n.c_mktsegment"))
        )
        .select(
            F.coalesce("o.c_custkey", "n.c_custkey").alias("c_custkey"),
            F.when(F.col("o.c_custkey").isNull(), "INSERT")
            .when(F.col("n.c_custkey").isNull(), "DELETE")
            .otherwise("UPDATE")
            .alias("change"),
        )
    )


@register(
    "x68_integrity_audit",
    """
SELECT 'lineitem.l_orderkey->orders' AS fk,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans
FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
UNION ALL
SELECT 'orders.o_custkey->customer',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
UNION ALL
SELECT 'customer.c_nationkey->nation',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
""",
)
def x68_integrity_audit(spark, sf_dir):
    # referential-integrity audit (the check the reference's FK lookups
    # silently skip -- unmatched lookups emit NULL, mappr.js:283-307):
    # orphan counts per declared FK edge; each edge is one left join
    # where the parent side broadcasts when dimension-sized
    cat = _cat(spark, sf_dir)

    def edge(child, ckey, parent, pkey, label, broadcast_parent):
        p = cat.read(parent).select(pkey)
        if broadcast_parent:
            p = F.broadcast(p)
        return (
            cat.read(child)
            .select(ckey)
            .join(p, F.col(ckey) == F.col(pkey), "left")
            .agg(
                F.lit(label).alias("fk"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col(pkey).isNull().cast("long")).alias("n_orphans"),
            )
            .select("fk", "n_rows", "n_orphans")
        )

    return (
        edge("lineitem", "l_orderkey", "orders", "o_orderkey",
             "lineitem.l_orderkey->orders", False)
        .unionAll(
            # customer scales with the data — no forced hint (AQE /
            # static size decides); only the fixed-size nation dim is
            edge("orders", "o_custkey", "customer", "c_custkey",
                 "orders.o_custkey->customer", False)
        )
        .unionAll(
            edge("customer", "c_nationkey", "nation", "n_nationkey",
                 "customer.c_nationkey->nation", True)
        )
    )


@register(
    "x69_histogram",
    """
WITH b AS (
  SELECT CAST(min(o_totalprice) AS DOUBLE) AS lo,
         CAST(max(o_totalprice) AS DOUBLE) AS hi
  FROM orders
)
SELECT CAST(least(floor((o_totalprice - lo) / ((hi - lo) / 20.0)), 19) AS INT)
         AS bin,
       CAST(count(*) AS BIGINT) AS n
FROM orders, b
GROUP BY 1
""",
)
def x69_histogram(spark, sf_dir):
    # equal-width histogram: the (min, max) scalar pair broadcasts, the
    # binning is a codegen projection, one hash-agg on the bin id
    o = _cat(spark, sf_dir).read("orders")
    bounds = o.agg(
        F.min("o_totalprice").cast("double").alias("lo"),
        F.max("o_totalprice").cast("double").alias("hi"),
    )
    width = (F.col("hi") - F.col("lo")) / 20.0
    return (
        o.join(F.broadcast(bounds))
        .select(
            F.least(
                F.floor((F.col("o_totalprice") - F.col("lo")) / width),
                F.lit(19),
            )
            .cast("int")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "x70_corr_cov",
    """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
       round(covar_samp(l_quantity, l_discount), 6) AS qty_disc_cov,
       round(stddev_samp(l_quantity), 6) AS qty_std
FROM lineitem GROUP BY l_returnflag
""",
)
def x70_corr_cov(spark, sf_dir):
    # statistical aggregates (corr / covariance / stddev): single-pass
    # partial+final moments, one shuffle keyed by group
    li = _cat(spark, sf_dir).read("lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "qty_price_corr"
        ),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias(
            "qty_disc_cov"
        ),
        F.round(F.stddev_samp("l_quantity"), 6).alias("qty_std"),
    )


@register(
    "x71_argmax_per_group",
    """
WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
  FROM orders
)
SELECT o_custkey AS custkey, o_orderkey AS top_orderkey,
       CAST(o_totalprice AS DOUBLE) AS top_price
FROM ranked WHERE rn = 1
""",
)
def x71_argmax_per_group(spark, sf_dir):
    # argmax without a window: max_by over a (price, key) struct is a
    # plain aggregation -- map-side partial argmax, no per-group sort;
    # strictly cheaper than row_number at scale
    o = _cat(spark, sf_dir).read("orders")
    best = F.max_by(
        F.struct("o_orderkey", "o_totalprice"),
        F.struct("o_totalprice", "o_orderkey"),
    )
    return o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        best.getField("o_orderkey").alias("top_orderkey"),
        best.getField("o_totalprice").cast("double").alias("top_price"),
    )


@register(
    "x72_sessionize_batch",
    """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('second', lag(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS INT) AS session_id,
       CAST(count(*) AS BIGINT) AS n_events, min(ts) AS session_start
FROM sess GROUP BY 1, 2
""",
)
def x72_sessionize_batch(spark, sf_dir):
    # batch gap-based sessionization (30-min inactivity) via the
    # sessionize operator: lag -> flag -> running-sum.  One shuffle on
    # user_id serves both window passes and the final per-session
    # aggregate (Catalyst reuses the partitioning, plan-tested); sort
    # is per-user within a partition, never global.  The streaming
    # twin is the applyInPandasWithState sessionizer in
    # streaming/sessions.py.
    from dirty_js_etl_spark.operators.events import sessionize

    ev = _cat(spark, sf_dir).read("events")
    return (
        sessionize(ev, gap_minutes=30)
        .groupBy(
            "user_id", F.col("session_seq").cast("int").alias("session_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
        )
    )


@register(
    "x73_part_cooccurrence",
    """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       CAST(count(*) AS BIGINT) AS n_orders
FROM op a JOIN op b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING count(*) >= 2
""",
)
def x73_part_cooccurrence(spark, sf_dir):
    # market-basket pair mining: which parts ship together in >= 2
    # orders.  Self-join on l_orderkey is co-partitioned -- both sides
    # hash to the same exchange, so Spark shuffles the deduped
    # (order, part) projection once and joins partition-locally; the
    # pair blow-up is bounded per order (lines-per-order choose 2),
    # never global.
    li = _cat(spark, sf_dir).read("lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    pairs = op.alias("a").join(
        op.alias("b"),
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    )
    return (
        pairs.groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


@register(
    "x74_new_vs_returning",
    """
WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1)
SELECT e.event_type,
       CASE WHEN CAST(e.ts AS DATE) = CAST(f.first_ts AS DATE)
            THEN 'new' ELSE 'returning' END AS cohort,
       CAST(count(*) AS BIGINT) AS n
FROM events e JOIN f ON e.user_id = f.user_id
GROUP BY 1, 2
""",
)
def x74_new_vs_returning(spark, sf_dir):
    # cohort split: events on the user's first-seen day are 'new'.
    # first_ts is a per-user WINDOW min -- one shuffle on user_id and no
    # join at all.  The previous agg + broadcast-join spelling forced a
    # |users|-scale relation through a broadcast, which outgrows executor
    # memory at 100 TB; the window needs nothing resident.
    from pyspark.sql import Window

    ev = _cat(spark, sf_dir).read("events")
    first_ts = F.min("ts").over(Window.partitionBy("user_id"))
    return (
        ev.select(
            "event_type",
            F.when(F.to_date("ts") == F.to_date(first_ts), "new")
            .otherwise("returning")
            .alias("cohort"),
        )
        .groupBy("event_type", "cohort")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "x75_tfidf_topk",
    f"""
WITH tok AS (
  SELECT doc_id, UNNEST(string_split({_NORM_SQL}, ' ')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tok
  WHERE length(token) > 0 GROUP BY 1, 2
), dfreq AS (
  SELECT token, count(*) AS df FROM tf GROUP BY 1
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token AS term,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf
  FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS rn
  FROM scored
)
SELECT doc_id, term, tfidf, CAST(rn AS INT) AS rank
FROM ranked WHERE rn <= 3
""",
)
def x75_tfidf_topk(spark, sf_dir):
    from dirty_js_etl_spark.operators.text import tfidf_topk

    docs = _cat(spark, sf_dir).read("documents")
    return tfidf_topk(docs, "doc_id", "text", k=3)


@register(
    "x76_hopping_window",
    """
SELECT time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes'
         AS window_start,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events CROSS JOIN (SELECT UNNEST([0, 1]) AS k) ks
GROUP BY 1
""",
)
def x76_hopping_window(spark, sf_dir):
    # hopping (sliding) time windows via F.window(60m width, 30m slide):
    # each event lands in exactly width/slide = 2 windows.  Spark expands
    # the assignment as a generator projection (no self-union of the
    # scan) and the agg is one shuffle keyed by window start; identical
    # code runs under readStream with a watermark.  Epoch-aligned on
    # both engines, so the oracle reconstructs the same grid with
    # time_bucket minus k*slide.
    ev = _cat(spark, sf_dir).read("events")
    return (
        ev.groupBy(F.window("ts", "60 minutes", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("window_start"), "n_events", "n_users"
        )
    )


@register(
    "x77_retention_matrix",
    """
WITH f AS (
  SELECT user_id, CAST(min(ts) AS DATE) AS d0 FROM events GROUP BY 1
), a AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
)
SELECT CAST(f.d0 AS VARCHAR) AS cohort_day,
       CAST(date_diff('day', f.d0, a.d) AS INT) AS day_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM a JOIN f ON a.user_id = f.user_id
WHERE date_diff('day', f.d0, a.d) <= 7
GROUP BY 1, 2
""",
)
def x77_retention_matrix(spark, sf_dir):
    # D0..D7 cohort retention: users first seen on cohort_day who were
    # active again day_offset days later.  d0 rides along as a per-user
    # WINDOW min before the (user, day) distinct -- one user_id shuffle
    # feeds both, and there is NO join: the previous agg +
    # broadcast-join plan shipped a |users|-scale relation through a
    # broadcast, a 100 TB scale bug.  d0 is functionally dependent on
    # user_id, so carrying it through the distinct changes nothing.
    from pyspark.sql import Window

    ev = _cat(spark, sf_dir).read("events")
    d0 = F.to_date(F.min("ts").over(Window.partitionBy("user_id")))
    active = ev.select(
        "user_id", F.to_date("ts").alias("d"), d0.alias("d0")
    ).distinct()
    off = F.datediff("d", "d0")
    return (
        active.filter(off <= 7)
        .groupBy(
            F.col("d0").cast("string").alias("cohort_day"),
            off.cast("int").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "x78_filtered_agg",
    """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
         AS n_finished,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
              FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS open_value
FROM orders
GROUP BY 1
""",
)
def x78_filtered_agg(spark, sf_dir):
    # conditional aggregation (SQL FILTER clause): one scan, one
    # hash-agg -- each conditional is a when() inside the partial agg,
    # never a second pass or a self-join per condition.
    o = _cat(spark, sf_dir).read("orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias(
            "n_finished"
        ),
        F.sum(F.when(F.col("o_orderstatus") == "O", dec))
        .cast("double")
        .alias("open_value"),
    )


@register(
    "x79_distribution_ranks",
    """
WITH r AS (
  SELECT c_mktsegment, c_acctbal,
         percent_rank() OVER w AS pr,
         cume_dist() OVER w AS cd
  FROM customer
  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal)
)
SELECT c_mktsegment,
       round(max(CASE WHEN cd <= 0.5 THEN c_acctbal END), 2) AS p50_floor,
       max(pr) AS max_pr,
       CAST(count(*) AS BIGINT) AS n
FROM r GROUP BY 1
""",
)
def x79_distribution_ranks(spark, sf_dir):
    # distribution analytics: percent_rank + cume_dist over the segment
    # partition, reduced to a per-segment profile.  One shuffle keyed by
    # segment serves the window sort AND the final agg; the rank pass is
    # per-partition, never a global sort.
    from pyspark.sql import Window

    c = _cat(spark, sf_dir).read("customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    r = c.select(
        "c_mktsegment",
        "c_acctbal",
        # raw rank ratios ((rank-1)/(n-1), ints) -- bit-identical on
        # both engines; no decimal re-round (kmv discipline)
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return r.groupBy("c_mktsegment").agg(
        F.round(
            F.max(F.when(F.col("cd") <= 0.5, F.col("c_acctbal"))), 2
        ).alias("p50_floor"),
        F.max("pr").alias("max_pr"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "x80_streaming_hopping",
    """
SELECT time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes'
         AS window_start,
       CAST(count(*) AS BIGINT) AS n_events
FROM events CROSS JOIN (SELECT UNNEST([0, 1]) AS k) ks
GROUP BY 1
""",
)
def x80_streaming_hopping(spark, sf_dir):
    # hopping windows through readStream -> watermark -> writeStream:
    # must converge to the batch hopping answer (x76) once the finite
    # source drains.  State is one row per open window; the watermark
    # bounds how many stay open at 100 TB/day ingest.
    from dirty_js_etl_spark.streaming.events import (
        hopping_rate,
        run_stream_to_memory,
    )

    name = f"events_hopping_{next(_STREAM_COUNTER)}"
    return run_stream_to_memory(
        spark, sf_dir, query_name=name, transform=hopping_rate
    )


@register(
    "x81_regression_per_group",
    """
WITH e AS (
  SELECT event_type, value,
         CAST(epoch(ts) - 1704067200 AS DOUBLE) AS x
  FROM events
)
SELECT event_type,
       round(regr_slope(value, x), 4) + 0.0 AS slope,
       round(regr_intercept(value, x), 4) + 0.0 AS intercept,
       round(regr_r2(value, x), 4) + 0.0 AS r2,
       CAST(regr_count(value, x) AS BIGINT) AS n
FROM e GROUP BY 1
""",
)
def x81_regression_per_group(spark, sf_dir):
    # per-group OLS trend (value over time) with the built-in regr_*
    # aggregates: single-pass partial+final moment accumulation, one
    # shuffle keyed by group -- the distributed form of a fit that is
    # usually mis-written as a per-group collect
    # x is centered on 2024-01-01 so the intercept sits at data scale --
    # raw epoch seconds (~1.7e9) make slope/intercept catastrophically
    # cancellation-prone and engine-order-dependent past ~3 decimals
    ev = _cat(spark, sf_dir).read("events")
    x = (F.unix_timestamp("ts") - F.lit(1704067200)).cast("double")
    y = F.col("value")
    # + 0.0 normalizes IEEE negative zero (round can yield -0.0 on one
    # engine and +0.0 on the other, which hash differently)
    return ev.groupBy("event_type").agg(
        (F.round(F.regr_slope(y, x), 4) + 0.0).alias("slope"),
        (F.round(F.regr_intercept(y, x), 4) + 0.0).alias("intercept"),
        (F.round(F.regr_r2(y, x), 4) + 0.0).alias("r2"),
        F.regr_count(y, x).alias("n"),
    )


@register(
    "x82_tpch_q22",
    """
WITH ab AS (
  SELECT avg(CAST(c_acctbal AS DECIMAL(18,2))) AS v
  FROM customer WHERE c_acctbal > 0
)
SELECT n.n_name,
       CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         AS totacctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
CROSS JOIN ab
WHERE c.c_acctbal > ab.v
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY 1
""",
)
def x82_tpch_q22(spark, sf_dir):
    # TPC-H Q22 analog (churned-customer shape): above-average balances
    # with no orders since 2000.  Composition of three scale idioms --
    # the 1-row average broadcasts (scalar subquery), the no-recent-
    # orders test is a left_anti join on the customer key with the date
    # predicate pushed to the orders scan, and the nation name is a
    # broadcast dim lookup; the only data shuffle is the anti join's.
    cat = _cat(spark, sf_dir)
    c, n, o = cat.read("customer"), cat.read("nation"), cat.read("orders")
    ab = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg(F.col("c_acctbal").cast("decimal(18,2)")).alias("v")
    )
    rich = c.join(F.broadcast(ab)).filter(F.col("c_acctbal") > F.col("v"))
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    inactive = rich.join(
        recent, rich["c_custkey"] == recent["o_custkey"], "left_anti"
    )
    return (
        inactive.join(
            F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )


@register(
    "x83_tpch_q16",
    """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
GROUP BY 1, 2, 3
""",
)
def x83_tpch_q16(spark, sf_dir):
    # TPC-H Q16 analog (lineitem stands in for partsupp): distinct
    # suppliers per part profile.  part scales with the data, so no
    # forced broadcast hint (size-based planning broadcasts it while it
    # fits); Catalyst plans the distinct-agg as the two-phase
    # expand (partial distinct on (group, suppkey), then final count)
    # so hot part profiles never funnel through one reducer.
    cat = _cat(spark, sf_dir)
    li, p = cat.read("lineitem"), cat.read("part")
    return (
        li.join(
            p.filter(F.col("p_brand") != "Brand#1"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "x84_embedding_quantize",
    """
WITH mx AS (
  SELECT vec_id, embedding,
         greatest(list_max(list_transform(embedding, v -> abs(v))), 1e-12)
           AS amax
  FROM embeddings
)
SELECT vec_id, CAST(i - 1 AS INT) AS pos,
       CAST(trunc(CAST(embedding[i] AS DOUBLE) * 127.0 / amax) AS INT)
         AS q
FROM mx, UNNEST(generate_series(1, len(embedding))) AS s(i)
""",
)
def x84_embedding_quantize(spark, sf_dir):
    # symmetric int8 quantization of embeddings (q = trunc(v * 127 /
    # max|v|)), emitted long-form for the oracle.  Per-vector scale is
    # an array fold (F.aggregate) and the expansion is posexplode --
    # a pure map-only stage, no shuffle anywhere; at 100 TB this is
    # the canonical pre-ANN compression pass (4x smaller index).
    # trunc (not round) pins the tie-break identically on both engines.
    emb = _cat(spark, sf_dir).read("embeddings")
    amax = F.greatest(
        F.aggregate(
            F.transform("embedding", lambda v: F.abs(v)),
            F.lit(0.0),
            lambda acc, v: F.greatest(acc, v),
        ),
        F.lit(1e-12),
    )
    return emb.withColumn("amax", amax).select(
        "vec_id",
        F.posexplode("embedding").alias("pos", "v"),
        "amax",
    ).select(
        "vec_id",
        F.col("pos").cast("int").alias("pos"),
        (F.col("v") * 127.0 / F.col("amax"))
        .cast("double")
        .alias("__x"),
    ).select(
        "vec_id",
        "pos",
        # Spark's double->int cast truncates toward zero; the oracle
        # spells CAST(trunc(x) AS INT) to pin DuckDB to the same rule
        F.col("__x").cast("int").alias("q"),
    )


@register(
    "x85_chunk_documents",
    f"""
WITH t AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents
), c AS (
  SELECT doc_id, toks,
         greatest(CAST(ceil((len(toks) - 50) / 40.0) AS INT), 0) + 1 AS nc
  FROM t
)
SELECT doc_id, CAST(i AS INT) AS chunk_id,
       array_to_string(list_slice(toks, i * 40 + 1, i * 40 + 50), ' ')
         AS chunk_text,
       CAST(len(list_slice(toks, i * 40 + 1, i * 40 + 50)) AS INT)
         AS n_chunk_tokens
FROM c, UNNEST(generate_series(0, nc - 1)) AS s(i)
""",
)
def x85_chunk_documents(spark, sf_dir):
    # overlapping token-window chunking (50-token chunks, stride 40):
    # the context-window splitting step of a training/RAG pipeline.
    # Entirely array expressions + posexplode -- map-only, no shuffle;
    # output rows ~= corpus_tokens / stride regardless of doc skew, so
    # a 1M-token document costs its own partition time but never a
    # repartition.
    from dirty_js_etl_spark.operators.text import tokens

    docs = _cat(spark, sf_dir).read("documents")
    toks = tokens(F.col("text"))
    nc = (
        F.greatest(
            F.ceil((F.size(toks) - 50) / F.lit(40.0)).cast("int"), F.lit(0)
        )
        + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), nc - 1),
        lambda i: F.slice(toks, i * 40 + 1, 50),
    )
    return (
        docs.select("doc_id", F.posexplode(chunks).alias("chunk_id", "ch"))
        .select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.concat_ws(" ", F.col("ch")).alias("chunk_text"),
            F.size("ch").cast("int").alias("n_chunk_tokens"),
        )
    )


@register(
    "x86_zscore_anomalies",
    """
WITH stats AS (
  SELECT event_type,
         avg(value) AS mu,
         stddev_samp(value) AS sigma
  FROM events GROUP BY 1
)
SELECT e.event_type,
       CAST(e.ts AS VARCHAR)[:10] AS day,
       CAST(count(*) AS BIGINT) AS n_anomalies
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE abs((e.value - s.mu) / sigma) > 3
GROUP BY 1, 2
""",
)
def x86_zscore_anomalies(spark, sf_dir):
    # z-score outlier detection: per-type (mu, sigma) is a tiny agg
    # (|event types| rows) that broadcasts back onto the stream; the
    # anomaly test is a codegen projection and the daily rollup is the
    # only data shuffle.  The |z|>3 cut compares ratios, not rounded
    # values, so no cross-engine float drift can flip membership except
    # exactly at the boundary (measure-zero).
    ev = _cat(spark, sf_dir).read("events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(
            F.abs((F.col("value") - F.col("mu")) / F.col("sigma")) > 3
        )
        .groupBy(
            "event_type",
            F.substring(F.col("ts").cast("string"), 1, 10).alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("n_anomalies"))
    )


@register(
    "x87_string_agg",
    """
SELECT c_nationkey,
       string_agg(c_name, ',' ORDER BY c_name) AS vip_names,
       CAST(count(*) AS BIGINT) AS n_vips
FROM customer
WHERE c_acctbal > 9000
GROUP BY 1
""",
)
def x87_string_agg(spark, sf_dir):
    # ordered string aggregation (LISTAGG): collect_list shuffles only
    # the filtered VIP rows; the sort is per-group over an in-memory
    # array (bounded by group size), not a global ORDER BY.  At 100 TB
    # the guard is the filter's selectivity -- an unfiltered listagg of
    # a whale group is an anti-pattern regardless of engine.
    c = _cat(spark, sf_dir).read("customer")
    return (
        c.filter(F.col("c_acctbal") > 9000)
        .groupBy("c_nationkey")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list("c_name")), ","
            ).alias("vip_names"),
            F.count(F.lit(1)).alias("n_vips"),
        )
    )


@register(
    "x88_unpivot_melt",
    """
SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS val
FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice', CAST(p_retailprice AS DOUBLE)
FROM part
""",
)
def x88_unpivot_melt(spark, sf_dir):
    # wide -> long melt via native UNPIVOT (Expand node): ONE scan
    # emits both measure rows -- the oracle's UNION ALL spelling would
    # scan the table once per measure.  Map-only, no shuffle; the
    # inverse of the pivot operator.
    p = _cat(spark, sf_dir).read("part")
    return p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    ).unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="measure",
        valueColumnName="val",
    )


@register(
    "x89_session_window_native",
    """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 1800 SECOND
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 1800 SECOND AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id, sid
""",
)
def x89_session_window_native(spark, sf_dir):
    # Native session windows: F.session_window(ts, gap) makes the
    # gap-sessionization a first-class GROUP BY key -- one shuffle on
    # (user_id, merged window), no window-function double pass like
    # x72.  Boundary semantics: a gap of EXACTLY 30 minutes starts a
    # new session (windows merge only on strict overlap), so the
    # oracle compares the raw interval (microsecond precision), not
    # truncated seconds.  Same API sessionizes a stream unchanged.
    ev = _cat(spark, sf_dir).read("events")
    sw = F.session_window("ts", "30 minutes")
    return (
        ev.groupBy("user_id", sw)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "x90_ngram_corpus_dedup",
    f"""
WITH tok AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents
), grams AS (
  SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS gram
  FROM tok, UNNEST(generate_series(1, len(toks) - 7)) AS s(i)
  WHERE len(toks) >= 8
)
SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
""",
)
def x90_ngram_corpus_dedup(spark, sf_dir):
    # Exact duplicated-substring detection (the Lee et al. "exact
    # substring dedup" signal): every 8-token shingle that appears in
    # >= 2 distinct documents.  Map-side generator expand (sequence ->
    # transform -> explode, no join), then ONE hash aggregate keyed on
    # the gram; distinct-doc counting is a partial-agg-friendly
    # count(DISTINCT).  At 100 TB the gram key space is huge but
    # uniformly hashable -- no skew; band the gram through a 64-bit
    # xxhash before the shuffle if gram strings dominate shuffle bytes.
    from dirty_js_etl_spark.operators.text import tokens

    n = 8
    d = (
        _cat(spark, sf_dir)
        .read("documents")
        .select("doc_id", tokens(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= n)
    )
    grams = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - F.lit(n - 1)),
                lambda i: F.array_join(F.slice("toks", i, n), " "),
            )
        ).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "x91_time_weighted_avg",
    """
WITH d AS (
  SELECT user_id, value,
         date_diff('second', ts,
                   lead(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id)) AS dur
  FROM events
), f AS (SELECT * FROM d WHERE dur IS NOT NULL)
SELECT user_id,
       CAST(CAST(sum(CAST(value AS DECIMAL(18,6)) * dur) AS DOUBLE)
                  / sum(dur) + 0.0 AS DOUBLE) AS tw_avg,
       CAST(sum(dur) AS BIGINT) AS active_seconds
FROM f GROUP BY user_id HAVING sum(dur) > 0
""",
)
def x91_time_weighted_avg(spark, sf_dir):
    # Time-weighted average of a gauge: each reading is held until the
    # next one, weight = hold duration (whole seconds, floor on both
    # engines).  value routes through DECIMAL(18,6) so the weighted
    # sum is exact/associative regardless of partition order; one
    # window pass + one aggregate share the user_id shuffle.
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = _cat(spark, sf_dir).read("events")
    d = ev.withColumn(
        "dur",
        F.lead(F.unix_timestamp(F.col("ts").cast("timestamp"))).over(w)
        - F.unix_timestamp(F.col("ts").cast("timestamp")),
    ).filter(F.col("dur").isNotNull())
    return (
        d.groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)") * F.col("dur")).alias("wsum"),
            F.sum("dur").alias("tsec"),
        )
        .filter(F.col("tsec") > 0)
        .select(
            "user_id",
            # raw division of an exact decimal sum by an integer sum --
            # bit-identical on both engines, no decimal re-round (kmv
            # discipline)
            (
                F.col("wsum").cast("double") / F.col("tsec") + F.lit(0.0)
            ).alias("tw_avg"),
            F.col("tsec").cast("bigint").alias("active_seconds"),
        )
    )


@register(
    "x92_mode_per_group",
    """
WITH c AS (
  SELECT user_id, event_type, count(*) AS cnt
  FROM events GROUP BY 1, 2
), r AS (
  SELECT user_id, event_type, cnt,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY cnt DESC, event_type) AS rn
  FROM c
)
SELECT user_id, event_type AS modal_type, CAST(cnt AS BIGINT) AS modal_cnt
FROM r WHERE rn = 1
""",
)
def x92_mode_per_group(spark, sf_dir):
    # Per-group mode with a deterministic tie-break (highest count,
    # then lexicographically smallest value): count-then-min_by over a
    # (-cnt, value) struct -- two hash aggregates that REUSE one
    # user_id-compatible partitioning, no window sort at all (compare
    # the oracle's row_number spelling, which sorts every group).
    ev = _cat(spark, sf_dir).read("events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    key = F.struct((-F.col("cnt")).alias("neg"), F.col("event_type").alias("et"))
    return counts.groupBy("user_id").agg(
        F.min_by("event_type", key).alias("modal_type"),
        F.max("cnt").alias("modal_cnt"),
    )


_X89_SESSION_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 1800 SECOND
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 1800 SECOND AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id, sid
"""


@register(
    "x93_winsorized_mean",
    """
WITH b AS (
  SELECT round(quantile_cont(l_extendedprice, 0.01), 6) AS lo,
         round(quantile_cont(l_extendedprice, 0.99), 6) AS hi
  FROM lineitem
)
SELECT l_returnflag,
       CAST(CAST(sum(CAST(least(greatest(l_extendedprice, lo), hi)
                                AS DECIMAL(18,6))) AS DOUBLE)
                  / count(*) + 0.0 AS DOUBLE) AS wins_mean,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem, b
GROUP BY l_returnflag
""",
)
def x93_winsorized_mean(spark, sf_dir):
    # Winsorized (outlier-clipped) mean: clip to global [p01, p99] and
    # average per group.  The bounds are a 2-value broadcast (scalar agg
    # -> crossJoin), ROUNDED to 6 dp before clipping so both engines
    # clip against bit-identical thresholds; clipped values route
    # through DECIMAL so the mean is order-independent.  Exact
    # percentile needs the full column once; at 100 TB swap in
    # percentile_approx whose sketch merges map-side.
    li = _cat(spark, sf_dir).read("lineitem")
    bounds = li.agg(
        F.round(F.expr("percentile(l_extendedprice, 0.01)"), 6).alias("lo"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 6).alias("hi"),
    )
    clipped = li.crossJoin(F.broadcast(bounds)).withColumn(
        "clipped",
        F.least(F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi")).cast(
            "decimal(18,6)"
        ),
    )
    return clipped.groupBy("l_returnflag").agg(
        # raw division of an exact decimal sum by a count -- bit-identical
        # on both engines, no decimal re-round (kmv discipline); the p01/
        # p99 BOUNDS stay rounded (percentile interpolation is noisy)
        (
            F.sum("clipped").cast("double") / F.count(F.lit(1))
            + F.lit(0.0)
        ).alias("wins_mean"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register("x94_streaming_session_window", _X89_SESSION_SQL)
def x94_streaming_session_window(spark, sf_dir):
    # Session windows on a STREAM: readStream -> watermark ->
    # F.session_window groupBy -- identical transform API to the batch
    # x89, and must converge to the same answer once the finite source
    # drains.  Per-user open-session state is bounded by the watermark.
    from dirty_js_etl_spark.streaming.events import (
        run_stream_to_memory,
        session_rate,
    )

    name = f"events_sessions_{next(_STREAM_COUNTER)}"
    return run_stream_to_memory(
        spark, sf_dir, query_name=name, transform=session_rate
    )


@register(
    "x95_peak_concurrency",
    f"""
WITH sess AS ({_X89_SESSION_SQL}),
deltas AS (
  SELECT session_start AS ts, 1 AS delta FROM sess
  UNION ALL
  SELECT session_end AS ts, -1 AS delta FROM sess
),
run AS (
  SELECT ts, sum(delta) OVER (ORDER BY ts, delta
                              ROWS UNBOUNDED PRECEDING) AS conc
  FROM deltas
)
SELECT strftime(ts, '%Y-%m-%d') AS day,
       CAST(max(conc) AS INT) AS peak_concurrency
FROM run GROUP BY 1
""",
)
def x95_peak_concurrency(spark, sf_dir):
    # Peak concurrent sessions per day, sweep-line style: sessions
    # (native session_window) become +1/-1 boundary events, a running
    # sum is the live concurrency, per-day max is the answer.  Ties
    # sort (ts, delta) so a session ending exactly as another starts
    # never overlaps; equal-delta ties can permute but every prefix
    # within a tie group moves monotonically, so the max is invariant.
    # The running sum is a distributed prefix sum (operators/ranking.py):
    # range-partitioned local sweeps + per-partition carry offsets --
    # integer deltas are associative-exact, no single sort partition.
    from dirty_js_etl_spark.operators.ranking import with_global_prefix_sum

    ev = _cat(spark, sf_dir).read("events")
    sess = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("s"), F.col("w.end").alias("e"))
    )
    deltas = sess.select(
        F.col("s").alias("ts"), F.lit(1).alias("delta")
    ).unionAll(sess.select(F.col("e").alias("ts"), F.lit(-1).alias("delta")))
    run = with_global_prefix_sum(deltas, ["ts", "delta"], "delta", "conc")
    return run.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.max("conc").cast("int").alias("peak_concurrency"))


