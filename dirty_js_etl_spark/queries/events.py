"""Event-stream queries (``operators/events.py``, ``asof.py``,
``timeseries.py``, ``ranges.py``, ``scd.py``, ``streaming/`` and
``sources/pyds.py``).

Sessionization (batch, native window and stateful streaming), as-of
joins (backward, forward, nearest, tolerance, bucketed), range and
interval joins, grid fills, SCD2 history and time travel, and the
Structured Streaming paths: rollups, dedup, upserts, joins, CMS and a
custom Python data source. Each streaming query drives its stream to
completion (memory sink + ``processAllAvailable``) under a query name
made unique by ``_STREAM_COUNTER``.
"""

from __future__ import annotations

import itertools as _it

from pyspark.sql import functions as F

from dirty_js_etl_spark.queries._shared import _cat, register


@register(
    "x11_events_json",
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val "
    "FROM events",
)
def x11_events_json(spark, sf_dir):
    from dirty_js_etl_spark.operators.events import extract_props

    events = _cat(spark, sf_dir).read("events")
    out = extract_props(events, {"k_val": "k"})
    return out.select("event_id", F.col("k_val").cast("int").alias("k_val"))


_X12_CTE = """
WITH ordered AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), flagged AS (
  SELECT user_id, ts, value,
         -- date_diff counts second-boundary crossings = whole(ts) -
         -- whole(prev), exactly Spark's unix_timestamp subtraction;
         -- fractional epoch() would disagree on sub-second straddles
         CASE WHEN prev_ts IS NULL
                OR date_diff('second', prev_ts, ts) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM ordered
), numbered AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
"""


_X12_SQL = _X12_CTE + """
SELECT user_id, CAST(user_id * 1000000 + session_seq AS BIGINT) AS session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM numbered GROUP BY user_id, session_id
"""


@register("x12_sessionize", _X12_SQL)
def x12_sessionize(spark, sf_dir):
    from dirty_js_etl_spark.operators.events import session_stats

    events = _cat(spark, sf_dir).read("events")
    return session_stats(events, gap_minutes=30)


# as-of join oracle: DuckDB's native ASOF JOIN (the inequality is the
# as-of condition, the equality is the match key) against the same
# derived session-start table
_X21_SQL = _X12_CTE.rstrip() + """,
sessions AS (
  SELECT user_id, CAST(user_id * 1000000 + session_seq AS BIGINT) AS session_id,
         min(ts) AS session_start
  FROM numbered GROUP BY user_id, session_id
)
SELECT e.event_id, e.user_id, s.session_id
FROM events e ASOF LEFT JOIN sessions s
  ON e.user_id = s.user_id AND e.ts >= s.session_start
"""


@register("x21_asof_join", _X21_SQL)
def x21_asof_join(spark, sf_dir):
    # custom operator Spark lacks: backward as-of join (union + one
    # key-shuffle + running last-fill — no range-join explosion); here
    # assigning every event to the session whose start most recently
    # precedes it
    from dirty_js_etl_spark.operators.asof import asof_join
    from dirty_js_etl_spark.operators.events import session_stats

    events = _cat(spark, sf_dir).read("events")
    sessions = session_stats(events, gap_minutes=30).select(
        "user_id", "session_start", "session_id"
    )
    out = asof_join(
        events.select("event_id", "user_id", "ts"),
        sessions,
        on="user_id",
        left_time="ts",
        right_time="session_start",
        payload_cols=["session_id"],
    )
    return out.select("event_id", "user_id", "session_id")


# range-join oracle: plain BETWEEN predicate join (DuckDB plans IEJoin)
_X27_SQL = _X12_CTE.rstrip() + """,
sessions AS (
  SELECT user_id, CAST(user_id * 1000000 + session_seq AS BIGINT) AS session_id,
         min(ts) AS session_start, max(ts) AS session_end
  FROM numbered GROUP BY user_id, session_id
)
SELECT e.event_id, e.user_id, s.session_id
FROM events e JOIN sessions s
  ON e.user_id = s.user_id
 AND e.ts BETWEEN s.session_start AND s.session_end
"""


@register("x27_range_join", _X27_SQL)
def x27_range_join(spark, sf_dir):
    # point-in-interval join via time-bucketed equi-join (no nested
    # loop); events matched into their containing session interval
    from dirty_js_etl_spark.operators.events import session_stats
    from dirty_js_etl_spark.operators.ranges import range_join

    events = _cat(spark, sf_dir).read("events")
    sessions = session_stats(events, gap_minutes=30).select(
        "user_id", "session_start", "session_end", "session_id"
    )
    out = range_join(
        events.select("event_id", "user_id", "ts"),
        sessions,
        on="user_id",
        left_time="ts",
        start_col="session_start",
        end_col="session_end",
    )
    return out.select("event_id", "user_id", "session_id")


_X13_SQL = """
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


@register("x13_hourly_rollup", _X13_SQL)
def x13_hourly_rollup(spark, sf_dir):
    from dirty_js_etl_spark.operators.events import hourly_rollup

    events = _cat(spark, sf_dir).read("events")
    return hourly_rollup(events)


@register("x14_streaming_rollup", _X13_SQL)
def x14_streaming_rollup(spark, sf_dir):
    # same oracle as the batch rollup: the streaming path must converge to
    # the batch answer once the finite source drains (tumbling windows
    # align with date_trunc('hour'))
    from dirty_js_etl_spark.streaming.events import run_stream_to_memory

    name = f"events_rollup_{next(_STREAM_COUNTER)}"
    return run_stream_to_memory(spark, sf_dir, query_name=name)


_STREAM_COUNTER = _it.count()


@register("x17_stateful_sessionize", _X12_SQL)
def x17_stateful_sessionize(spark, sf_dir):
    # custom stateful operator (applyInPandasWithState): per-user gap
    # sessions carried across micro-batches; converges to the batch
    # sessionize oracle when the finite stream drains
    from dirty_js_etl_spark.streaming.sessions import run_sessionize_stream

    name = f"sessions_stream_{next(_STREAM_COUNTER)}"
    return run_sessionize_stream(spark, sf_dir, query_name=name)


_X31_SQL = """
WITH ranked AS (
  SELECT user_id, ts, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, ts, event_type, value FROM ranked WHERE rn = 1
"""


@register("x31_streaming_upsert", _X31_SQL)
def x31_streaming_upsert(spark, sf_dir):
    # CDC-shaped composition: foreachBatch reduces each micro-batch to
    # latest-per-user and MERGEs it into the running destination; the
    # drained stream must equal the batch latest-per-user answer
    from dirty_js_etl_spark.streaming.upsert import run_stream_upsert

    name = f"stream_upsert_{next(_STREAM_COUNTER)}"
    return run_stream_upsert(spark, sf_dir, query_name=name)


@register(
    "x44_scd2_history",
    """
SELECT user_id, value, ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       CAST(row_number() OVER w AS BIGINT) AS version,
       lead(ts) OVER w IS NULL AS is_current
FROM events WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def x44_scd2_history(spark, sf_dir):
    # SCD type-2 dimension history from the change stream: every
    # purchase event becomes a version row with a validity interval
    from dirty_js_etl_spark.operators.scd import scd2_history

    events = _cat(spark, sf_dir).read("events")
    hist = scd2_history(
        events.filter(F.col("event_type") == "purchase"),
        key_col="user_id",
        ts_col="ts",
        value_cols=["value"],
        tie_break="event_id",
    )
    return hist.withColumn("version", F.col("version").cast("long"))


_X58_SQL = """
WITH ranked AS (
  SELECT user_id, date_trunc('hour', ts) AS hour, value,
         row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
), hourly AS (
  SELECT user_id, hour, value AS hour_value FROM ranked WHERE rn = 1
), bounds AS (
  SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM hourly GROUP BY user_id
), grid AS (
  SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM bounds
)
SELECT g.user_id, g.hour,
       last_value(h.hour_value IGNORE NULLS)
         OVER (PARTITION BY g.user_id ORDER BY g.hour) AS filled_value
FROM grid g LEFT JOIN hourly h
  ON g.user_id = h.user_id AND g.hour = h.hour
"""


@register("x58_hourly_grid_fill", _X58_SQL)
def x58_hourly_grid_fill(spark, sf_dir):
    from dirty_js_etl_spark.operators.timeseries import hourly_grid_fill

    events = _cat(spark, sf_dir).read("events")
    return hourly_grid_fill(events)


@register(
    "x59_streaming_dedup",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def x59_streaming_dedup(spark, sf_dir):
    # first-arrival-wins key dedup over the stream; converges to the
    # batch SELECT DISTINCT when the finite source drains
    from dirty_js_etl_spark.streaming.dedup import run_stream_dedup

    name = f"events_dedup_{next(_STREAM_COUNTER)}"
    return run_stream_dedup(
        spark, sf_dir, ["user_id", "event_type"], query_name=name
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


@register(
    "x106_asof_forward",
    """
SELECT l.event_id, l.user_id,
       nxt.nv AS next_purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') l
LEFT JOIN LATERAL (
  SELECT r.value AS nv
  FROM events r
  WHERE r.user_id = l.user_id AND r.event_type = 'purchase'
    AND r.ts >= l.ts
  ORDER BY r.ts, r.event_id LIMIT 1
) nxt ON TRUE
""",
)
def x106_asof_forward(spark, sf_dir):
    # FORWARD as-of join: each click gains the value of the user's
    # next purchase at-or-after it -- conversion attribution without a
    # range-join explosion.  Same union + single key-shuffle + running
    # fill as the backward x21, just ordered in reverse time; DuckDB
    # has no forward ASOF so the oracle spells it as a LATERAL top-1.
    from dirty_js_etl_spark.operators.asof import asof_join

    ev = _cat(spark, sf_dir).read("events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("value").alias("next_purchase_value"),
        "event_id",
    )
    out = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_time="ts",
        right_time="p_ts",
        payload_cols=["next_purchase_value"],
        direction="forward",
        tiebreak_cols=["event_id"],
    )
    return out.select("event_id", "user_id", "next_purchase_value")


@register(
    "x109_stream_stream_join",
    """
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       c.user_id, p.value
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
""",
)
def x109_stream_stream_join(spark, sf_dir):
    # STREAM-STREAM interval join (clicks x purchases within 2 h),
    # both sides streamed with watermarks; must equal the batch
    # BETWEEN join once the finite source drains.  The time-bound
    # condition is what lets Spark evict per-side buffered state.
    from dirty_js_etl_spark.streaming.events import stream_stream_attribution

    name = f"click_purchase_{next(_STREAM_COUNTER)}"
    return stream_stream_attribution(spark, sf_dir, query_name=name)


@register(
    "x114_date_spine_zero_fill",
    """
WITH spine AS (
  SELECT CAST(UNNEST(generate_series(DATE '1995-01-01', DATE '1995-06-30',
                                     INTERVAL 1 DAY)) AS DATE) AS day
), o AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n
  FROM orders
  WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate <= DATE '1995-06-30'
  GROUP BY 1
)
SELECT strftime(spine.day, '%Y-%m-%d') AS day,
       CAST(coalesce(o.n, 0) AS BIGINT) AS n_orders
FROM spine LEFT JOIN o ON spine.day = o.day
""",
)
def x114_date_spine_zero_fill(spark, sf_dir):
    # Zero-filled daily order counts over a CUSTOM PYTHON DATA SOURCE
    # date spine (sources/pyds.py): absent days surface as explicit
    # zeros -- the calendar-join primitive dashboards and
    # interpolation need.  The spine generates partition-parallel on
    # executors (never materialized on the driver) and both join
    # inputs are tiny after the pre-agg, so the join broadcasts.
    from dirty_js_etl_spark.sources.pyds import register_date_spine

    register_date_spine(spark)
    spine = (
        spark.read.format("date_spine")
        .option("start", "1995-01-01")
        .option("end", "1995-06-30")
        .option("partitions", "4")
        .load()
    )
    o = (
        _cat(spark, sf_dir)
        .read("orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("o_orderdate") <= F.lit("1995-06-30").cast("date"))
        )
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        spine.join(F.broadcast(o), "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_orders"),
        )
    )


@register(
    "x139_asof_nearest",
    """
SELECT l.event_id, l.user_id, nearest.nv AS nearest_purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') l
LEFT JOIN LATERAL (
  SELECT r.value AS nv
  FROM events r
  WHERE r.user_id = l.user_id AND r.event_type = 'purchase'
  ORDER BY abs(date_diff('microseconds', l.ts, r.ts)),
           r.ts, r.event_id
  LIMIT 1
) nearest ON TRUE
""",
)
def x139_asof_nearest(spark, sf_dir):
    # NEAREST as-of join (completes the family: backward x21, forward
    # x106): each click takes the purchase closest in time, either
    # direction, earlier-on-tie.  ONE union + ONE key-shuffle: both the
    # backward and forward candidates come from two mirrored frames over
    # the SAME partitioned sort (no composed second asof_join — round
    # 3's double-pass spelling re-read the same parquet relation through
    # two union branches and tripped a plan-id-sensitive analyzer flake
    # under the driver).  Candidate picks are struct
    # argmin/argmax so equal-timestamp purchases resolve by event_id
    # exactly like the oracle's ORDER BY abs(dt), ts, event_id.
    from pyspark.sql import Window

    ev = _cat(spark, sf_dir).read("events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(0).alias("side"),
        "event_id",
        F.lit(None).cast("bigint").alias("p_eid"),
        F.lit(None).cast("double").alias("p_val"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("side"),
        F.lit(None).cast("bigint").alias("event_id"),
        F.col("event_id").alias("p_eid"),
        F.col("value").alias("p_val"),
    )
    u = clicks.unionByName(purchases)
    base = Window.partitionBy("user_id").orderBy(
        F.col("t").asc(), F.col("side").desc()
    )
    wb = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    # backward: max struct(ts, -eid) = latest purchase at-or-before,
    # min event_id on equal ts; forward: min struct(ts, eid) = earliest
    # purchase after, min event_id on equal ts. A same-ts purchase sorts
    # BEFORE the click (side desc), so it lands in the backward frame
    # with distance 0 — the <= pick below keeps it, matching the oracle.
    b_cand = F.when(
        F.col("side") == 1,
        F.struct(
            F.col("t").alias("ts"),
            (-F.col("p_eid")).alias("neg_eid"),
            F.col("p_val").alias("val"),
        ),
    )
    f_cand = F.when(
        F.col("side") == 1,
        F.struct(
            F.col("t").alias("ts"),
            F.col("p_eid").alias("eid"),
            F.col("p_val").alias("val"),
        ),
    )
    filled = u.select(
        "user_id",
        "t",
        "side",
        "event_id",
        F.max(b_cand).over(wb).alias("b"),
        F.min(f_cand).over(wf).alias("f"),
    ).filter(F.col("side") == 0)
    # microsecond-exact distances via unix_micros (no float); the casts
    # are no-ops on LTZ and rescue NTZ driver sessions
    back_d = F.unix_micros(F.col("t").cast("timestamp")) - F.unix_micros(
        F.col("b.ts").cast("timestamp")
    )
    fwd_d = F.unix_micros(F.col("f.ts").cast("timestamp")) - F.unix_micros(
        F.col("t").cast("timestamp")
    )
    pick_back = F.col("b").isNotNull() & (
        F.col("f").isNull() | (back_d <= fwd_d)
    )
    return filled.select(
        "event_id",
        "user_id",
        F.when(pick_back, F.col("b.val"))
        .otherwise(F.col("f.val"))
        .alias("nearest_purchase_value"),
    )


@register(
    "x150_streaming_cms",
    """
WITH cnt AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY event_type
), hrows AS (SELECT * FROM (VALUES (0),(1),(2),(3)) r(j)),
buck AS (
  SELECT r.j,
         CAST('0x' || substring(
                md5(CAST(r.j AS VARCHAR) || ':' || c.event_type), 1, 8)
              AS BIGINT) % 8 AS b,
         c.event_type, c.c
  FROM cnt c CROSS JOIN hrows r
), sketch AS (
  SELECT j, b, CAST(sum(c) AS BIGINT) AS s FROM buck GROUP BY j, b
)
SELECT bu.event_type, CAST(min(sk.s) AS BIGINT) AS est_count
FROM buck bu JOIN sketch sk ON bu.j = sk.j AND bu.b = sk.b
GROUP BY bu.event_type
""",
)
def x150_streaming_cms(spark, sf_dir):
    # Streaming sketch rollup: each micro-batch folds its event-type
    # counts into a constant-size CMS grid via foreachBatch (cell-wise
    # sum -- the mergeability that makes sketches the streaming-native
    # frequency state).  Because the merge is exactly associative over
    # integer counts, the drained stream's grid is bit-identical to a
    # one-shot batch build, so a STREAMING approximate operator gets a
    # full hash-checked SQL oracle (the DuckDB grid from the same
    # portable md5 buckets).  State stays <= depth*width rows no
    # matter how much data flows -- contrast per-key stateful counting
    # whose state tracks cardinality.
    from dirty_js_etl_spark.streaming.sketch import run_stream_cms

    name = f"stream_cms_{next(_STREAM_COUNTER)}"
    return run_stream_cms(
        spark, sf_dir, depth=4, width=8, query_name=name
    )


@register(
    "x158_asof_tolerance",
    """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
)
SELECT c.event_id, c.user_id, c.ts,
       p.p_ts AS last_purchase_ts, p.p_value AS last_purchase_value
FROM clicks c LEFT JOIN LATERAL (
  SELECT ts AS p_ts, value AS p_value
  FROM purchases p
  WHERE p.user_id = c.user_id AND p.ts <= c.ts
    AND p.ts >= c.ts - INTERVAL 30 MINUTE
  ORDER BY p.ts DESC, p.event_id LIMIT 1
) p ON TRUE
""",
)
def x158_asof_tolerance(spark, sf_dir):
    # as-of join with max-staleness tolerance (pandas merge_asof
    # `tolerance`): matches older than 30 minutes null out. Same single
    # union+window plan as x21 — the tolerance is a map-side post-filter
    # over the filled match time, not a second join.
    from dirty_js_etl_spark.operators.asof import asof_join

    events = _cat(spark, sf_dir).read("events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
        F.col("event_id").alias("p_eid"),
    )
    out = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_time="ts",
        right_time="ts",
        payload_cols=["p_ts", "p_value"],
        tiebreak_cols=["p_eid"],
        tolerance_seconds=1800,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("p_ts").alias("last_purchase_ts"),
        F.col("p_value").alias("last_purchase_value"),
    )


@register(
    "x164_streaming_scd2",
    """
SELECT user_id, value, ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       CAST(row_number() OVER w AS BIGINT) AS version,
       lead(ts) OVER w IS NULL AS is_current
FROM events WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def x164_streaming_scd2(spark, sf_dir):
    # Streaming SCD2 maintenance: foreachBatch chains each micro-batch
    # locally, closes the running history's open rows, and appends with
    # shifted version numbers — converging (under the per-key in-order
    # CDC contract) to the batch x44 history, which is literally the
    # oracle here. Multi-batch increments are pinned by
    # tests/test_streaming_scd.py.
    from dirty_js_etl_spark.streaming.scd import run_stream_scd2

    name = f"stream_scd2_{next(_STREAM_COUNTER)}"
    return run_stream_scd2(spark, sf_dir, query_name=name)


@register(
    "x168_interval_overlap_join",
    _X12_CTE.rstrip() + """,
sessions AS (
  SELECT user_id, CAST(user_id * 1000000 + session_seq AS BIGINT) AS session_id,
         min(ts) AS session_start, max(ts) AS session_end
  FROM numbered GROUP BY user_id, session_id
), bad_hours AS (
  SELECT date_trunc('hour', ts) AS h
  FROM events WHERE event_type = 'error'
  GROUP BY 1 HAVING count(*) >= 6
)
SELECT s.session_id, CAST(count(*) AS BIGINT) AS n_bad_hours
FROM sessions s JOIN bad_hours b
  ON s.session_start <= b.h + INTERVAL 3599 SECOND
 AND s.session_end >= b.h
GROUP BY s.session_id
""",
)
def x168_interval_overlap_join(spark, sf_dir):
    # interval × interval OVERLAP join (x27 is point-in-interval): user
    # sessions × globally error-heavy hours, via the two-sided bucket
    # decomposition — both interval sets explode into covered hour
    # buckets, equi-join on the bucket, exact predicate verifies, one
    # DISTINCT collapses multi-bucket overlaps. Spark has no interval
    # join operator; the naive spelling is a broadcast-nested-loop O(n·m).
    from dirty_js_etl_spark.operators.events import session_stats
    from dirty_js_etl_spark.operators.ranges import interval_overlap_join

    events = _cat(spark, sf_dir).read("events")
    sessions = session_stats(events, gap_minutes=30).select(
        "session_id", "session_start", "session_end"
    )
    bad = (
        events.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 6)
        .select(
            F.col("h").alias("h_start"),
            (F.col("h") + F.expr("INTERVAL 3599 SECONDS")).alias("h_end"),
        )
    )
    out = interval_overlap_join(
        sessions,
        bad,
        on=None,
        left_start="session_start",
        left_end="session_end",
        right_start="h_start",
        right_end="h_end",
    )
    return out.groupBy("session_id").agg(
        F.count(F.lit(1)).alias("n_bad_hours")
    )


@register("x171_asof_bucketed", _X21_SQL)
def x171_asof_bucketed(spark, sf_dir):
    # the SKEW-PROOF as-of: same session-assignment semantics (and the
    # same DuckDB ASOF JOIN oracle) as x21, but windows partition on
    # (user, time-bucket) instead of (user) — a whale user's sort is
    # bounded by its per-bucket rows; earlier buckets hand their latest
    # session forward through one bucket-grain window per key.
    from dirty_js_etl_spark.operators.asof import asof_join_bucketed
    from dirty_js_etl_spark.operators.events import session_stats

    events = _cat(spark, sf_dir).read("events")
    sessions = session_stats(events, gap_minutes=30).select(
        "user_id", "session_start", "session_id"
    )
    out = asof_join_bucketed(
        events.select("event_id", "user_id", "ts"),
        sessions,
        on="user_id",
        left_time="ts",
        right_time="session_start",
        payload_cols=["session_id"],
        bucket_seconds=6 * 3600,
    )
    return out.select("event_id", "user_id", "session_id")


@register(
    "x176_scd2_time_travel",
    """
WITH hist AS (
  SELECT user_id, value, ts AS valid_from,
         lead(ts) OVER w AS valid_to
  FROM events WHERE event_type = 'purchase'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, value, valid_from
FROM hist
WHERE valid_from <= TIMESTAMP '2024-01-15 12:00:00'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 12:00:00')
""",
)
def x176_scd2_time_travel(spark, sf_dir):
    # AS-OF-timestamp snapshot reconstruction from the SCD2 history
    # (x44): the row version whose validity interval covers T — the
    # query every point-in-time ML feature backfill runs. One
    # key-partitioned window builds the history; the snapshot filter is
    # map-side. (On Delta/Iceberg this maps to native time travel; over
    # plain parquet the SCD2 relation IS the time machine.)
    from dirty_js_etl_spark.operators.scd import scd2_history

    events = _cat(spark, sf_dir).read("events")
    t = F.lit("2024-01-15 12:00:00").cast("timestamp")
    hist = scd2_history(
        events.filter(F.col("event_type") == "purchase"),
        key_col="user_id",
        ts_col="ts",
        value_cols=["value"],
        tie_break="event_id",
    )
    return hist.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    ).select("user_id", "value", "valid_from")


@register(
    "x184_custom_stream_source",
    """
SELECT CAST(seq % 10 AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum((seq * 37) % 100) AS DOUBLE) AS total
FROM (SELECT UNNEST(range(1000)) AS seq)
GROUP BY 1
""",
)
def x184_custom_stream_source(spark, sf_dir):
    # Custom PYTHON STREAMING data source (Spark 4
    # SimpleDataSourceStreamReader): a deterministic replay stream whose
    # rows are pure integer arithmetic of the offset — so a batch SQL
    # oracle reproduces the ENTIRE drained stream bit-for-bit, hash-
    # checking the streaming-source plumbing (offsets, micro-batching,
    # recovery reads) end to end. Completes the connector surface: x114
    # is the batch custom source, this is the streaming one.
    from dirty_js_etl_spark.sources.pyds import register_tick_replay

    register_tick_replay(spark)
    name = f"tick_replay_{next(_STREAM_COUNTER)}"
    df = (
        spark.readStream.format("tick_replay")
        .option("n_total", "1000")
        .option("batch_size", "250")
        .load()
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("amount").alias("total"),
        )
    )
    q = (
        df.writeStream.outputMode("complete")
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
    "x186_conversion_latency",
    """
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), views AS (
  SELECT user_id, ts FROM events WHERE event_type = 'view'
), lat AS (
  SELECT p.user_id,
         epoch_us(p.ts) - epoch_us(v.v_ts) AS wait_us
  FROM purchases p JOIN LATERAL (
    SELECT ts AS v_ts FROM views v
    WHERE v.user_id = p.user_id AND v.ts <= p.ts
    ORDER BY v.ts DESC LIMIT 1
  ) v ON TRUE
)
SELECT CAST(count(*) AS BIGINT) AS n_conversions,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(trunc(quantile_cont(wait_us, 0.5)) AS BIGINT) AS p50_wait_us,
       CAST(trunc(quantile_cont(wait_us, 0.9)) AS BIGINT) AS p90_wait_us
FROM lat
""",
)
def x186_conversion_latency(spark, sf_dir):
    # Funnel TIMING (x63 counts conversions; this measures them): per
    # purchase, the wait since the user's most recent prior view via
    # the union+window as-of (one key shuffle — no per-pair LATERAL
    # explosion, which is how the oracle spells it), then exact wait
    # percentiles. Ties: views and purchases at the same instant count
    # as converted-at-zero, matching the oracle's v.ts <= p.ts.
    from dirty_js_etl_spark.operators.asof import asof_join

    ev = _cat(spark, sf_dir).read("events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts"), F.col("ts").alias("v_ts")
    )
    matched = asof_join(
        purchases,
        views,
        on="user_id",
        left_time="ts",
        right_time="ts",
        payload_cols=["v_ts"],
    ).filter(F.col("v_ts").isNotNull())
    lat = matched.select(
        "user_id",
        (F.unix_micros(F.col("ts").cast("timestamp"))
         - F.unix_micros(F.col("v_ts").cast("timestamp"))).alias("wait_us"),
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.count_distinct("user_id").alias("n_users"),
        F.expr("CAST(percentile(wait_us, 0.5) AS BIGINT)").alias("p50_wait_us"),
        F.expr("CAST(percentile(wait_us, 0.9) AS BIGINT)").alias("p90_wait_us"),
    )
