"""As-of join: constructed-geometry correctness (ties, no-match, cross
checks against the sessionizer) and plan shape (one shuffle, no
nested-loop join)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dirty_js_etl_spark.operators.asof import asof_join


@pytest.fixture(scope="module")
def quotes(spark):
    # (key, time, quote)
    return spark.createDataFrame(
        [
            (1, 10, "a"),
            (1, 20, "b"),
            (2, 15, "x"),
        ],
        "k int, t int, q string",
    )


@pytest.fixture(scope="module")
def trades(spark):
    return spark.createDataFrame(
        [
            (1, 5),   # before any quote -> NULL
            (1, 10),  # tie with quote@10 -> 'a' (snapshot applies at t)
            (1, 15),  # -> 'a'
            (1, 25),  # -> 'b'
            (2, 14),  # before x -> NULL
            (2, 99),  # -> 'x'
        ],
        "k int, t int",
    )


def test_backward_asof_semantics(spark, quotes, trades):
    out = asof_join(trades, quotes, on="k", left_time="t", right_time="t")
    got = {(r["k"], r["t"]): r["q"] for r in out.collect()}
    assert got == {
        (1, 5): None,
        (1, 10): "a",
        (1, 15): "a",
        (1, 25): "b",
        (2, 14): None,
        (2, 99): "x",
    }


def test_payload_clash_rejected(spark, quotes):
    with pytest.raises(ValueError, match="clash"):
        asof_join(quotes, quotes, on="k", left_time="t", right_time="t")


def test_event_session_assignment_consistent(spark, catalog):
    """Every event lands in a session, and per-session event counts from
    the as-of assignment equal the sessionizer's own n_events."""
    from dirty_js_etl_spark.operators.events import session_stats

    events = catalog.read("events")
    sessions = session_stats(events, gap_minutes=30)
    assigned = asof_join(
        events.select("event_id", "user_id", "ts"),
        sessions.select("user_id", "session_start", "session_id"),
        on="user_id",
        left_time="ts",
        right_time="session_start",
        payload_cols=["session_id"],
    )
    assert assigned.filter(F.col("session_id").isNull()).isEmpty()
    counts = assigned.groupBy("session_id").count()
    bad = (
        counts.join(sessions, "session_id")
        .filter(F.col("count") != F.col("n_events"))
    )
    assert bad.isEmpty()


def test_no_nested_loop_join(spark, quotes, trades):
    plan = (
        asof_join(trades, quotes, on="k", left_time="t", right_time="t")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_forward_asof_picks_next_at_or_after(spark):
    from pyspark.sql import Row

    from dirty_js_etl_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [Row(k=1, t=10), Row(k=1, t=25), Row(k=1, t=40), Row(k=2, t=5)],
        "k long, t long",
    )
    right = spark.createDataFrame(
        [Row(k=1, rt=10, v="a"), Row(k=1, rt=30, v="b")],
        "k long, rt long, v string",
    )
    out = {
        (r.k, r.t): r.v
        for r in asof_join(
            left, right, on="k", left_time="t", right_time="rt",
            payload_cols=["v"], direction="forward",
        ).collect()
    }
    # t=10 matches the same-instant snapshot, t=25 the next one,
    # t=40 has nothing after it, k=2 has no right rows at all
    assert out == {(1, 10): "a", (1, 25): "b", (1, 40): None, (2, 5): None}


def test_tiebreak_resolves_equal_timestamps(spark):
    """Two right rows sharing (key, ts): the one with the smallest
    tiebreak column wins in BOTH directions — the semantics of the oracles'
    ``ORDER BY ts, event_id LIMIT 1`` (without the tiebreaker the running fill
    picks whichever row the shuffle ordered last)."""
    left = spark.createDataFrame(
        [(1, 10), (1, 30)], "k long, t long"
    )
    right = spark.createDataFrame(
        # eid 7 and 3 at the same instant t=20; eid 9 alone at t=20 for k=2
        [(1, 20, 7, "high"), (1, 20, 3, "low"), (1, 5, 1, "early")],
        "k long, rt long, eid long, v string",
    )
    back = {
        (r.k, r.t): r.v
        for r in asof_join(
            left, right, on="k", left_time="t", right_time="rt",
            payload_cols=["v"], tiebreak_cols=["eid"],
        ).collect()
    }
    # t=10: only the t=5 row precedes; t=30: latest is the t=20 pair,
    # min eid (3, 'low') must win deterministically
    assert back == {(1, 10): "early", (1, 30): "low"}
    fwd = {
        (r.k, r.t): r.v
        for r in asof_join(
            left, right, on="k", left_time="t", right_time="rt",
            payload_cols=["v"], direction="forward", tiebreak_cols=["eid"],
        ).collect()
    }
    # t=10: next is the t=20 pair, min eid wins; t=30: nothing after
    assert fwd == {(1, 10): "low", (1, 30): None}


def test_tiebreak_col_must_exist(spark):
    df = spark.range(1).select(F.col("id").alias("k"), F.col("id").alias("t"))
    with pytest.raises(ValueError, match="tiebreak"):
        asof_join(df, df, on="k", left_time="t", right_time="t",
                  payload_cols=[], tiebreak_cols=["nope"])


def test_asof_direction_validated(spark):
    import pytest as _pt

    from dirty_js_etl_spark.operators.asof import asof_join

    df = spark.range(1).select(
        F.col("id").alias("k"), F.col("id").alias("t")
    )
    with _pt.raises(ValueError):
        asof_join(df, df, on="k", left_time="t", right_time="t",
                  payload_cols=[], direction="sideways")


def test_tolerance_nulls_stale_matches(spark, quotes, trades):
    # tolerance = 6s: trade@15 is 5s after quote@10 (kept), trade@25 is
    # 5s after quote@20 (kept), trade@99 is 84s after quote@15 (nulled)
    out = asof_join(
        trades, quotes, on="k", left_time="t", right_time="t",
        tolerance_seconds=6,
    )
    got = {(r["k"], r["t"]): r["q"] for r in out.collect()}
    assert got == {
        (1, 5): None,
        (1, 10): "a",
        (1, 15): "a",
        (1, 25): "b",
        (2, 14): None,
        (2, 99): None,  # stale beyond tolerance
    }


def test_tolerance_zero_keeps_exact_ties_only(spark, quotes, trades):
    out = asof_join(
        trades, quotes, on="k", left_time="t", right_time="t",
        tolerance_seconds=0,
    )
    got = {(r["k"], r["t"]): r["q"] for r in out.collect()}
    assert got[(1, 10)] == "a"  # exact-time snapshot survives tol=0
    assert got[(1, 15)] is None and got[(1, 25)] is None


def test_bucketed_equals_plain_asof(spark, catalog):
    from dirty_js_etl_spark.operators.asof import asof_join, asof_join_bucketed
    from dirty_js_etl_spark.operators.events import session_stats

    events = catalog.read("events")
    sessions = session_stats(events, gap_minutes=30).select(
        "user_id", "session_start", "session_id"
    )
    left = events.select("event_id", "user_id", "ts")
    kw = dict(on="user_id", left_time="ts", right_time="session_start",
              payload_cols=["session_id"])
    plain = asof_join(left, sessions, **kw)
    # bucket small enough that boundary handoff is exercised constantly
    bucketed = asof_join_bucketed(left, sessions, bucket_seconds=900, **kw)
    a = sorted((r["event_id"], r["session_id"]) for r in plain.collect())
    b = sorted((r["event_id"], r["session_id"]) for r in bucketed.collect())
    assert a == b


def test_bucketed_semantics_and_ties(spark, quotes, trades):
    from dirty_js_etl_spark.operators.asof import asof_join_bucketed

    # bucket of 8 s splits the int-second timeline across buckets;
    # includes empty-bucket handoff (trade@99 reaches back to quote@15)
    out = asof_join_bucketed(
        trades, quotes, on="k", left_time="t", right_time="t",
        bucket_seconds=8,
    )
    got = {(r["k"], r["t"]): r["q"] for r in out.collect()}
    assert got == {
        (1, 5): None,
        (1, 10): "a",
        (1, 15): "a",
        (1, 25): "b",
        (2, 14): None,
        (2, 99): "x",
    }


def test_bucketed_tiebreak_smallest_wins(spark):
    from dirty_js_etl_spark.operators.asof import asof_join_bucketed

    right = spark.createDataFrame(
        [(1, 10, 7, "late"), (1, 10, 3, "early")],
        "k int, t int, rid int, q string",
    )
    left = spark.createDataFrame([(1, 11)], "k int, t int")
    out = asof_join_bucketed(
        left, right, on="k", left_time="t", right_time="t",
        payload_cols=["q"], tiebreak_cols=["rid"], bucket_seconds=4,
    )
    assert out.collect()[0]["q"] == "early"


def test_null_payload_matched_wholesale(spark):
    # the winning right row is matched as a ROW: a NULL payload column in
    # it stays NULL (pandas merge_asof semantics) instead of falling back
    # to an older right row's value — and therefore agrees with the
    # bucketed variant's boundary handoff
    from dirty_js_etl_spark.operators.asof import asof_join, asof_join_bucketed

    right = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 100.0, "first"),
            (1, "2024-01-01 11:00:00", None, "second"),  # newest: NULL px
        ],
        "k int, t string, px double, tag string",
    ).select("k", F.col("t").cast("timestamp").alias("t"), "px", "tag")
    left = spark.createDataFrame(
        [(1, "2024-01-01 12:00:00")], "k int, t string"
    ).select("k", F.col("t").cast("timestamp").alias("t"))
    plain = asof_join(left, right, on="k", left_time="t", right_time="t").collect()[0]
    assert plain["tag"] == "second"
    assert plain["px"] is None  # NOT 100.0 from the older row
    bucketed = asof_join_bucketed(
        left, right, on="k", left_time="t", right_time="t"
    ).collect()[0]
    assert (bucketed["tag"], bucketed["px"]) == (plain["tag"], plain["px"])


def test_tolerance_and_payload_from_same_row(spark):
    # staleness is measured on the SAME right row that supplies the
    # payload: a fresh-but-NULL newer row must not let an older stale
    # row's value slip past the tolerance filter
    from dirty_js_etl_spark.operators.asof import asof_join

    right = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 100.0),  # stale by 2h
            (1, "2024-01-01 11:59:30", None),   # fresh, NULL payload
        ],
        "k int, t string, px double",
    ).select("k", F.col("t").cast("timestamp").alias("t"), "px")
    left = spark.createDataFrame(
        [(1, "2024-01-01 12:00:00")], "k int, t string"
    ).select("k", F.col("t").cast("timestamp").alias("t"))
    row = asof_join(
        left, right, on="k", left_time="t", right_time="t",
        tolerance_seconds=60,
    ).collect()[0]
    # the within-tolerance match row carries NULL px; the stale 100.0
    # must not leak through
    assert row["px"] is None
