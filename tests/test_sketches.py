"""Sketch aggregations: approximate answers must sit inside their
declared error bounds of the exact answers (the correctness contract a
SQL oracle can't express for engine-specific sketches)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dirty_js_etl_spark.queries import all_queries
from tests.conftest import SF_DIR

SF = "/root/testdata/sf0.001"  # same dir as the conftest catalog fixture


def test_sketches_within_bounds(spark, catalog):
    approx = {
        r["event_type"]: r
        for r in all_queries()["x35b_sketch_estimates"](spark, SF).collect()
    }
    events = catalog.read("events")
    exact = {
        r["event_type"]: r
        for r in events.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("users"),
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.95)").alias("p95"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for et, a in approx.items():
        e = exact[et]
        # HLL++ at rsd=2%: allow 5x margin for the small fixture
        assert abs(a["approx_users"] - e["users"]) <= max(0.10 * e["users"], 2)
        # quantile sketches: within a small value-space neighborhood
        assert abs(a["p50"] - e["p50"]) <= 0.05 * max(abs(e["p50"]), 1)
        assert abs(a["p95"] - e["p95"]) <= 0.05 * max(abs(e["p95"]), 1)


def test_sketch_rollup_merge_error_bounded(spark):
    from dirty_js_etl_spark.queries import all_queries
    from tests.conftest import SF_DIR

    got = {
        r["week_idx"]: r["approx_weekly_users"]
        for r in all_queries()["x144_sketch_rollup"](spark, SF_DIR).collect()
    }
    from pyspark.sql import functions as F

    from dirty_js_etl_spark.catalog import fixture_catalog

    ev = fixture_catalog(spark, SF_DIR).read("events")

    exact = {
        r["week_idx"]: r["n"]
        for r in ev.groupBy(
            (
                F.datediff(
                    F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
                )
                / F.lit(7)
            )
            .cast("int")
            .alias("week_idx")
        )
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for w, est in got.items():
        assert abs(est - exact[w]) / exact[w] <= 0.05, (w, est, exact[w])


def test_kll_rollup_error_bound_vs_exact(spark, catalog):
    from dirty_js_etl_spark import queries as Q

    sf = SF_DIR
    approx = {
        r["week"]: (r["n"], r["p50_approx"], r["p95_approx"])
        for r in Q._REGISTRY["x182_kll_quantile_rollup"].fn(spark, sf).collect()
    }
    ev = catalog.read("events").filter(F.col("event_type") == "purchase")
    exact = {
        r["week"]: (r["n"], r["p50"], r["p95"])
        for r in ev.groupBy(F.weekofyear(F.col("ts").cast("date")).alias("week"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.95)").alias("p95"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for wk, (n, p50, p95) in exact.items():
        an, a50, a95 = approx[wk]
        assert an == n  # KLL n is exact
        # KLL rank error default ~1.7%; value-space tolerance: the
        # approximate quantile must sit within the exact p45–p55 /
        # p90–p99 bands
        # robust value-space check: within exact p40–p60 / p88–p100 bands
        band = ev.filter(
            F.weekofyear(F.col("ts").cast("date")) == wk
        ).agg(
            F.expr("percentile(value, 0.40)").alias("lo"),
            F.expr("percentile(value, 0.60)").alias("hi"),
            F.expr("percentile(value, 0.88)").alias("lo95"),
            F.expr("percentile(value, 1.0)").alias("hi95"),
        ).collect()[0]
        assert band["lo"] <= a50 <= band["hi"], (wk, a50, band)
        assert band["lo95"] <= a95 <= band["hi95"], (wk, a95, band)


def test_theta_overlap_error_bound_vs_exact(spark, catalog):
    from dirty_js_etl_spark import queries as Q

    got = Q._REGISTRY["x183_theta_audience_overlap"].fn(spark, SF_DIR).collect()[0]
    ev = catalog.read("events")
    viewers = {
        r[0] for r in ev.filter("event_type = 'view'").select("user_id").distinct().collect()
    }
    purch = {
        r[0] for r in ev.filter("event_type = 'purchase'").select("user_id").distinct().collect()
    }
    def close(a, e):
        return abs(a - e) <= max(2, 0.05 * e)
    assert close(got["viewers"], len(viewers))
    assert close(got["purchasers"], len(purch))
    assert close(got["overlap_approx"], len(viewers & purch))
    assert close(got["view_only_approx"], len(viewers - purch))


def test_portable_quantile_twin_tracks_exact_and_native(spark, catalog):
    # The x214 bottom-k twin must (a) sit inside the
    # same value-space bands as the exact percentiles and (b) agree with
    # the native KLL rollup (x182) closely enough that the twin really
    # is a stand-in for the sketch it replays.
    from dirty_js_etl_spark import queries as Q

    sf = SF_DIR
    twin = {
        r["week"]: (r["n"], r["p50_approx"], r["p95_approx"])
        for r in Q._REGISTRY["x214_quantile_rollup_portable"]
        .fn(spark, sf)
        .collect()
    }
    ev = catalog.read("events").filter(
        (F.col("event_type") == "purchase")
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
        & F.col("event_id").isNotNull()
    )
    wk_col = F.date_format(
        F.date_trunc("week", F.col("ts")), "yyyy-MM-dd"
    ).alias("week")
    exact = {
        r["week"]: (r["n"], r["p50"], r["p95"])
        for r in ev.groupBy(wk_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.95)").alias("p95"),
        )
        .collect()
    }
    assert set(twin) == set(exact)
    for wk, (n, p50, p95) in exact.items():
        tn, t50, t95 = twin[wk]
        assert tn == n  # merged daily counts are exact
        band = (
            ev.filter(
                F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd")
                == wk
            )
            .agg(
                F.expr("percentile(value, 0.35)").alias("lo"),
                F.expr("percentile(value, 0.65)").alias("hi"),
                F.expr("percentile(value, 0.85)").alias("lo95"),
                F.expr("percentile(value, 1.0)").alias("hi95"),
            )
            .collect()[0]
        )
        assert band["lo"] <= t50 <= band["hi"], (wk, t50, band)
        assert band["lo95"] <= t95 <= band["hi95"], (wk, t95, band)


def test_portable_theta_twin_tracks_exact_and_native(spark, catalog):
    # the x215 KMV twin vs exact set cardinalities AND vs the native
    # theta demo (x183) — the twins and natives must tell one story.
    from dirty_js_etl_spark import queries as Q

    twin = (
        Q._REGISTRY["x215_theta_overlap_portable"]
        .fn(spark, SF_DIR)
        .collect()[0]
    )
    native = (
        Q._REGISTRY["x183_theta_audience_overlap"]
        .fn(spark, SF_DIR)
        .collect()[0]
    )
    ev = catalog.read("events")
    viewers = {
        r[0]
        for r in ev.filter("event_type = 'view' AND user_id IS NOT NULL")
        .select("user_id")
        .distinct()
        .collect()
    }
    purch = {
        r[0]
        for r in ev.filter("event_type = 'purchase' AND user_id IS NOT NULL")
        .select("user_id")
        .distinct()
        .collect()
    }

    # KMV with k=256: ~1/sqrt(k-2) ≈ 6.3% std error; allow 4 sigma
    def close(a, e, tol=0.25):
        return abs(a - e) <= max(3, tol * e)

    assert close(twin["viewers_est"], len(viewers))
    assert close(twin["purchasers_est"], len(purch))
    assert close(twin["union_est"], len(viewers | purch))
    assert close(twin["overlap_est"], len(viewers & purch))
    assert close(twin["view_only_est"], len(viewers - purch))
    # twin vs native: both estimate the same quantities
    assert close(twin["viewers_est"], native["viewers"])
    assert close(twin["purchasers_est"], native["purchasers"])
    assert close(twin["overlap_est"], native["overlap_approx"])


def test_bottomk_sample_is_mergeable(spark):
    # the mergeability contract x214 leans on: k smallest of a union ==
    # k smallest of the per-part k smallest (bottom-k sampling)
    from dirty_js_etl_spark.operators.dedup import portable_token_hash60
    from dirty_js_etl_spark.operators.sketch import bottomk_rows

    df = spark.createDataFrame(
        [(i, i % 3, float(i * 7 % 50)) for i in range(200)],
        "rid bigint, part int, value double",
    )
    draw = portable_token_hash60(F.col("rid").cast("string"))
    k = 16
    # one-shot sample over everything (one group)
    direct = bottomk_rows(
        df.withColumn("g", F.lit(1)), ["g"], draw, k, ["value"]
    )
    # per-part samples merged, then re-ranked
    per_part = bottomk_rows(df, ["part"], draw, k, ["value"])
    merged = bottomk_rows(
        per_part.withColumn("g", F.lit(1)),
        ["g"], F.col("__draw"), k, ["value"],
    )
    a = sorted(r["__draw"] for r in direct.collect())
    b = sorted(r["__draw"] for r in merged.collect())
    assert a == b and len(a) == k


def test_kmv_estimate_exact_below_saturation(spark):
    # below k distinct members the sample IS the set: est must be exact
    from dirty_js_etl_spark.operators.sketch import kmv_estimate, kmv_table

    df = spark.createDataFrame(
        [(i % 40, "g") for i in range(500)], "m bigint, g string"
    )
    sk = kmv_table(df, ["g"], F.col("m"), k=256)
    out = kmv_estimate(sk, ["g"], 256).collect()[0]
    assert out["ns"] == 40 and out["est_distinct"] == 40.0
