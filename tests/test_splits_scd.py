"""Deterministic hash splits + SCD2 history + semi/anti/pivot/percentile
query-level checks on the sf0.001 fixtures."""

from __future__ import annotations

from pyspark.sql import functions as F

from dirty_js_etl_spark.operators.scd import scd2_history
from dirty_js_etl_spark.operators.splits import hash_bucket, train_val_test_split

SF_DIR = "/root/testdata/sf0.001"


def test_split_is_deterministic_and_partition_invariant(spark, catalog):
    docs = catalog.read("documents")
    a = train_val_test_split(docs, "doc_id").select("doc_id", "split")
    b = train_val_test_split(docs.repartition(7), "doc_id").select(
        "doc_id", "split"
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_split_fractions_roughly_hold(spark):
    df = spark.range(0, 20000).withColumnRenamed("id", "k")
    out = train_val_test_split(df, "k", (0.8, 0.1, 0.1))
    frac = {
        r["split"]: r["n"] / 20000
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert abs(frac["train"] - 0.8) < 0.02
    assert abs(frac["val"] - 0.1) < 0.02
    assert abs(frac["test"] - 0.1) < 0.02


def test_hash_bucket_range(spark):
    df = spark.range(0, 1000)
    stats = df.select(hash_bucket(F.col("id"), 50).alias("b")).agg(
        F.min("b"), F.max("b"), F.count_distinct("b")
    ).first()
    assert stats[0] >= 0 and stats[1] < 50 and stats[2] == 50


def test_scd2_intervals_chain(spark, catalog):
    ev = catalog.read("events").filter(F.col("event_type") == "purchase")
    hist = scd2_history(
        ev, key_col="user_id", ts_col="ts", value_cols=["value"],
        tie_break="event_id",
    )
    # exactly one current row per key
    cur = hist.groupBy("user_id").agg(
        F.sum(F.col("is_current").cast("int")).alias("n_cur")
    )
    assert cur.filter(F.col("n_cur") != 1).count() == 0
    # valid_to of version v equals valid_from of version v+1 (no gaps)
    a = hist.alias("a")
    b = hist.alias("b")
    joined = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.version") + 1 == F.col("b.version")),
    )
    bad = joined.filter(F.col("a.valid_to") != F.col("b.valid_from")).count()
    assert bad == 0
    # row count preserved (every change becomes a version)
    assert hist.count() == ev.count()


def test_semi_anti_join_complement(spark, catalog):
    # semi + anti partition the left side exactly
    c = catalog.read("customer")
    o = catalog.read("orders").select("o_custkey")
    semi = c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").count()
    anti = c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").count()
    assert semi + anti == c.count()


def test_pivot_counts_match_long_counts(spark, catalog):
    from dirty_js_etl_spark.queries import all_queries

    ev = catalog.read("events")
    wide = all_queries()["x39_pivot_events"](spark, SF_DIR)
    types = ["click", "error", "purchase", "signup", "view"]
    total_wide = wide.select(
        sum(F.sum(t) for t in types).alias("n")
    ).first()["n"]
    assert total_wide == ev.count()


def test_percentiles_bounded_by_min_max(spark, catalog):
    from dirty_js_etl_spark.queries import all_queries

    out = all_queries()["x40_group_percentiles"](spark, SF_DIR).collect()
    li = catalog.read("lineitem").agg(
        F.min("l_quantity"), F.max("l_quantity")
    ).first()
    for r in out:
        assert li[0] <= r["p50"] <= r["p90"] <= r["p99"] <= li[1]
