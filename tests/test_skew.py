"""Skew utilities: salted results must equal unsalted results exactly;
the salted plan must join on (key, salt)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dirty_js_etl_spark.operators.skew import salted_join, two_phase_count_distinct


@pytest.fixture(scope="module")
def skewed(spark):
    # 90% of rows share key 7 — the classic whale key
    return spark.range(0, 5000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7))
        .otherwise(F.col("id") % 100)
        .alias("k"),
        (F.col("id") % 37).alias("v"),
    )


@pytest.fixture(scope="module")
def dim(spark):
    return spark.range(0, 100).select(
        F.col("id").alias("k"), F.concat(F.lit("n"), F.col("id")).alias("name")
    )


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_inner_join_equals_plain(spark, skewed, dim):
    plain = skewed.join(dim, "k")
    salted = salted_join(skewed, dim, "k", n_salts=8)
    assert _sorted(salted.select(*plain.columns)) == _sorted(plain)


def test_salted_left_join_equals_plain(spark, skewed, dim):
    small = dim.filter(F.col("k") < 50)  # unmatched big rows exist
    plain = skewed.join(small, "k", "left")
    salted = salted_join(skewed, small, "k", n_salts=4, how="left")
    assert _sorted(salted.select(*plain.columns)) == _sorted(plain)


def test_salted_join_rejects_right(spark, skewed, dim):
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(skewed, dim, "k", how="full_outer")


def test_salt_spreads_hot_key(spark, skewed, dim):
    out = salted_join(skewed, dim, "k", n_salts=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan  # join key includes the salt


def test_two_phase_count_distinct(spark, skewed):
    exact = (
        skewed.groupBy("k").agg(F.count_distinct("v").alias("n_distinct"))
    )
    salted = two_phase_count_distinct(skewed, ["k"], "v", n_salts=16)
    assert _sorted(salted) == _sorted(exact)


# ---------------------------------------------------------------------------
# Planted-whale-key stress: a key holding ~30% of the
# sf0.1 events must not pin ~30% of rows to one reducer under the
# skew-proof layouts x30 (salted join) and x171 (bucketed as-of) use.
# Group sizes are the right proxy on a shared box: every row of a key
# (or key+salt / key+bucket) hashes to ONE reducer, so the largest
# group is a hard lower bound on the busiest task's row count —
# task-time itself is noise-dominated at this scale.
# ---------------------------------------------------------------------------


def _planted_whale(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.withColumn(
        "user_id",
        F.when(F.col("event_id") % 10 < 3, F.lit(-1)).otherwise(
            F.col("user_id")
        ),
    )


def test_whale_key_group_bounds_sf01(spark):
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    whale = _planted_whale(spark, sf_dir).cache()
    try:
        n = whale.count()
        # plain layouts put the whale's ~30% share on one reducer
        plain_max = (
            whale.groupBy("user_id").count().agg(F.max("count")).collect()[0][0]
        )
        assert plain_max >= 0.29 * n

        # x30's salted layout: per-row salt spreads the whale n_salts ways
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in whale.columns]), F.lit(8)
        )
        salted_max = (
            whale.withColumn("__s", salt)
            .groupBy("user_id", "__s")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        assert salted_max <= plain_max / 8 * 1.5, (salted_max, plain_max)

        # x171's bucketed layout: (key, hour) groups are bounded by the
        # whale's per-hour traffic (30 days of events -> ~720 buckets)
        bucketed_max = (
            whale.groupBy(
                "user_id", F.date_trunc("hour", F.col("ts").cast("timestamp"))
            )
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        assert bucketed_max <= plain_max / 100, (bucketed_max, plain_max)
    finally:
        whale.unpersist()


def test_whale_key_bucketed_asof_equals_plain(spark):
    # correctness under skew: the bucketed as-of must agree with the
    # plain as-of row-for-row on the planted-whale data (sf0.01)
    from dirty_js_etl_spark.operators.asof import asof_join, asof_join_bucketed

    whale = _planted_whale(spark, "/root/testdata/sf0.01")
    left = whale.select(
        "user_id", F.col("ts").cast("timestamp").alias("t"), "event_id"
    )
    right = (
        whale.filter(F.col("event_id") % 20 == 0)
        .select(
            "user_id",
            F.col("ts").cast("timestamp").alias("rt"),
            F.col("event_id").alias("anchor_id"),
        )
    )
    kw = dict(
        on="user_id", left_time="t", right_time="rt",
        payload_cols=["anchor_id"], tiebreak_cols=["anchor_id"],
    )
    plain = asof_join(left, right, **kw)
    bucketed = asof_join_bucketed(left, right, bucket_seconds=3600, **kw)
    assert _sorted(bucketed.select(*plain.columns)) == _sorted(plain)


# ---------------------------------------------------------------------------
# Adversarial-skew fixture (tools/make_skew_fixture.py):
# one blocking key / join key holding ~10% of the corpus. These pin the
# two claims SCALE.md makes about hot keys: the linkage hot-block caps
# BIND before the quadratic, and AQE's skew-join split actually fires.
# ---------------------------------------------------------------------------


def test_skew_fixture_hot_fractions(catalog):
    from tools.make_skew_fixture import (
        HOT_CUSTKEY,
        HOT_NOUN,
        skew_orders,
        skew_part,
    )

    so = skew_orders(catalog.read("orders"))
    frac = so.filter(F.col("o_custkey") == HOT_CUSTKEY).count() / so.count()
    assert 0.09 <= frac <= 0.12
    sp = skew_part(catalog.read("part"))
    noun = F.split_part(F.col("p_name"), F.lit(" "), F.lit(2))
    hfrac = sp.filter(noun == HOT_NOUN).count() / sp.count()
    assert 0.09 <= hfrac <= 0.12


def test_hot_block_cap_binds_on_skew_fixture(spark):
    # the whale block holds 10% of all DISTINCT record values (the
    # fixture part table can't host this shape — its record-value
    # domain saturates at 384, see skew_records' docstring). The cap
    # must drop the WHOLE whale block before its quadratic join term
    # while every other block still pairs normally — surgical, not
    # global. Measured at 100k records: uncapped 78 s / 8.2M pairs vs
    # capped 18 s / 5.4M pairs (the delta is exactly the whale's
    # 2k²-scale in-block term).
    from dirty_js_etl_spark.operators.linkage import blocked_link_pairs
    from tools.make_skew_fixture import skew_records

    recs = skew_records(spark, 20_000)
    hot_values = recs.filter(F.col("blk") == "hotblock").count()
    assert hot_values == 2_000  # all recs distinct: values = rows
    capped = blocked_link_pairs(
        recs, "rid", "rec", "blk", max_distance=2, max_block_size=1000
    )
    got = capped.collect()
    assert got, "non-hot blocks must still pair"
    # every surviving pair avoids the whale block (ids ≡ 0 mod 10)
    assert not any(r.id_a % 10 == 0 and r.id_b % 10 == 0 for r in got), (
        "a whale-block pair survived the cap"
    )
    # and the whale block is the ONLY thing the cap removed: capped
    # output == uncapped output minus in-whale pairs
    uncapped = blocked_link_pairs(
        recs, "rid", "rec", "blk", max_distance=2
    ).filter(~((F.col("id_a") % 10 == 0) & (F.col("id_b") % 10 == 0)))
    assert capped.count() == uncapped.count()


def test_aqe_skew_split_fires_on_skewed_left_join(spark):
    # SCALE.md claims AQE's skew-join split absorbs hot join keys on the
    # non-broadcastable path; this pins it. The fact table is the
    # skew_orders SHAPE (10% of rows on one FK) at the byte scale where
    # the optimizer engages (2M rows × 64B payload — the sf0.1 orders
    # fixture itself is only ~2MB shuffled, below AQE's internal
    # minimums). Asserts the final adaptive plan carries the skew=true
    # SortMergeJoin marker AND the split preserves exact results.
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(2_000_000).select(
            F.when(F.col("id") % 10 == 0, F.lit(0))
            .otherwise(F.col("id") % 20000)
            .alias("k"),
            F.concat(F.lit("x" * 48), F.col("id").cast("string")).alias("pay"),
        )
        dim = spark.range(20000).select(
            F.col("id").alias("k"), F.col("id").alias("dv")
        )
        j = big.join(dim, "k", "left")
        rows = j.count()
        assert rows == 2_000_000  # left join over a unique dim: no fanout
        j2 = big.join(dim, "k", "left").select("k", "dv")
        j2.collect()
        final = (
            j2._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("== Initial Plan ==")[0]
        )
        assert "skew=true" in final, final[:1500]
        assert "skewed" in final  # the AQEShuffleRead skew split marker
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_salted_join_equals_plain_on_skew_fixture(catalog):
    # the explicit mitigation for the same fixture: salting the skewed
    # orders→customer join must change nothing about the result
    from dirty_js_etl_spark.operators.skew import salted_join
    from tools.make_skew_fixture import skew_orders

    so = skew_orders(catalog.read("orders")).select("o_orderkey", "o_custkey")
    cust = catalog.read("customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plain = so.join(cust, "o_custkey", "left")
    salted = salted_join(so, cust, "o_custkey", how="left")
    assert _sorted(plain.select("o_orderkey", "o_custkey", "c_mktsegment")) == _sorted(
        salted.select("o_orderkey", "o_custkey", "c_mktsegment")
    )


def test_hot_band_bucket_cap_binds_on_skew_docs(spark):
    # the MinHash analog of the whale-block pin:
    # skew_docs plants ONE degenerate band bucket — 10% of docs share a
    # boilerplate text, so their signatures (hence (band, bucket) rows
    # in EVERY band) are identical. The cap must drop exactly that
    # bucket before the candidate self-join while the planted size-2
    # twin buckets still pair. Measured at 30k docs (3k-doc whale):
    # uncapped 11.5 s / 4,498,800 pairs vs capped 2.9 s / 300 pairs —
    # the output delta is exactly the whale's 3000·2999/2 in-bucket
    # quadratic plus nothing (SCALE.md, "Band-index hot-bucket pin").
    from dirty_js_etl_spark.operators.dedup import minhash_lsh_pairs
    from tools.make_skew_fixture import skew_docs

    docs = skew_docs(spark, 2_000)
    kw = dict(num_perm=32, bands=8, jaccard_threshold=0.5)
    capped = minhash_lsh_pairs(
        docs, "doc_id", "text", max_bucket_size=100, **kw
    )
    got = capped.collect()
    twins = {(i - 1, i) for i in range(2_000) if i % 100 == 57}
    assert {(r.id_a, r.id_b) for r in got} == twins  # exact-twin J=1.0
    assert all(r.jaccard == 1.0 for r in got)
    # identity-minus-whale: the cap removed in-whale pairs and NOTHING
    # else (whale ids are ≡ 0 mod 10; twins never are)
    uncapped = minhash_lsh_pairs(
        docs, "doc_id", "text", max_bucket_size=10_000, **kw
    )
    non_whale = {
        (r.id_a, r.id_b)
        for r in uncapped.collect()
        if not (r.id_a % 10 == 0 and r.id_b % 10 == 0)
    }
    assert non_whale == twins


def test_hot_band_bucket_cap_binds_on_lsh_link_pairs(spark):
    # the linkage-LSH analog of the whale-bucket pin: skew_link_records plants
    # ~10% of records as DISTINCT values sharing a 61-char boilerplate (one
    # unique trailing char each) — the shape lsh_link_pairs's value-dedup
    # CANNOT collapse, yet their char-gram minhash signatures agree with
    # (59/60)²≈0.97 probability per band, so one bucket per band holds ~97% of
    # the whale. The cap must drop exactly those hot buckets: whale pairs
    # (levenshtein 1, within max_distance) vanish, while the planted size-2
    # twin buckets still pair. A whale outside the hot bucket sits in a
    # deterministic SINGLETON bucket (its signature carries its own final gram,
    # shared with nothing), so capped == uncapped minus in-whale pairs exactly.
    # Measured at 20k records / 2k-whale (record-level spelling,
    # dedup_values=False): see SCALE.md, "Linkage-LSH whale-bucket pin".
    from dirty_js_etl_spark.operators.linkage import lsh_link_pairs
    from tools.make_skew_fixture import skew_link_records

    recs = skew_link_records(spark, 600)
    kw = dict(max_distance=2, num_perm=32, bands=16)
    capped = lsh_link_pairs(recs, "rid", "rec", max_bucket_size=20, **kw)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert got, "non-hot buckets must still pair"
    # no whale pair survives the cap (whale ids are ≡ 0 mod 10)
    assert not any(a % 10 == 0 and b % 10 == 0 for a, b in got), (
        "a whale-bucket pair survived the cap"
    )
    # every planted twin is found (ids 57, 157, ... pair with id−1)
    twins = {(i - 1, i) for i in range(600) if i % 100 == 57}
    assert twins <= got
    # and the whale buckets are the ONLY thing the cap removed
    uncapped = {
        (r.id_a, r.id_b)
        for r in lsh_link_pairs(
            recs, "rid", "rec", max_bucket_size=100_000, **kw
        ).collect()
    }
    assert got == {
        (a, b) for a, b in uncapped if not (a % 10 == 0 and b % 10 == 0)
    }


def test_hot_index_bucket_cap_guards_probe_on_skew_docs(spark):
    # the same degenerate bucket on the x216 index-probe path: the cap
    # binds at INDEX BUILD (build_near_dup_index), so an ingest doc
    # probing the whale bucket finds no candidates — per-probe cost can
    # never go quadratic in a hot bucket's population — while probes of
    # healthy buckets are untouched (capped probe == uncapped probe
    # minus whale-targeted rows).
    from pyspark.sql import functions as F

    from dirty_js_etl_spark.operators.dedup import (
        build_near_dup_index,
        probe_near_dup_index,
    )
    from tools.make_skew_fixture import skew_docs

    corpus = skew_docs(spark, 2_000)
    boiler = (
        "terms of service apply to every page on this site please read"
    )
    twin_text = [
        r.text for r in corpus.filter(F.col("doc_id") == 56).collect()
    ][0]
    ingest = spark.createDataFrame(
        [
            (100_000, boiler),     # probes the whale bucket
            (100_001, twin_text),  # probes a healthy size-2 bucket
            (100_002, "utterly novel ingest words nothing shared here"),
        ],
        "doc_id bigint, text string",
    )
    kw = dict(num_perm=32, bands=8)
    capped_idx = build_near_dup_index(
        corpus, "doc_id", "text", max_bucket_size=100, **kw
    )
    got = {
        r.new_id: (r.dup_of, r.jaccard)
        for r in probe_near_dup_index(
            ingest, capped_idx, "doc_id", "text",
            jaccard_threshold=0.5, **kw,
        ).collect()
    }
    # whale probe: nothing (bucket dropped at build); twin probe: argmax
    # tie between corpus 56 and 57 -> min id; novel: nothing
    assert got == {100_001: (56, 1.0)}
    uncapped_idx = build_near_dup_index(
        corpus, "doc_id", "text", max_bucket_size=10_000, **kw
    )
    ungot = {
        r.new_id: (r.dup_of, r.jaccard)
        for r in probe_near_dup_index(
            ingest, uncapped_idx, "doc_id", "text",
            jaccard_threshold=0.5, **kw,
        ).collect()
    }
    assert ungot == {100_000: (0, 1.0), 100_001: (56, 1.0)}
