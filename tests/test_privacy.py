"""Semantics of the privacy-release gates (operators/privacy.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dirty_js_etl_spark.operators.privacy import (
    k_anonymity_report,
    l_diversity,
)

K = 5


def _report(catalog):
    return k_anonymity_report(
        catalog.read("customer"),
        geo_col="c_nationkey",
        seg_col="c_mktsegment",
        band=F.floor(F.col("c_acctbal") / 1000).cast("int"),
        hierarchy=catalog.read("nation").select("n_nationkey", "n_regionkey"),
        child_col="n_nationkey",
        parent_col="n_regionkey",
        k=K,
    ).cache()


def test_k_anonymity_every_released_class_reaches_k(catalog):
    rep = _report(catalog)
    assert rep.filter((F.col("level") != "suppressed") & (F.col("n") < K)).count() == 0
    assert rep.filter((F.col("level") == "suppressed") & (F.col("n") >= K)).count() == 0
    # fine rows keep their band; generalized rows drop it
    assert rep.filter((F.col("level") == "fine") & F.col("bal_band").isNull()).count() == 0
    assert rep.filter((F.col("level") != "fine") & F.col("bal_band").isNotNull()).count() == 0


def test_k_anonymity_conserves_every_record(catalog):
    rep = _report(catalog)
    total = rep.agg(F.sum("n")).collect()[0][0]
    assert total == catalog.read("customer").count()


def test_k_anonymity_unmapped_geo_key_is_conserved(catalog, spark):
    # A geo key absent from the hierarchy must not vanish from the
    # report: it cannot merge with siblings, so it stays
    # under its own key and reports as 'suppressed'.
    cust = catalog.read("customer").withColumn(
        "c_nationkey",
        F.when(F.col("c_custkey") % 31 == 0, F.lit(99)).otherwise(
            F.col("c_nationkey")
        ),
    )
    rep = k_anonymity_report(
        cust,
        geo_col="c_nationkey",
        seg_col="c_mktsegment",
        band=F.floor(F.col("c_acctbal") / 1000).cast("int"),
        hierarchy=catalog.read("nation").select("n_nationkey", "n_regionkey"),
        child_col="n_nationkey",
        parent_col="n_regionkey",
        k=K,
    ).cache()
    total = rep.agg(F.sum("n")).collect()[0][0]
    assert total == cust.count()
    orphan = rep.filter(F.col("geo") == 99).collect()
    assert orphan, "unmapped geo key dropped from the report"
    assert all(r["level"] == "suppressed" for r in orphan if r["n"] < K)


def test_k_anonymity_orphan_colliding_with_parent_key_never_rides_coarse(
    catalog, spark
):
    # key spaces may overlap: an unmapped CHILD key numerically equal
    # to a real PARENT key must form its own suppressed group, not be
    # summed into that parent's coarse class (code-review r8 finding).
    # Orphan nation 3 by dropping it from the hierarchy: its fine
    # classes keep geo=3, which equals region key 3.
    ORPHAN = 3
    cust = catalog.read("customer")

    def report(hier):
        return k_anonymity_report(
            cust,
            geo_col="c_nationkey",
            seg_col="c_mktsegment",
            band=F.floor(F.col("c_acctbal") / 1000).cast("int"),
            hierarchy=hier.select("n_nationkey", "n_regionkey"),
            child_col="n_nationkey",
            parent_col="n_regionkey",
            k=K,
        ).cache()

    nation = catalog.read("nation")
    full = report(nation)
    holed = report(nation.filter(F.col("n_nationkey") != ORPHAN))
    # conservation holds with the hole in the hierarchy
    assert holed.agg(F.sum("n")).collect()[0][0] == cust.count()
    # nation 3's sub-k records contributed to region 3's coarse class
    # in the full report; once orphaned they may only LEAVE it — if
    # they instead merged into geo=3's coarse group (the bug), its n
    # would stay equal or grow
    def coarse_n(rep):
        return {
            r["segment"]: r["n"]
            for r in rep.filter(
                (F.col("geo") == ORPHAN) & (F.col("level") == "coarse")
            ).collect()
        }

    before, after = coarse_n(full), coarse_n(holed)
    assert before, "fixture should have sub-k classes in region 3"
    for seg, n in after.items():
        assert n <= before.get(seg, 0)
    # and the orphan's records surface as suppressed rows under geo=3
    sup = holed.filter(
        (F.col("geo") == ORPHAN) & (F.col("level") == "suppressed")
    ).count()
    assert sup > 0


def test_l_diversity_bounds(catalog):
    cust = catalog.read("customer").withColumn(
        "bal_band", F.floor(F.col("c_acctbal") / 1000).cast("int")
    )
    ld = l_diversity(cust, ["c_nationkey", "c_mktsegment"], "bal_band")
    bad = ld.filter(
        (F.col("l_div") > F.col("n"))
        | (F.col("l_div") < 1)
        | (F.col("diverse") != (F.col("l_div") >= 2))
    ).count()
    assert bad == 0


def test_t_closeness_hand_computed(spark):
    # global: s=0 x5, s=1 x2 (N=7, m=2); NULL sensitive rows excluded.
    # A(0,0): cums 4,0 -> emd 4/14 = 2/7 > 1/5 -> not close
    # C(0,0,0,1): cums 1,0 -> emd 1/28 -> close
    # D(1): cums -5,0 -> emd 5/7 -> not close
    from dirty_js_etl_spark.operators.privacy import t_closeness

    df = spark.createDataFrame(
        [("A", 0), ("A", 0),
         ("C", 0), ("C", 0), ("C", 0), ("C", 1), ("C", None),
         ("D", 1)],
        "k string, s int",
    )
    got = {r.k: r for r in t_closeness(df, ["k"], "s").collect()}
    assert (got["A"].emd_num, got["A"].emd_den, got["A"].tclose) == (4, 14, False)
    assert abs(got["A"].emd - 2 / 7) < 1e-12
    assert (got["C"].n, got["C"].emd_num, got["C"].emd_den, got["C"].tclose) == (
        4, 1, 28, True,
    )
    assert (got["D"].emd_num, got["D"].emd_den, got["D"].tclose) == (5, 7, False)


def test_t_closeness_null_keyed_class(spark):
    # A NULL quasi-identifier key forms its own class and
    # must match its cls rows through the null-safe grid join — before
    # the fix __c zero-filled and the class reported the maximal EMD.
    # Global: s=0 x2, s=1 x2 (N=4, m=2). NULL class = {0, 1}: exactly
    # global-shaped, so emd_num must be 0, not spuriously maximal.
    from dirty_js_etl_spark.operators.privacy import t_closeness

    df = spark.createDataFrame(
        [("A", 0), ("A", 1), (None, 0), (None, 1)], "k string, s int"
    )
    got = {r.k: r for r in t_closeness(df, ["k"], "s").collect()}
    assert len(got) == 2
    assert got[None].n == 2
    assert got[None].emd_num == 0 and got[None].emd == 0.0 and got[None].tclose
    assert got["A"].emd_num == 0 and got["A"].tclose


def test_t_closeness_single_valued_domain(spark):
    # m = 1: every class trivially matches the global distribution
    from dirty_js_etl_spark.operators.privacy import t_closeness

    df = spark.createDataFrame(
        [("A", 9), ("B", 9), ("B", 9)], "k string, s int"
    )
    got = {r.k: r for r in t_closeness(df, ["k"], "s").collect()}
    assert all(r.tclose and r.emd == 0.0 and r.emd_den == 0 for r in got.values())


def test_t_closeness_global_shaped_class_is_zero(spark):
    # a class whose distribution equals the global one has emd exactly 0
    from dirty_js_etl_spark.operators.privacy import t_closeness

    rows = [("A", 0), ("A", 0), ("A", 1)] + [("B", 0), ("B", 0), ("B", 1)]
    df = spark.createDataFrame(rows, "k string, s int")
    for r in t_closeness(df, ["k"], "s").collect():
        assert r.emd_num == 0 and r.emd == 0.0 and r.tclose
