"""Invariants of the derived partsupp dimension (queries/tpch.py)
that the TPC-H Q2/Q9/Q11/Q20 analogs rely on."""

from __future__ import annotations

from pyspark.sql import functions as F

from dirty_js_etl_spark.queries.tpch import (
    _derived_partsupp,
    _ps_availqty,
    _ps_supplycost,
    _sql_availqty,
    _sql_supplycost,
)

SF_DIR = "/root/testdata/sf0.001"


def test_partsupp_four_distinct_suppliers_per_part(catalog):
    ps = _derived_partsupp(catalog)
    per_part = ps.groupBy("ps_partkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("ps_suppkey").alias("n_sup"),
    )
    bad = per_part.filter((F.col("n") != 4) | (F.col("n_sup") != 4)).count()
    assert bad == 0
    # (partkey, suppkey) is a primary key
    n = ps.count()
    assert ps.select("ps_partkey", "ps_suppkey").distinct().count() == n


def test_partsupp_attribute_ranges(catalog):
    ps = _derived_partsupp(catalog)
    row = ps.agg(
        F.min("ps_availqty").alias("qmin"),
        F.max("ps_availqty").alias("qmax"),
        F.min("ps_supplycost").alias("cmin"),
        F.max("ps_supplycost").alias("cmax"),
    ).collect()[0]
    assert 1 <= row.qmin and row.qmax <= 9999
    assert 1.0 <= row.cmin and row.cmax <= 1000.0


def test_pair_functions_match_duckdb_bit_for_bit(spark, duck):
    # the Spark column functions and the SQL spellings must agree on
    # the PAIR key (this is what lets Q9 price lineitem's own pairs
    # with no partsupp join) — compare on real lineitem pairs
    pairs = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .select("l_partkey", "l_suppkey")
        .distinct()
        .limit(200)
    )
    got = {
        (r.l_partkey, r.l_suppkey): (r.q, r.c)
        for r in pairs.select(
            "l_partkey",
            "l_suppkey",
            _ps_availqty(F.col("l_partkey"), F.col("l_suppkey")).alias("q"),
            _ps_supplycost(F.col("l_partkey"), F.col("l_suppkey")).alias("c"),
        ).collect()
    }
    rows = duck.execute(
        f"""
        SELECT l_partkey, l_suppkey,
               {_sql_availqty('l_partkey', 'l_suppkey')} AS q,
               {_sql_supplycost('l_partkey', 'l_suppkey')} AS c
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        """
    ).fetchall()
    oracle = {(pk, sk): (q, c) for pk, sk, q, c in rows}
    for key, val in got.items():
        assert oracle[key][0] == val[0]
        assert oracle[key][1] == val[1]  # identical IEEE bits


def test_partsupp_survives_noncontiguous_keys(spark, catalog):
    # the sf1 replicas offset supplier keys by 1e7 — the rank-table
    # mapping must still hand every part 4 REAL supplier keys
    sup = catalog.read("supplier").withColumn(
        "s_suppkey", F.col("s_suppkey") + 10_000_000
    )

    class _Cat:
        def read(self, name):
            return sup if name == "supplier" else catalog.read(name)

    ps = _derived_partsupp(_Cat())
    real = set(r.s_suppkey for r in sup.select("s_suppkey").collect())
    derived = set(r.ps_suppkey for r in ps.select("ps_suppkey").distinct().collect())
    assert derived <= real and len(derived) > 0
