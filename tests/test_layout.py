"""Z-order clustered write layout: files own disjoint key ranges, rows
are sorted within files, and 2-D predicates touch a bounded file subset
— the data-skipping contract write_clustered promises at scale."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from dirty_js_etl_spark.operators.layout import rank_bucketize, write_clustered


def test_clustered_files_have_disjoint_sorted_z_ranges(spark, catalog, tmp_path):
    li = catalog.read("lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    out = str(tmp_path / "clustered")
    write_clustered(li, out, ["l_partkey", "l_suppkey"], n_files=6, bits=6)

    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert 1 < len(files) <= 6
    ranges = []
    total = 0
    for f in files:
        pdf = spark.read.parquet(f).select("__z").toPandas()
        if len(pdf) == 0:
            continue
        total += len(pdf)
        # sorted within the file
        assert (pdf["__z"].diff().dropna() >= 0).all(), f
        ranges.append((pdf["__z"].min(), pdf["__z"].max()))
    assert total == li.count()
    # disjoint (or boundary-touching) ranges across files
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (hi1, lo2)


def test_two_dim_predicate_prunes_file_subset(spark, catalog, tmp_path):
    # a tight 2-D box in (partkey, suppkey) must map to a contiguous
    # Z-interval touching a strict subset of files — the reason to
    # Z-order instead of sorting on one column
    li = catalog.read("lineitem").select("l_partkey", "l_suppkey")
    out = str(tmp_path / "clustered2")
    write_clustered(li, out, ["l_partkey", "l_suppkey"], n_files=6, bits=6)

    full = spark.read.parquet(out)
    lo_p, hi_p = 1, 50
    lo_s, hi_s = 1, 5
    hit = full.filter(
        (F.col("l_partkey").between(lo_p, hi_p))
        & (F.col("l_suppkey").between(lo_s, hi_s))
    )
    z_lo, z_hi = (
        hit.agg(F.min("__z"), F.max("__z")).first()
        if hit.count()
        else (None, None)
    )
    assert z_lo is not None
    files_touched = {
        f
        for f in glob.glob(f"{out}/part-*.parquet")
        if not spark.read.parquet(f)
        .filter(F.col("__z").between(z_lo, z_hi))
        .isEmpty()
    }
    assert len(files_touched) < 6  # strict subset: pruning is possible


def test_timestamp_cluster_column_supported(spark, catalog, tmp_path):
    """Timestamps cluster via an order-preserving epoch proxy
    (approxQuantile is numeric-only, which used to throw): bucket
    ranks must be monotone in event time."""
    ev = catalog.read("events").select("event_id", "ts", "user_id")
    ranked = ev.select(
        "ts", rank_bucketize(ev, "ts", bits=4).alias("rank")
    )
    # monotone: ordering by ts never decreases the bucket rank
    from pyspark.sql import Window

    w = Window.partitionBy(F.lit(1)).orderBy("ts")
    bad = ranked.withColumn("prev", F.lag("rank").over(w)).filter(
        F.col("prev").isNotNull() & (F.col("rank") < F.col("prev"))
    )
    assert bad.isEmpty()
    # ranks actually spread (equi-depth over 16 buckets)
    assert ranked.select("rank").distinct().count() > 8
    # and the full clustered write works with a mixed numeric+timestamp key
    out = str(tmp_path / "clustered_ts")
    write_clustered(ev, out, ["ts", "user_id"], n_files=4, bits=4)
    assert len(glob.glob(f"{out}/part-*.parquet")) > 1


def test_string_cluster_column_rejected(spark, catalog):
    docs = catalog.read("documents")
    with pytest.raises(ValueError, match="order-preserving"):
        rank_bucketize(docs, "lang", bits=4)


def test_compact_files_reduces_count_preserves_rows(spark, catalog, tmp_path):
    import glob

    from dirty_js_etl_spark.operators.layout import compact_files

    src = str(tmp_path / "fragmented")
    docs = catalog.read("documents")
    docs.repartition(40).write.parquet(src)  # 40 micro-files
    n_before = len(glob.glob(src + "/*.parquet"))
    assert n_before >= 30
    rows_before = sorted(r["doc_id"] for r in spark.read.parquet(src).collect())

    n_target = compact_files(spark, src, target_mb=128)
    n_after = len(glob.glob(src + "/*.parquet"))
    assert n_after == n_target == 1  # tiny fixture fits one 128 MB file
    rows_after = sorted(r["doc_id"] for r in spark.read.parquet(src).collect())
    assert rows_after == rows_before


def test_compact_files_keeps_sort_order(spark, catalog, tmp_path):
    from dirty_js_etl_spark.operators.layout import compact_files

    src = str(tmp_path / "frag2")
    catalog.read("documents").repartition(10).write.parquet(src)
    compact_files(spark, src, target_mb=128, sort_within_by=["doc_id"])
    pdf = spark.read.parquet(src).select("doc_id").toPandas()
    assert list(pdf["doc_id"]) == sorted(pdf["doc_id"])
