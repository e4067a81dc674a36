"""Python data sources (sources/pyds.py): the parallel date-spine batch
source and the tick-replay stream reader's recovery path."""

from __future__ import annotations


class TestDateSpineDataSource:
    def test_generates_inclusive_range_in_parallel(self, spark):
        from dirty_js_etl_spark.sources.pyds import register_date_spine

        register_date_spine(spark)
        df = (
            spark.read.format("date_spine")
            .option("start", "2024-02-27")
            .option("end", "2024-03-02")
            .option("partitions", "3")
            .load()
        )
        days = sorted(str(r.day) for r in df.collect())
        assert days == [
            "2024-02-27", "2024-02-28", "2024-02-29",  # leap day
            "2024-03-01", "2024-03-02",
        ]
        assert df.rdd.getNumPartitions() == 3

    def test_partition_count_capped_by_days(self, spark):
        from dirty_js_etl_spark.sources.pyds import register_date_spine

        register_date_spine(spark)
        df = (
            spark.read.format("date_spine")
            .option("start", "2024-01-01")
            .option("end", "2024-01-02")
            .option("partitions", "16")
            .load()
        )
        assert df.count() == 2
        assert df.rdd.getNumPartitions() <= 2

    def test_rejects_inverted_range(self, spark):
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import PySparkException

        from dirty_js_etl_spark.sources.pyds import register_date_spine

        register_date_spine(spark)
        df = (
            spark.read.format("date_spine")
            .option("start", "2024-01-02")
            .option("end", "2024-01-01")
            .load()
        )
        import pytest as _pt

        with _pt.raises((Py4JJavaError, PySparkException, Exception)):
            df.collect()


def test_tick_replay_batches_and_recovery_read(spark):
    # the stream emits in 250-row micro-batches; readBetweenOffsets (the
    # recovery path) must reproduce exactly the same rows as read()
    from dirty_js_etl_spark.sources.pyds import TickReplayStreamReader

    r = TickReplayStreamReader({"n_total": "600", "batch_size": "250"})
    off = r.initialOffset()
    seen = []
    for expect_n in (250, 250, 100, 0):
        rows, nxt = r.read(off)
        rows = list(rows)
        assert len(rows) == expect_n
        seen.extend(rows)
        replay = list(r.readBetweenOffsets(off, nxt))
        assert replay == rows  # recovery == original
        off = nxt
    assert [s for s, _, _ in seen] == list(range(600))
