"""transformWithStateInPandas running totals (streaming/state.py).

The API requires a working google.protobuf for the Python state
server; this container's protobuf is broken, so the end-to-end test
skips here (with the exact reason) and runs on any normal cluster
image. The module-level pieces that don't need the state server are
still asserted.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _protobuf_ok() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def test_processor_wiring_importable(spark):
    from dirty_js_etl_spark.streaming.state import (
        OUTPUT_SCHEMA,
        RunningTotalProcessor,
        running_totals_stream,
    )

    # emit_seq: per-key emission sequence so the consumer can take the
    # LAST emission (exact under refunds/negative cents)
    assert OUTPUT_SCHEMA == "user_id bigint, total_cents bigint, emit_seq bigint"
    assert hasattr(RunningTotalProcessor, "handleInputRows")
    # building the (unstarted) streaming plan must succeed
    stream = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    ev = stream.select(
        F.col("value").alias("user_id"),
        F.lit("purchase").alias("event_type"),
        (F.col("value") * 1.0).alias("value"),
    )
    df = running_totals_stream(ev)
    assert df.isStreaming


@pytest.mark.skipif(
    not _protobuf_ok(),
    reason="google.protobuf broken in this container — "
    "transformWithStateInPandas state server cannot start",
)
def test_drained_stream_equals_batch_sum(spark, catalog):
    from dirty_js_etl_spark.streaming.state import run_stream_running_totals
    from tests.conftest import SF_DIR  # type: ignore[attr-defined]

    got = {
        r["user_id"]: r["total_cents"]
        for r in run_stream_running_totals(spark, SF_DIR).collect()
    }
    exp = {
        r["user_id"]: r["t"]
        for r in catalog.read("events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("t")
        )
        .collect()
    }
    assert got == exp
