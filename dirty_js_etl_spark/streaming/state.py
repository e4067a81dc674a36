"""Arbitrary stateful streaming via ``transformWithStateInPandas`` —
Spark 4's successor to ``applyInPandasWithState`` (the sessionizer's
API, ``streaming/sessions.py``), with typed composable state (value /
list / map), TTL, and timers, backed by the RocksDB state store.

Operator here: per-user RUNNING PURCHASE TOTAL — the canonical
"lifetime aggregate" a CDC/metrics pipeline maintains incrementally.
Money is accumulated in integer cents inside a ValueState, so the
running value is exact and engine-portable: when the finite fixture
stream drains, the last emission per user equals the batch
``SUM(round(value*100))`` — the equality ``test_streaming_state.py``
asserts wherever the operator can run (see below for why it is not a
registered driver query in this container).

Scale design: state is ONE long per user (RocksDB-spillable, not
heap-bound); the shuffle is the per-key grouping every stateful op
pays; emissions are per-batch per-active-key (update mode), so
downstream writes scale with activity, not user count. TTL/timers are
the API's story for bounding dormant keys — a real deployment sets
``ttlDurationMs`` on the value state; the fixture run keeps state
unbounded because the stream is finite.

ENVIRONMENT BOUNDARY: ``transformWithStateInPandas`` talks to the
Python state server over protobuf, and this container's
``google.protobuf`` is not importable — the operator raises
``STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE`` here. Registration
as a driver query is therefore GATED at runtime
(``queries/q12_round7.py``): where ``google.protobuf`` imports, the
operator registers as ``x191_running_totals`` with a batch-sum SQL
oracle; here it stays absent and the stateful-streaming surface the
driver verifies is the ``applyInPandasWithState`` sessionizer (x17).
The code is complete and the test (``tests/test_streaming_state.py``)
runs wherever protobuf is available; on this box it skips with the
exact reason.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

if TYPE_CHECKING:
    import pandas as pd

OUTPUT_SCHEMA = "user_id bigint, total_cents bigint, emit_seq bigint"

_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


class RunningTotalProcessor(StatefulProcessor):
    """ValueState[(cents, seq)] per user; emits the post-batch running
    total tagged with a per-key emission sequence so the consumer can
    pick the LAST emission — not the max total, which only coincides
    with the final state while every input is non-negative (refunds /
    negative corrections would otherwise silently return an
    intermediate peak)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._total = handle.getValueState("total", "cents bigint, seq bigint")

    def handleInputRows(
        self, key: Any, rows: Iterator["pd.DataFrame"], timerValues: Any
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        total, seq = (
            self._total.get() if self._total.exists() else (0, 0)
        )
        for pdf in rows:
            total += int(pdf["cents"].sum())
        seq += 1
        self._total.update((total, seq))
        yield pd.DataFrame(
            {"user_id": [key[0]], "total_cents": [total], "emit_seq": [seq]}
        )

    def close(self) -> None:
        pass


def running_totals_stream(events: DataFrame) -> DataFrame:
    """Wire the processor over a (possibly streaming) events frame:
    purchases → integer cents → per-user transformWithState."""
    # floor(x*100 + 0.5): portable half-up cents, exact on identical
    # doubles in every engine (the x127 spelling) — lets the gated
    # driver query (x191, queries/q12_round7.py) carry a SQL oracle
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", cents.alias("cents")
    )
    return purchases.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotalProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def run_stream_running_totals(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "stream_running_totals",
) -> DataFrame:
    """Drain the fixture stream; return the FINAL running total per
    user (the last emission by the processor's per-key sequence — exact
    even with negative inputs, equal to the batch sum once the source
    drains)."""
    from dirty_js_etl_spark.streaming.events import read_events_stream

    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", _ROCKSDB)
    try:
        out = running_totals_stream(read_events_stream(spark, sf_dir))
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName(query_name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if old is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", old
            )
    # update-mode emits one row per (user, batch); the FINAL state is the
    # emission with the highest per-key sequence number the processor stamps —
    # correct even when a batch shrinks the total (refunds), where
    # max(total_cents) would return an intermediate peak. max_by on the
    # monotone per-key seq is exact.
    return (
        spark.table(query_name)
        .groupBy("user_id")
        .agg(F.max_by("total_cents", "emit_seq").alias("total_cents"))
    )
