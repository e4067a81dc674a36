"""Custom Python DataSource (Spark 4 ``pyspark.sql.datasource`` API):
a deterministic date-spine generator.

The reference's only "sources" are named tables in a source database
(SURVEY.md §2.3 — scans: implicit named tables/views); this module
covers the opposite end of the source surface: a table that is *computed*
rather than stored — the calendar/date dimension every zero-fill and
grid-resample query needs (x58 built its grid with ``F.sequence``; this
is the same spine as a first-class, partition-parallel *source*).

Scale: the range is split into ``partitions`` input partitions, each
generated independently on an executor — no driver materialization, no
shuffle, arbitrarily wide date ranges. Rows are pure arithmetic, so the
source is exactly reproducible on any cluster.
"""

from __future__ import annotations

from datetime import date

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition


class _SpinePartition(InputPartition):
    def __init__(self, start_ord: int, end_ord: int):
        self.start_ord = start_ord  # inclusive
        self.end_ord = end_ord  # exclusive


class DateSpineReader(DataSourceReader):
    def __init__(self, options: dict):
        self.start = date.fromisoformat(options["start"])
        self.end = date.fromisoformat(options["end"])  # inclusive
        self.n_parts = int(options.get("partitions", "4"))
        if self.end < self.start:
            raise ValueError("end must be >= start")

    def partitions(self):
        lo, hi = self.start.toordinal(), self.end.toordinal() + 1
        n = max(1, min(self.n_parts, hi - lo))
        step = (hi - lo + n - 1) // n
        return [
            _SpinePartition(s, min(s + step, hi)) for s in range(lo, hi, step)
        ]

    def read(self, partition: _SpinePartition):
        for o in range(partition.start_ord, partition.end_ord):
            yield (date.fromordinal(o),)


class DateSpineDataSource(DataSource):
    """``spark.read.format("date_spine").option("start", "1995-01-01")
    .option("end", "1995-06-30").load()`` → one ``day: date`` row per
    calendar day, generated in parallel partitions."""

    @classmethod
    def name(cls) -> str:
        return "date_spine"

    def schema(self) -> str:
        return "day date"

    def reader(self, schema) -> DateSpineReader:
        return DateSpineReader(self.options)


def register_date_spine(spark) -> None:
    """Idempotent registration of the date_spine format."""
    spark.dataSource.register(DateSpineDataSource)


# ---------------------------------------------------------------------------
# Custom STREAMING source: deterministic tick replay
# ---------------------------------------------------------------------------


class TickReplayStreamReader:
    """``SimpleDataSourceStreamReader`` for a deterministic tick stream:
    rows are ``(seq, bucket, amount)`` with ``bucket = seq % 10`` and
    ``amount = (seq * 37) % 100`` — pure integer arithmetic, so any
    engine reproduces the full stream from (n_total,) alone, which is
    what lets a DuckDB oracle hash-check a STREAMING source end to end
    (x184).

    Offset = {"seq": next-unemitted}; each micro-batch emits at most
    ``batch_size`` rows. The simple-reader variant trades partitioned
    reads for driver-side sequencing — right for control/replay streams
    (the partition-parallel surface is the batch reader above; a
    partition-parallel stream reader implements DataSourceStreamReader
    with per-partition offsets, same shape as Kafka's).
    """

    def __init__(self, options: dict):
        self.n_total = int(options.get("n_total", "1000"))
        self.batch = int(options.get("batch_size", "250"))

    def initialOffset(self) -> dict:
        return {"seq": 0}

    def read(self, start: dict):
        lo = int(start["seq"])
        hi = min(lo + self.batch, self.n_total)
        rows = iter(
            [(s, s % 10, float((s * 37) % 100)) for s in range(lo, hi)]
        )
        return rows, {"seq": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(
            [
                (s, s % 10, float((s * 37) % 100))
                for s in range(int(start["seq"]), int(end["seq"]))
            ]
        )

    def commit(self, end: dict) -> None:
        pass


class TickReplayDataSource(DataSource):
    """``spark.readStream.format("tick_replay").option("n_total", N)``
    → a finite deterministic stream for replay/backfill testing."""

    @classmethod
    def name(cls) -> str:
        return "tick_replay"

    def schema(self) -> str:
        return "seq bigint, bucket int, amount double"

    def simpleStreamReader(self, schema):
        return TickReplayStreamReader(self.options)


def register_tick_replay(spark) -> None:
    """Idempotent registration of the tick_replay streaming format."""
    spark.dataSource.register(TickReplayDataSource)
