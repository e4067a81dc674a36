"""Pipeline runner — registry order, passes, dry-run, hooks, cleanup.

Reproduces the reference driver's orchestration semantics
(``/root/reference/etl.js`` + the script-assembly parts of
``tsql2008.js``):

- **ordered registry** (T16): mappings run in registration order — the
  dependency order for FK lookups ("load all the tables in the order which
  they have been exported", ``etl.js:39``); FK parents resolve against the
  *current pipeline state*, so a child mapping sees the parent rows merged
  earlier in the same run;
- **cleanup** (T8/T9): ``truncate`` → empty the destination; ``kill_where``
  → conditional delete, in *reverse* table order (FK-safe,
  ``tsql2008.js:79-80``), deduplicated (``tsql2008.js:87,97``), and
  **skipped for merge tables** (the reference emits those commented out —
  ``sqlComment(cmd, !tbl.useMerge)``, ``tsql2008.js:89``);
- **multi-pass** (T11): the whole body repeats ``passes`` times
  (``tsql2008.js:345-358``) — pass 2 over the same source must be a
  fixpoint (all-UPDATE, no value drift), which :meth:`Pipeline.check_idempotent`
  asserts with ``exceptAll`` in both directions (rows pass 2 adds and
  rows it drops);
- **in-run state, stored once**: each mapping's action-tagged merge frame
  (:class:`~dirty_js_etl_spark.operators.merge.MergeResult`) is replaced
  by a lazy ``localCheckpoint``: under AQE the merge's shuffle stages run
  when it is taken, the final stage on the first action that reads it,
  and the rows are stored from then on. The next mapping's FK lookups, the
  next pass's destination, and the caller's ``result`` writes and
  ``audit_per_pass`` counts read those rows, so no consumer re-runs the
  merge chain and no plan holds more than one merge. Base relations are
  read once per run and shared by every pass;
- **dry-run** (T12): the transactional test mode (``BEGIN TRANSACTION …
  rollback``, ``tsql2008.js:64-71,147-154``) becomes "compute every result
  DataFrame, never write" — results are returned for inspection and the
  catalog/storage is untouched;
- **setup/teardown hooks** (T10): raw SQL strings, deduplicated
  (``tsql2008.js:55,138``), run through ``spark.sql`` before/after the body;
- **progress messages** (T14): ``PRINT(...)`` → :mod:`logging`.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dirty_js_etl_spark.catalog import Catalog
from dirty_js_etl_spark.functions import tsql_compat
from dirty_js_etl_spark.operators.merge import MergeResult
from dirty_js_etl_spark.plans.mapping import MappingSpec, run_mapping

log = logging.getLogger("dirty_js_etl_spark")


@dataclass
class TableRunResult:
    destination: str
    result: DataFrame
    audit_per_pass: list[DataFrame]


@dataclass
class Pipeline:
    """Ordered mapping registry + execution modes (reference ``Config``)."""

    mappings: list[MappingSpec] = field(default_factory=list)
    passes: int = 1  # etl.js:27-29 — 2 in test mode = idempotency probe
    dry_run: bool = True  # sqlTest analog; False persists via catalog.write
    setup: tuple[str, ...] = ()
    teardown: tuple[str, ...] = ()

    def use_mapping(self, spec: MappingSpec) -> "Pipeline":
        """Reference ``config.useMapping`` (``mappr.js:74-77``)."""
        self.mappings.append(spec)
        return self

    # -- execution ----------------------------------------------------------

    def run(self, catalog: Catalog) -> dict[str, TableRunResult]:
        spark = catalog.spark
        for cmd in _dedup(self.setup + tuple(c for m in self.mappings for c in m.setup)):
            log.info("SETUP: %s", cmd)
            spark.sql(tsql_compat.translate(cmd))

        # current in-run table state; FK parents and merge destinations
        # resolve here first (Catalog overlay), then fall back to storage.
        state: dict[str, DataFrame] = {}
        run_catalog = _StateCatalog(catalog, state)

        self._cleanup(run_catalog, state)

        results: dict[str, TableRunResult] = {}
        for p in range(1, self.passes + 1):
            log.info("BEGIN PASS %d of %d", p, self.passes)
            for spec in self.mappings:
                if spec.message:
                    log.info("INFO: %s", spec.message)
                dest = run_catalog.read_dest(spec.destination)
                tagged = run_mapping(spec, run_catalog, dest=dest).tagged
                # stored once: the next mapping's FK, the next pass's
                # destination and the caller's writes and audit counts all
                # read these rows instead of re-running the merge chain
                mr = MergeResult(tagged.localCheckpoint(eager=False))
                state[spec.destination] = mr.result
                tr = results.setdefault(
                    spec.destination,
                    TableRunResult(spec.destination, mr.result, []),
                )
                tr.result = mr.result
                tr.audit_per_pass.append(mr.audit)
            log.info("END PASS %d", p)

        if not self.dry_run:
            for name, df in state.items():
                catalog.register(name, df)

        for cmd in _dedup(
            tuple(c for m in self.mappings for c in m.teardown) + self.teardown
        ):
            log.info("TEARDOWN: %s", cmd)
            spark.sql(tsql_compat.translate(cmd))
        return results

    def _cleanup(self, run_catalog: "_StateCatalog", state: dict[str, DataFrame]) -> None:
        """T8/T9 — reverse order, deduplicated, skipped for merge tables."""
        done: set[str] = set()
        for spec in reversed(self.mappings):
            if spec.use_merge:
                continue  # emitted commented-out in the reference
            key = f"{spec.destination}:{spec.truncate}:{spec.kill_where}"
            if key in done:
                continue
            done.add(key)
            if spec.truncate and not spec.kill_where:
                log.info("CLEANUP: truncate %s", spec.destination)
                dest = run_catalog.read_dest(spec.destination)
                state[spec.destination] = dest.limit(0)
            elif spec.kill_where and not spec.truncate:
                log.info(
                    "CLEANUP: delete from %s where %s",
                    spec.destination,
                    spec.kill_where,
                )
                dest = run_catalog.read_dest(spec.destination)
                pred = F.expr(tsql_compat.translate(spec.kill_where))
                # DELETE WHERE p == keep rows where NOT p (NULLs survive,
                # matching SQL DELETE three-valued logic)
                state[spec.destination] = dest.filter(~F.coalesce(pred, F.lit(False)))

    # -- verification -------------------------------------------------------

    def check_idempotent(self, catalog: Catalog) -> bool:
        """The reference's two-pass test (T11) as a property: re-running
        every mapping over its own output changes nothing."""
        first = Pipeline(
            mappings=self.mappings, passes=1, dry_run=True,
            setup=self.setup, teardown=self.teardown,
        ).run(catalog)
        second = Pipeline(
            mappings=self.mappings, passes=2, dry_run=True,
            setup=self.setup, teardown=self.teardown,
        ).run(catalog)
        for name, tr in first.items():
            a, b = tr.result, second[name].result
            for diff in (a.exceptAll(b), b.exceptAll(a)):
                if diff.limit(1).count() > 0:
                    return False
        return True


class _StateCatalog(Catalog):
    """Catalog view that resolves in-run state first (FK parents see rows
    merged earlier in the same run — the reference's table-ordering
    contract, ``etl.js:39``)."""

    def __init__(self, base: Catalog, state: dict[str, DataFrame]):
        self.spark = base.spark
        self._base = base
        self._state = state
        self._base_reads: dict[str, DataFrame] = {}

    def read(self, name: str) -> DataFrame:
        if name in self._state:
            return self._state[name]
        # one base read per relation per run: every pass reuses it
        if name not in self._base_reads:
            self._base_reads[name] = self._base.read(name)
        return self._base_reads[name]

    def has(self, name: str) -> bool:
        return name in self._state or self._base.has(name)

    def read_dest(self, name: str) -> DataFrame:
        """Destination contents; a missing destination table starts empty —
        impossible in the reference (SQL Server would error) but convenient
        for parquet-first pipelines: seed from an empty projection."""
        if self.has(name):
            return self.read(name)
        raise KeyError(
            f"destination {name!r} does not exist; register a seed DataFrame "
            "or create the parquet file first"
        )


def _dedup(cmds: tuple[str, ...]) -> list[str]:
    seen: dict[str, None] = {}
    for c in cmds:
        seen.setdefault(c, None)
    return list(seen)
