"""Spans around the engine's layer entry points, plus Spark job statistics.

Everything here runs from the benchmark's side: :meth:`Tracer.install`
replaces layer functions with timing wrappers (module attributes and
the names other modules imported them under) and :meth:`Tracer.close`
puts the originals back. Spans live in memory until the run ends.

A span records name, start, end, parent, the operation id and, for the
phase spans, how many Spark jobs the operation's job group had at each
boundary, so jobs can be attributed to the phase that launched them.

Spark fills its status store from a listener thread. Every read of it
here first waits for that thread to process the events already posted
(:func:`drain`), so a job or stage that has finished is never missed
or counted in the next span.
"""

from __future__ import annotations

import functools
import inspect
import time
from contextlib import contextmanager
from typing import Any

# operator modules whose public functions get a span named after the
# module; their self times are the per-layer `<module>.s` metrics
OPERATOR_MODULES = ("dedup", "linkage", "graph", "similarity")

# phase spans that count jobs at their boundaries
_JOB_SPANS = ("build", "plan", "exec", "catalog.read")


def drain(sc, timeout_ms: int = 30_000) -> None:
    """Wait until Spark's listener bus has delivered every posted event,
    so the status store reflects every job that has started or ended."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict[str, Any]] = []
        self.active = False
        self.op: int | None = None
        self.group: str | None = None
        self._stack: list[dict[str, Any]] = []
        self._patches: list[tuple[Any, str, Any]] = []

    # -- spans --------------------------------------------------------------

    def _njobs(self) -> int:
        drain(self.sc)
        return len(self.sc.statusTracker().getJobIdsForGroup(self.group))

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        count_jobs = name in _JOB_SPANS
        s: dict[str, Any] = {
            "id": len(self.spans),
            "op": self.op,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "jobs0": self._njobs() if count_jobs else None,
            "start": time.perf_counter(),
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if count_jobs:
                s["jobs1"] = self._njobs()

    # -- wrappers -----------------------------------------------------------

    def _patch(self, owner: Any, attr: str, name: str, orig: Any = None) -> None:
        prev = getattr(owner, attr)
        orig = orig if orig is not None else prev
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, prev))

    def install(self) -> None:
        """Wrap every layer entry point the workloads reach."""
        from dirty_js_etl_spark import catalog
        from dirty_js_etl_spark.operators import dedup, graph, linkage, merge, similarity
        from dirty_js_etl_spark.plans import mapping, runner
        from dirty_js_etl_spark.queries import _shared

        self._patch(catalog.Catalog, "read", "catalog.read")
        fixture_catalog = catalog.fixture_catalog
        for owner in (catalog, _shared):
            self._patch(owner, "fixture_catalog", "catalog.open", fixture_catalog)
        self._patch(runner.Pipeline, "run", "runner.run")
        # runner imported run_mapping by name: wrap both bindings
        run_mapping = mapping.run_mapping
        for owner in (mapping, runner):
            self._patch(owner, "run_mapping", "mapping.run", run_mapping)
        self._patch(mapping, "compile_mapping", "mapping.compile")
        merge_upsert = merge.merge_upsert
        for owner in (merge, mapping):
            self._patch(owner, "merge_upsert", "merge.build", merge_upsert)
        # query bodies import operator functions when they run, so the
        # module attributes are the only binding that needs a wrapper
        for mod in (dedup, linkage, graph, similarity):
            short = mod.__name__.rsplit(".", 1)[1]
            for attr, fn in list(vars(mod).items()):
                if (
                    inspect.isfunction(fn)
                    and fn.__module__ == mod.__name__
                    and not attr.startswith("_")
                ):
                    self._patch(mod, attr, short)

    def close(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- per-operation bookkeeping ----------------------------------------------

    def begin_op(self, op: int, group: str, active: bool) -> None:
        self.op, self.group, self.active = op, group, active

    def op_spans(self, op: int) -> list[dict[str, Any]]:
        return [s for s in self.spans if s["op"] == op]


def self_times(spans: list[dict[str, Any]]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, cursor), min(b, s["end"])
            if b > a:
                covered += b - a
                cursor = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def job_stats(spark, job_ids: list[int]) -> dict[str, float]:
    """Stage and task totals over ``job_ids`` from the status store.

    Skipped stages (shuffle output reused from an earlier job) are not
    counted. ``skew_max_ms`` / ``skew_med_ms`` sum, over stages with at
    least two tasks, the slowest and the median task run time."""
    sc = spark.sparkContext
    drain(sc)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    quantiles = sc._gateway.new_array(sc._jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    stage_ids: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    tot = dict.fromkeys(
        ("stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes", "write_bytes", "skew_max_ms",
         "skew_med_ms"),
        0.0,
    )
    for sid in sorted(stage_ids):
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() != "COMPLETE":
            continue
        tot["stages"] += 1
        tot["tasks"] += sd.numTasks()
        tot["run_ms"] += sd.executorRunTime()
        tot["cpu_ms"] += sd.executorCpuTime() / 1e6
        tot["gc_ms"] += sd.jvmGcTime()
        tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
        tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        tot["write_bytes"] += sd.outputBytes()
        if sd.numTasks() >= 2:
            dist = store.taskSummary(sid, sd.attemptId(), quantiles)
            if dist.isDefined():
                rt = dist.get().executorRunTime()
                tot["skew_med_ms"] += rt.apply(0)
                tot["skew_max_ms"] += rt.apply(1)
    return tot


def plan_stats(df) -> dict[str, float]:
    """Catalyst phase times of ``df``'s own query execution and the size
    of its executed plan (call after the action ran)."""
    qe = df._jdf.queryExecution()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        got = phases.get(phase)
        out[f"{phase}_ms"] = float(got.get().durationMs()) if got.isDefined() else 0.0
    out["chars"] = float(len(qe.executedPlan().toString()))
    return out
