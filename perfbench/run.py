"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload merge_bulk --seed 1 --seconds 16 --trace 0

Run it from the root of a checkout: the engine package is imported from
there. The run

1. starts a Spark session through ``session.get_spark`` on local[nproc]
   and generates the seeded inputs;
2. computes the DuckDB oracle for the checks, then warms up with a round
   of the workload's operations; ``setup_s`` is the session start plus
   the warm-up operations' own time (input generation, oracle and
   checks excluded);
3. runs ``--seconds`` worth of rounds (``--seconds`` over the
   workload's nominal round length, at least one round; two with
   ``--trace 1``), one operation at a time, checking every output and
   recording each operation's elapsed time and the CPU time this
   process and the processes below it (the JVM, Python workers) spent
   on it; ``cpu_s`` and ``wall_s`` are the two per round;
4. prints a line per metric and, last, one JSON object with
   ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` wraps the
engine's layer entry points and reports per-layer metrics from every
other operation (the ones in between run untraced, which gives the
tracing overhead; end-to-end figures of a traced run include it). A
full record of the run (environment, every operation, the canary
series and, when traced, every span) is written
under ``.perfbench/results/``. Everything the run writes stays under
``.perfbench/`` in the checkout; the per-process work directory is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
# the deployment's own overrides, applied after the benchmark's
USER_EXTRA_CONF = os.environ.get("SPARK_GRAFT_EXTRA_CONF")

END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "peak_rss_mb": "MB",
    "catalog.reads": "count",
    "catalog.read_s": "s",
    "catalog.jobs": "count",
    "runner.run_s": "s",
    "mapping.calls": "count",
    "mapping.compile_s": "s",
    "merge.build_s": "s",
    "merge.inserted": "rows",
    "merge.updated": "rows",
    "build.s": "s",
    "build.jobs": "count",
    "build.stages": "count",
    "dedup.s": "s",
    "linkage.s": "s",
    "graph.s": "s",
    "similarity.s": "s",
    "plan.s": "s",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "plan.chars": "chars",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "spill.bytes": "bytes",
    "task.skew": "ratio",
    "write.bytes": "bytes",
    "jobs": "count",
    "trace.overhead_s": "s",
}


@dataclass
class Config:
    workload: str
    seed: int
    seconds: float
    trace: bool
    scale: str = "bench"
    corrupt_first: bool = False  # smoke test: damage the first output


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM, Python and DuckDB write under
    ``work``; must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    confs = [
        f"spark.local.dir={os.environ['SPARK_LOCAL_DIRS']}",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress=false",
    ]
    user = [USER_EXTRA_CONF] if USER_EXTRA_CONF else []
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(confs + user)


def _git_head() -> str | None:
    """HEAD of the checkout, read from ``.git`` without leaving it."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if os.path.exists(os.path.join(git, ref)):
            with open(os.path.join(git, ref)) as fh:
                return fh.read().strip()
        with open(os.path.join(git, "packed-refs")) as fh:
            for line in fh:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by process ``root`` and every process
    below it (the Spark JVM and its Python workers), including the
    children they have reaped; time the host took from the VM (steal)
    is not counted."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while the table was read
            continue
        procs[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Peak resident memory of a process, sampled from /proc."""

    def __init__(self, pid: int, every: float = 0.05):
        super().__init__(daemon=True)
        self.path, self.every = f"/proc/{pid}/status", every
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def _rss_kb(self) -> int:
        with open(self.path) as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
        return 0

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, self._rss_kb())
            self._stop_evt.wait(self.every)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return max(self.peak_kb, self._rss_kb()) / 1024


class Session:
    """The Spark session and the JVM behind it."""

    def __init__(self):
        self.spark = None

    def start(self):
        from dirty_js_etl_spark import session

        self.spark = session.get_spark("perfbench")
        return self.spark

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        # a later session in this process launches a fresh JVM
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - JVM ignored its closed stdin
                proc.kill()
                proc.wait()


def _canary(spark) -> float:
    t0 = time.perf_counter()
    spark.range(0, 2_000_000, numPartitions=4).selectExpr("sum(id)").collect()
    return time.perf_counter() - t0


def _run_op(ctx, wl, op, n: int, traced: bool, corrupt: bool) -> dict:
    sc = ctx.spark.sparkContext
    group = f"perfbench-op{n}"
    sc.setJobGroup(group, op.name)
    if ctx.tracer is not None:
        ctx.tracer.begin_op(n, group, traced)
    rec = {"op": n, "name": op.name, "traced": traced}
    out = None
    c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
    try:
        with ctx.phase("op"):
            out = wl.run(ctx, op)
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = tree_cpu_s(os.getpid()) - c0
        if corrupt:
            wl.corrupt(out)
        rec["ok"] = bool(wl.check(ctx, op, out))
    except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
        rec.setdefault("wall_s", time.perf_counter() - t0)
        rec.setdefault("cpu_s", tree_cpu_s(os.getpid()) - c0)
        rec["ok"] = False
        rec["error"] = traceback.format_exc(limit=4)
        print(f"operation {n} ({op.name}) raised:\n{rec['error']}", file=sys.stderr)
    finally:
        if ctx.tracer is not None:
            ctx.tracer.active = False
    if not rec["ok"] and "error" not in rec:
        print(f"operation {n} ({op.name}): output check failed", file=sys.stderr)
    if traced and out is not None:
        rec["layers"] = _op_layers(ctx, n, group, out, rec["wall_s"])
    if out is not None:
        wl.cleanup(out)
    ctx.spark.catalog.clearCache()
    return rec


def _op_layers(ctx, n: int, group: str, out: dict, wall: float) -> dict:
    from spans import OPERATOR_MODULES, drain, job_stats, plan_stats, self_times

    spark = ctx.spark
    drain(spark.sparkContext)
    spans = ctx.tracer.op_spans(n)
    selfs = self_times(spans)
    jobs = sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def named(name):
        return [s for s in spans if s["name"] == name]

    def dur(name):
        return sum(s["end"] - s["start"] for s in named(name))

    def span_jobs(name):
        return [j for s in named(name) for j in jobs[s["jobs0"]:s["jobs1"]]]

    build_jobs, plan_jobs, exec_jobs = span_jobs("build"), span_jobs("plan"), span_jobs("exec")
    build, exe, every = job_stats(spark, build_jobs), job_stats(spark, exec_jobs), job_stats(spark, jobs)
    audits = out.get("audits", [])
    d = {
        "wall_s": wall,
        "catalog.reads": len(named("catalog.read")),
        "catalog.read_s": dur("catalog.read") + dur("catalog.open"),
        "catalog.jobs": len(span_jobs("catalog.read")),
        "runner.run_s": dur("runner.run"),
        "mapping.calls": len(named("mapping.run")),
        "mapping.compile_s": dur("mapping.compile"),
        "merge.build_s": dur("merge.build"),
        "merge.inserted": sum(a.get("INSERT", 0) for a in audits),
        "merge.updated": sum(a.get("UPDATE", 0) for a in audits),
        "build.s": dur("build"),
        "build.jobs": len(build_jobs),
        "build.stages": build["stages"],
        "plan.s": dur("plan"),
        "plan.jobs": len(plan_jobs),
        "exec.s": dur("exec"),
        "exec.jobs": len(exec_jobs),
        "exec.stages": exe["stages"],
        "exec.tasks": every["tasks"],
        "exec.run_ms": every["run_ms"],
        "exec.cpu_ms": every["cpu_ms"],
        "exec.gc_ms": every["gc_ms"],
        "shuffle.read_bytes": every["shuffle_read_bytes"],
        "shuffle.write_bytes": every["shuffle_write_bytes"],
        "spill.bytes": every["spill_bytes"],
        "write.bytes": every["write_bytes"],
        "skew_max_ms": every["skew_max_ms"],
        "skew_med_ms": every["skew_med_ms"],
        "jobs": len(jobs),
    }
    for mod in OPERATOR_MODULES:
        d[f"{mod}.s"] = sum(selfs[s["id"]] for s in spans if s["name"] == mod)
    plan = plan_stats(out["df"]) if "df" in out else {}
    for key in ("analysis_ms", "optimization_ms", "planning_ms", "chars"):
        d[f"plan.{key}"] = plan.get(key, 0.0)
    return d


def _per_round(rounds: list[dict], value, traced: bool | None = None) -> float:
    """A figure of one round: for each operation of a round, the median
    of ``value`` over its runs (only the traced or untraced ones, when
    ``traced`` is given), summed over the round's operations, so one
    slow operation in one round does not move it."""
    by_name: dict[str, list[dict]] = {}
    for r in rounds:
        for o in r["ops"]:
            if traced is None or o["traced"] == traced:
                by_name.setdefault(o["name"], []).append(o)
    return sum(statistics.median(value(o) for o in runs) for runs in by_name.values())


def _end_to_end(rounds: list[dict], setup_s: float) -> dict:
    return {
        "setup_s": setup_s,
        "cpu_s": _per_round(rounds, lambda o: o["cpu_s"]),
        "wall_s": _per_round(rounds, lambda o: o["wall_s"]),
    }


def _per_layer(rounds: list[dict], session_start: float, peak_mb: float) -> dict:
    """Per-round layer figures over the traced runs; the tracing overhead
    compares each operation's traced and untraced runs."""

    def per_round(value, traced=True) -> float:
        return _per_round(rounds, value, traced)

    out = {
        k: per_round(lambda o, k=k: o["layers"][k])
        for k in PER_LAYER
        if k not in ("session.start_s", "peak_rss_mb", "task.skew", "trace.overhead_s")
    }
    skew_med = per_round(lambda o: o["layers"]["skew_med_ms"])
    out["task.skew"] = per_round(lambda o: o["layers"]["skew_max_ms"]) / max(skew_med, 1.0)
    out["trace.overhead_s"] = per_round(lambda o: o["wall_s"]) - per_round(lambda o: o["wall_s"], False)
    out["session.start_s"] = session_start
    out["peak_rss_mb"] = peak_mb
    return out


def run(cfg: Config) -> dict:
    """One benchmark invocation in this process; returns the record."""
    work = os.path.join(STATE, f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _isolate(work)
    sys.path.insert(0, ROOT)
    import numpy as np

    import workloads
    from spans import Tracer

    sf = workloads.SF[cfg.workload] if cfg.scale == "bench" else workloads.SMOKE_SF
    wl = workloads.make(cfg.workload, sf)
    sess = Session()
    ctx = workloads.Ctx(spark=None, seed=cfg.seed, work=work)
    record: dict = {"ops": [], "rounds": [], "canary_s": []}
    try:
        t0 = time.perf_counter()
        spark = ctx.spark = sess.start()
        session_start = time.perf_counter() - t0
        wl.setup(ctx, os.path.join(work, "data"))
        wl.oracle(ctx)
        rng = np.random.default_rng([cfg.seed, 3])
        n = 0
        for op in wl.ops(None):
            rec = _run_op(ctx, wl, op, n, False, cfg.corrupt_first and n == 0)
            record["ops"].append({**rec, "warmup": True})
            n += 1
        # the program's own set-up: JVM and session start, then its first
        # runs of the workload (JIT, code generation, first file reads)
        setup_s = session_start + sum(o["wall_s"] for o in record["ops"])
        if cfg.trace:
            ctx.tracer = Tracer(spark)
            ctx.tracer.install()
        sampler = RssSampler(sess.jvm_pid())
        sampler.start()
        record["canary_s"].append(_canary(spark))
        # the window is a fixed number of rounds: --seconds over the
        # workload's nominal round length, so every run measures the same
        # work and a faster program finishes sooner
        min_rounds = 2 if cfg.trace else 1
        position = {op.name: i for i, op in enumerate(wl.ops(None))}
        n_rounds = max(min_rounds, round(cfg.seconds / wl.nominal_round_s))
        while len(record["rounds"]) < n_rounds:
            # traced runs trace every other operation, alternating between
            # rounds, so each operation is measured both ways
            r = len(record["rounds"])
            ops = []
            for op in wl.ops(rng):
                traced = cfg.trace and (r + position[op.name]) % 2 == 0
                ops.append(_run_op(ctx, wl, op, n, traced, False))
                n += 1
            record["rounds"].append({"wall_s": sum(o["wall_s"] for o in ops), "ops": ops})
            record["canary_s"].append(_canary(spark))
        peak_mb = sampler.stop()
        if ctx.tracer is not None:
            ctx.tracer.close()
            t0 = ctx.tracer.spans[0]["start"] if ctx.tracer.spans else 0.0
            record["spans"] = [
                {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in ctx.tracer.spans
            ]
        import duckdb
        import pyspark

        record["meta"] = {
            "workload": cfg.workload,
            "seed": cfg.seed,
            "seconds": cfg.seconds,
            "trace": cfg.trace,
            "scale": cfg.scale,
            "sf": wl.sf,
            "fixture_dir": os.path.relpath(wl.root, ROOT),
            "table_rows": wl.table_rows,
            "git_head": _git_head(),
            "nproc": len(os.sched_getaffinity(0)),
            "mem_total_mb": _mem_total_mb(),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "duckdb": duckdb.__version__,
            "loop": "closed, 1 client, 1 operation at a time",
        }
        record["session_start_s"] = session_start
        record["end_to_end"] = _end_to_end(record["rounds"], setup_s)
        if wl.rows_per_round is not None:
            record["rows_per_s"] = wl.rows_per_round / record["end_to_end"]["wall_s"]
        record["peak_rss_mb"] = peak_mb
        if cfg.trace:
            record["per_layer"] = _per_layer(record["rounds"], session_start, peak_mb)
        all_ops = record["ops"] + [o for r in record["rounds"] for o in r["ops"]]
        record["attempted"] = len(all_ops)
        record["failed"] = sum(not o["ok"] for o in all_ops)
        return record
    finally:
        sess.close()
        shutil.rmtree(work, ignore_errors=True)


def _emit(cfg: Config, record: dict) -> None:
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    path = os.path.join(
        STATE, "results",
        f"{cfg.workload}-seed{cfg.seed}-trace{int(cfg.trace)}-{int(time.time())}.json",
    )
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    rounds = len(record["rounds"])
    print(f"workload {cfg.workload}, seed {cfg.seed}, {rounds} rounds, record {os.path.relpath(path, ROOT)}")
    for name, unit in END_TO_END.items():
        print(f"{name:22s} {record['end_to_end'][name]:>16.6g} {unit}")
    # unbounded figures: wall_s moves with the host's CPU steal (see
    # README.md); rows_per_s is a round's merged rows over wall_s
    print(f"{'wall_s':22s} {record['end_to_end']['wall_s']:>16.6g} s")
    if "rows_per_s" in record:
        print(f"{'rows_per_s':22s} {record['rows_per_s']:>16.6g} rows/s")
    ratio = record["failed"] / record["attempted"]
    print(f"{'fail_ratio':22s} {ratio:>16.6g} ratio ({record['failed']} of {record['attempted']})")
    if not cfg.trace:  # a per-layer metric of traced runs
        print(f"{'peak_rss_mb':22s} {record['peak_rss_mb']:>16.6g} MB")
    for name, unit in PER_LAYER.items() if cfg.trace else ():
        print(f"{name:22s} {record['per_layer'][name]:>16.6g} {unit}")
    names = PER_LAYER if cfg.trace else END_TO_END
    values = record["per_layer"] if cfg.trace else record["end_to_end"]
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in names.items()},
    }))


def main(argv: list[str] | None = None) -> int:
    import workloads

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    cfg = Config(args.workload, args.seed, args.seconds, bool(args.trace))
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _emit(cfg, run(cfg))
    return 0


if __name__ == "__main__":
    sys.exit(main())
