"""One query runner: every way the repo runs registry queries.

    python tools/runner.py MODE [--json OUT] [--bare] [sf_dir ...] [query ...]

Positional arguments that name a directory are fixture dirs; the rest
are query names (default: the mode's set). Modes:

- ``bench``: the headline benchmark that ``python bench.py`` runs
  (fixture dir ``$SPARK_GRAFT_SF_DIR``, default /root/testdata/sf0.1;
  queries ``bench.HEADLINE``). Prints ONE JSON line; see :func:`bench`.
- ``oracle``: every registry query against its DuckDB oracle
  (``testing.compare_frames``), default sf0.01. ``--bare`` runs it in a
  session with Spark defaults only, the class of session the driver
  hands to ``queries()``.
- ``determinism``: ``oracle`` in the production session, then each
  query again under ``testing.HOSTILE`` partitioning, compared with its
  first output.
- ``scale``: ``bench`` at two fixture dirs (default sf0.1 and
  ``.sf1_testdata``), each in its own process so each gets a fresh
  JVM; flags per-query super-linear growth.
- ``plans``: ``explain formatted`` of the plan-carrying queries at
  sf0.001 plus an anti-pattern scan, written to ``PLANS.md``.
- ``stages``: per-stage table of each named query (duration, tasks,
  input/shuffle/spill bytes, max/median task time), read in-process
  from Spark's status store under one job group per query.

Every record carries one :func:`stamp`. ``--json OUT`` writes the
record to OUT; the oracle and determinism records merge their sessions
into an existing OUT, so one file per scale holds the protected, bare
and hostile results (``CORRECTNESS_LOCAL_sf<sf>.json``).
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import platform
import re
import shlex
import subprocess
import sys
import tempfile
import time
from collections import Counter
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry  # noqa: E402
from dirty_js_etl_spark import session  # noqa: E402
from dirty_js_etl_spark.testing import (  # noqa: E402
    compare_frames,
    hostile,
    normalize_pdf,
    oracle_db,
)

MODES = ("bench", "oracle", "determinism", "scale", "plans", "stages")
_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEFAULT_DIRS = {
    "bench": [_SF],
    "oracle": ["/root/testdata/sf0.01"],
    "determinism": ["/root/testdata/sf0.01"],
    "scale": [_SF, os.path.join(REPO, ".sf1_testdata")],
    "plans": ["/root/testdata/sf0.001"],
    "stages": [_SF],
}

# Contention canary: one fixed cheap query is re-timed before the bench
# loop and again every CANARY_EVERY queries. On a quiet box its series
# is flat; under sustained steal/contention the later samples inflate,
# which timestamps WHICH window of the loop was contended. Read it next
# to `runs`: a query whose spread is wide AND whose loop position falls
# in an inflated canary window is a contaminated measurement, not a
# regression.
CANARY = "x41_hash_split"
CANARY_EVERY = 10
# Best of RUNS timed runs after one untimed warmup: the warmup absorbs
# first-run compilation and page-cache effects, the minimum is the
# achievable per-query time (a single contended run once showed a
# phantom 8x regression on x5).
RUNS = 3

# scale: ratio slack over linear growth (n log n factors, extra shuffle
# waves and noise are legitimate; a quadratic blowup at 10x shows ~100x),
# and the small-scale time below which the fixed per-job floor (~0.25 s)
# dominates and ratios are noise
SLACK = 2.5
MIN_SMALL_SEC = 0.3

# the queries whose plans carry the scale argument: the two heaviest
# dedup pipelines, ANN, asof, the big TPC-H analogs, merge, linkage
PLAN_QUERIES = [
    "t5_merge_full",
    "x5_ngram_jaccard_pairs",
    "x6_minhash_lsh_pairs",
    "x8_embedding_topk",
    "x21_asof_join",
    "x34_tpch_q5",
    "x195_tpch_q9",
    "x194_tpch_q2",
    "x205_link_pairs",
    "x207_sorted_neighborhood",
    "x209_multi_pass_resolution",
    "x210_weighted_link_pairs",
    "x211_pii_redact",
]
# CartesianProduct, row-at-a-time Python, and the physical footprint of
# a global window/sort funneling all data to one task
ANTI_PATTERNS = ("CartesianProduct", "BatchEvalPython", "Exchange SinglePartition")

_X216_PARTS = ("band_index", "hashed", "sizes")


def sf_of(sf_dir: str) -> float | None:
    """"sf0.1" -> 0.1; ".sf1_testdata" -> 1.0 (the number after the
    last "sf")."""
    m = re.match(r"\d*\.?\d+", sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    return float(m.group()) if m else None


def stamp(spark, sf_dir: str) -> dict:
    """Where and on what a record was made: the checkout's head and
    whether tracked files differ from it, the machine, the versions
    (perfbench's field names), the scale and the exact command."""
    import duckdb
    import pyspark

    def git(*args: str) -> str:
        try:
            return subprocess.run(
                ["git", *args], cwd=REPO, capture_output=True, text=True, timeout=30
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            return ""

    head = git("rev-parse", "HEAD") or None
    return {
        "git_head": head,
        "dirty": bool(git("status", "--porcelain", "--untracked-files=no")) if head else None,
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**20, 1),
        "spark": pyspark.__version__,
        "jdk": spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "sf": sf_of(sf_dir),
        "command": shlex.join(["python", *sys.argv]),
    }


def bare_spark():
    """Spark defaults only, like the driver's session: no
    inferTimestampNTZ=false, no builder-time UTC time zone. (UI off and
    a local master are environmental, not semantic.)"""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("runner-bare")
        .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _prep_x216_index(spark, sf_dir: str, index_dir: str) -> None:
    """Build the corpus near-dup index of x216 (its exact parameters)
    once and persist it as parquet: the layout a production pipeline
    keeps between ingests."""
    from pyspark.sql import functions as F

    from dirty_js_etl_spark.operators.dedup import build_near_dup_index, portable_token_hash60

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = build_near_dup_index(
        docs.filter(F.col("doc_id") % 5 != 0), "doc_id", "text", num_perm=32, bands=8,
        hash_fn=portable_token_hash60, portable_bands=True,
    )
    for part in _X216_PARTS:
        getattr(idx, part).write.mode("overwrite").parquet(f"{index_dir}/{part}")


def _x216_ingest_probe(spark, sf_dir: str, index_dir: str):
    """Probe-only x216: band the ingest batch and probe the prebuilt
    parquet index, the per-ingest cost production pays. The registry
    query (x216_incremental_ingest_dedup) rebuilds the index in-query
    for oracle self-containment; same output."""
    from pyspark.sql import functions as F

    from dirty_js_etl_spark.operators.dedup import (
        NearDupIndex,
        portable_token_hash60,
        probe_near_dup_index,
    )

    index = NearDupIndex(*(spark.read.parquet(f"{index_dir}/{p}") for p in _X216_PARTS))
    ingest = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(F.col("doc_id") % 5 == 0)
    return probe_near_dup_index(
        ingest, index, "doc_id", "text", num_perm=32, bands=8,
        jaccard_threshold=0.5, hash_fn=portable_token_hash60, portable_bands=True,
    )


@contextmanager
def registry(spark, sf_dir: str, names: list[str]):
    """``queries()`` plus bench's ``x216_ingest_probe``. When ``names``
    holds the probe, its index is built once, untimed, in a temporary
    directory that is removed when the block exits, errors included."""
    qs = dict(entry.queries())
    with tempfile.TemporaryDirectory(prefix="spark_graft_x216_index_") as index_dir:
        qs["x216_ingest_probe"] = functools.partial(_x216_ingest_probe, index_dir=index_dir)
        if "x216_ingest_probe" in names:
            _prep_x216_index(spark, sf_dir, index_dir)
        yield qs


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def bench(spark, sf_dir: str, names: list[str], session_start_s: float) -> dict:
    """Best-of-RUNS noop-sink wall time per query, with the canary series.

    Keys: metric, value (sum of the bests), unit, queries {name: best},
    runs {name: every timed run}, canary {query, every, series}, sf,
    compiles {name: generated classes compiled during its timed runs},
    session_start_s (get_spark's wall time), class_archive (what the
    session start did with the class-data archive, see
    session.get_spark) and stamp. A warm query whose plan repeats
    compiles no new classes, so a nonzero ``compiles`` entry means it
    generates different code per run or the codegen class cache is too
    small for the working set (session.CODEGEN_CACHE_ENTRIES)."""
    # Spark's count of generated classes compiled (cache misses) in this JVM
    compiled = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount
    )
    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    compiles: dict[str, int] = {}
    with registry(spark, sf_dir, names) as qs:

        def timed_run(name: str) -> float:
            t0 = time.perf_counter()
            _noop(qs[name](spark, sf_dir))
            elapsed = time.perf_counter() - t0
            # drop frames persisted inside operators (dedup shingle
            # tables) so measurements stay isolated across queries
            spark.catalog.clearCache()
            return round(elapsed, 4)

        qs[names[0]](spark, sf_dir).count()  # prime JVM, codegen, parquet footers
        timed_run(CANARY)  # the canary's own warmup
        canary = [timed_run(CANARY)]
        for qi, name in enumerate(names):
            timed_run(name)  # untimed warmup
            c0 = compiled()
            all_runs[name] = [timed_run(name) for _ in range(RUNS)]
            compiles[name] = compiled() - c0
            timings[name] = min(all_runs[name])
            if (qi + 1) % CANARY_EVERY == 0:
                canary.append(timed_run(CANARY))
        canary.append(timed_run(CANARY))  # the tail window is always covered
    return {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "runs": all_runs,
        "canary": {"query": CANARY, "every": CANARY_EVERY, "series": canary},
        "sf": sf_of(sf_dir),
        "compiles": compiles,
        "session_start_s": round(session_start_s, 4),
        "class_archive": session.class_archive,
        "stamp": stamp(spark, sf_dir),
    }


def _rerun_hostile(spark, fn, sf_dir: str, pdf, hash_checked: bool) -> dict:
    try:
        with hostile(spark):
            b = normalize_pdf(fn(spark, sf_dir).toPandas())
    except Exception as e:  # noqa: BLE001
        return {"status": "fail", "err": f"spark: {e}"[:300]}
    a = normalize_pdf(pdf)
    if a == b:
        return {"status": "invariant", "rows": len(b)}
    diffs = [f"{x} != {y}" for x, y in zip(a, b) if x != y][:3]
    return {
        "status": "sensitive" if hash_checked else "sensitive_rows_only",
        "rows": len(b),
        "err": f"rows {len(a)} -> {len(b)}; {'; '.join(diffs)}"[:300],
    }


def compare(spark, sf_dir: str, names: list[str], label: str = "protected",
            hostile_pass: bool = False) -> dict:
    """The loop of the oracle and determinism modes.

    Each query's output in ``spark`` is checked against its DuckDB
    oracle and recorded under ``label``: ``ok``, ``rows_only`` (no
    oracle) or ``fail``. With ``hostile_pass`` the query runs again
    under ``testing.HOSTILE`` and that output is checked against the
    first, recorded under ``hostile``: ``invariant``, ``sensitive`` (a
    hash-checked query, so a latent driver flake), ``sensitive_rows_only``
    (recorded, not a failure) or ``fail``."""
    oracles = entry.oracle_sql()
    queries: dict[str, dict] = {}
    with oracle_db(sf_dir) as con, registry(spark, sf_dir, names) as qs:
        for name in names:
            rec = queries[name] = {}
            pdf = None
            try:
                pdf = qs[name](spark, sf_dir).toPandas()
                spark.catalog.clearCache()
                problems = (
                    compare_frames(pdf, con.execute(oracles[name]).fetchdf())
                    if name in oracles else []
                )
            except Exception as e:  # noqa: BLE001
                problems = [f"{'spark' if pdf is None else 'duckdb'}: {e}"]
            rec[label] = (
                {"status": "fail", "err": "; ".join(problems)[:300]} if problems
                else {"status": "ok" if name in oracles else "rows_only", "rows": len(pdf)}
            )
            if hostile_pass and pdf is not None:
                rec["hostile"] = _rerun_hostile(spark, qs[name], sf_dir, pdf, name in oracles)
            print(f"{name}: " + ", ".join(f"{k} {r['status']}" for k, r in rec.items()), flush=True)
    st = stamp(spark, sf_dir)
    labels = [label, "hostile"] if hostile_pass else [label]
    return {
        "sessions": {
            lb: {
                "stamp": st,
                "counts": dict(Counter(r[lb]["status"] for r in queries.values() if lb in r)),
            }
            for lb in labels
        },
        "queries": queries,
    }


def scale(small_dir: str, big_dir: str, names: list[str]) -> dict:
    """``bench`` at both dirs, each in a fresh process, and the per-query
    time ratio against the data ratio; ``flagged`` holds the queries
    that grew more than SLACK times the data ratio."""

    def run(sf_dir: str) -> dict:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "bench", sf_dir, *names],
            stdout=subprocess.PIPE, text=True, check=True,
        ).stdout
        return json.loads(next(ln for ln in out.splitlines() if ln.startswith("{")))

    small, big = run(small_dir), run(big_dir)
    data_ratio = big["sf"] / small["sf"]
    ratios = {n: t / max(small["queries"][n], 1e-9) for n, t in big["queries"].items()}
    flagged = {
        n: round(r, 2) for n, r in ratios.items()
        if small["queries"][n] >= MIN_SMALL_SEC and r > SLACK * data_ratio
    }
    print(f"{'query':42s} {'small':>8s} {'big':>8s} {'ratio':>7s}")
    for n, r in sorted(ratios.items(), key=lambda kv: -kv[1]):
        mark = "  <-- SUPER-LINEAR" if n in flagged else ""
        print(f"{n:42s} {small['queries'][n]:8.3f} {big['queries'][n]:8.3f} {r:7.2f}{mark}")
    print(f"total {small['value']:.1f}s -> {big['value']:.1f}s at {data_ratio:g}x data")
    return {
        "stamp": {**small["stamp"], "sf": [small["sf"], big["sf"]],
                  "command": shlex.join(["python", *sys.argv])},
        "small_dir": small_dir,
        "big_dir": big_dir,
        "data_ratio": data_ratio,
        "slack": SLACK,
        "small": small,
        "big": big,
        "flagged": flagged,
        "ok": not flagged,
    }


def plans(spark, sf_dir: str, names: list[str]) -> dict:
    """``explain formatted`` of each query and the anti-pattern hits."""
    out: dict[str, str] = {}
    with registry(spark, sf_dir, names) as qs:
        for name in names:
            df = qs[name](spark, sf_dir)
            out[name] = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            ).rstrip()
    hits = {n: [p for p in ANTI_PATTERNS if p in plan] for n, plan in out.items()}
    return {"stamp": stamp(spark, sf_dir), "plans": out,
            "hits": {n: h for n, h in hits.items() if h}}


def plans_md(record: dict) -> str:
    lines = [
        "# PLANS — physical plans of the plan-carrying queries",
        "",
        "Generated by `python tools/runner.py plans` (sf0.001 statistics; "
        "structure, not sizes, is the point). Read for: where the "
        "shuffles are (`Exchange`), what broadcasts (`BroadcastExchange`"
        "/`BroadcastHashJoin`), what reaches the scan (`PushedFilters`, "
        "`ReadSchema`), and how wide the `WholeStageCodegen` spans are.",
        "",
        f"Stamp: `{json.dumps(record['stamp'], sort_keys=True)}`",
        "",
    ]
    for name, plan in record["plans"].items():
        lines += [f"## {name}", "", "```", plan, "```", ""]
    bad = record["hits"]
    lines += [
        "## anti-pattern scan",
        "",
        f"Patterns: {', '.join(ANTI_PATTERNS)} — "
        + (f"**HITS: {bad}**" if bad else "0 hits across all plans above."),
        "",
    ]
    return "\n".join(lines)


def stages(spark, sf_dir: str, names: list[str]) -> dict:
    """Each query once untimed, then once timed under its own job group;
    the group's completed stages are read from the status store (skipped
    stages, whose shuffle output an earlier job left, are not listed)."""
    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    quantiles = sc._gateway.new_array(sc._jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    out: dict[str, dict] = {}
    with registry(spark, sf_dir, names) as qs:
        for name in names:
            _noop(qs[name](spark, sf_dir))
            spark.catalog.clearCache()
            group = f"runner-stages-{name}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            _noop(qs[name](spark, sf_dir))
            wall = time.perf_counter() - t0
            spark.catalog.clearCache()
            sc._jsc.clearJobGroup()
            # the status store is filled by the listener thread: wait for it
            sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
            jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
            rows = []
            for sid in sorted({s for j in jobs if j for s in j.stageIds}):
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue
                dist = store.taskSummary(sid, sd.attemptId(), quantiles)
                rt = dist.get().executorRunTime() if dist.isDefined() else None
                rows.append({
                    "stage": sid,
                    "name": sd.name()[:80],
                    "s": (sd.completionTime().get().getTime()
                          - sd.submissionTime().get().getTime()) / 1000,
                    "tasks": sd.numTasks(),
                    "input_bytes": sd.inputBytes(),
                    "shuffle_read_bytes": sd.shuffleReadBytes(),
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    "max_task_ms": rt.apply(1) if rt else 0.0,
                    "median_task_ms": rt.apply(0) if rt else 0.0,
                })
            out[name] = {"s": round(wall, 4), "stages": rows}
            print(f"\n=== {name}: {wall:.3f}s (noop sink) ===")
            print("stage    dur_s tasks input_MB sread_MB swrite_MB spill_MB max_ms med_ms name")
            for r in rows:
                print(
                    f"{r['stage']:5d} {r['s']:8.2f} {r['tasks']:5d} "
                    f"{r['input_bytes'] / 1e6:8.1f} {r['shuffle_read_bytes'] / 1e6:8.1f} "
                    f"{r['shuffle_write_bytes'] / 1e6:9.1f} {r['spill_bytes'] / 1e6:8.1f} "
                    f"{r['max_task_ms']:6.0f} {r['median_task_ms']:6.0f} {r['name']}"
                )
    return {"stamp": stamp(spark, sf_dir), "queries": out}


def write(path: str, record: dict) -> None:
    """Write ``record`` as JSON; a record with ``sessions`` (oracle,
    determinism) merges into an existing file of the same shape, its
    sessions replacing those of the same name."""
    if "sessions" in record and os.path.exists(path):
        with open(path) as fh:
            old = json.load(fh)
        if "sessions" in old:
            old["sessions"].update(record["sessions"])
            for name, rec in record["queries"].items():
                old["queries"].setdefault(name, {}).update(rec)
            record = old
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="tools/runner.py", description=__doc__.split("\n\n")[0],
    )
    p.add_argument("mode", choices=MODES)
    p.add_argument("--json", metavar="OUT", help="also write the record to OUT")
    p.add_argument("--bare", action="store_true",
                   help="oracle mode: a session with Spark defaults only")
    p.add_argument("args", nargs="*", metavar="sf_dir|query")
    a = p.parse_intermixed_args(argv)
    if a.bare and a.mode != "oracle":
        p.error("--bare applies to the oracle mode only")
    dirs = [x for x in a.args if os.path.isdir(x)] or DEFAULT_DIRS[a.mode]
    names = [x for x in a.args if not os.path.isdir(x)]
    unknown = sorted(set(names) - set(entry.queries()) - {"x216_ingest_probe"})
    if unknown:
        p.error(f"no such fixture dir or query: {unknown}")
    if a.mode == "scale":
        if len(dirs) != 2 or None in map(sf_of, dirs):
            p.error("scale takes two fixture dirs named for their scale (sf<N>), small then big")
        record = scale(*dirs, names)
        failed = list(record["flagged"])
    else:
        if not names:
            if a.mode == "stages":
                p.error("stages takes the queries to profile")
            from bench import HEADLINE

            names = {"bench": HEADLINE, "plans": PLAN_QUERIES}.get(a.mode) or list(entry.queries())
        t0 = time.perf_counter()
        spark = bare_spark() if a.bare else session.get_spark(f"runner-{a.mode}")
        start_s = time.perf_counter() - t0
        if a.mode == "bench":
            record = bench(spark, dirs[0], names, start_s)
            print(json.dumps(record))
            failed = []
        elif a.mode in ("oracle", "determinism"):
            record = compare(spark, dirs[0], names, "bare" if a.bare else "protected",
                             hostile_pass=a.mode == "determinism")
            failed = [
                f"{n} ({k})" for n, rec in record["queries"].items()
                for k, r in rec.items() if r["status"] in ("fail", "sensitive")
            ]
            for k, s in record["sessions"].items():
                print(f"{k}: {s['counts']}")
        elif a.mode == "plans":
            record = plans(spark, dirs[0], names)
            with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
                fh.write(plans_md(record))
            failed = list(record["hits"])
            print(f"wrote PLANS.md ({len(names)} plans)")
        else:
            record = stages(spark, dirs[0], names)
            failed = []
    if a.json:
        write(a.json, record)
    if failed:
        print(f"{len(failed)} failed: {failed}", file=sys.stderr)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
