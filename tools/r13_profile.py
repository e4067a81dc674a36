"""Per-stage profile of one (or more) registered queries.

Runs each named query once (noop sink, after one untimed warmup) with
Spark event logging enabled, then parses the event log into a per-stage
table: stage id, name (first line), duration, task count, shuffle
read/write bytes, input bytes, and the max/median task-time ratio
(skew signal). Also prints the AQE FINAL executed plan (simple string).

Usage: SPARK_GRAFT_SF_DIR=... python tools/r13_profile.py q1 [q2 ...]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dirty_js_etl_spark.queries import all_queries  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    names = sys.argv[1:]
    log_dir = tempfile.mkdtemp(prefix="r13_eventlog_")
    from pyspark.sql import SparkSession

    from dirty_js_etl_spark.session import base_confs

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # EXACTLY the production session configs (a hand-copied subset that
    # omits the join configs profiles SMJ plans production never runs),
    # plus event logging. base_confs() applies SPARK_GRAFT_EXTRA_CONF
    # last, the one override hook.
    builder = (
        SparkSession.builder.appName("r13_profile")
        .master(f"local[{cpus}]")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", log_dir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
    )
    for k, v in base_confs().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    qs = dict(all_queries())
    try:
        import bench

        qs["x216_ingest_probe"] = bench._x216_ingest_probe
        if any(n == "x216_ingest_probe" for n in names):
            bench._prep_x216_index(spark, SF_DIR, bench._x216_index_dir(SF_DIR))
    except Exception as e:  # noqa: BLE001
        print("bench import:", e)

    for name in names:
        fn = qs[name]
        # warmup
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"r13_profile:{name}")
        t0 = time.perf_counter()
        df = fn(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        print(f"\n=== {name}: {t1 - t0:.3f}s (timed run, noop sink) ===")
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(None)
        try:
            # The noop write above executed a SEPARATE write-command
            # QueryExecution, so df's own plan would still print
            # isFinalPlan=false. PROFILE_COLLECT=1 executes df's own
            # QueryExecution (collect) first, making this the true
            # post-AQE final plan (AQEShuffleRead, runtime join
            # rewrites).
            if os.environ.get("PROFILE_COLLECT"):
                df.collect()
                print("--- AQE final plan (post-execution, collect) ---")
            else:
                print("--- AQE initial plan (not executed) ---")
            print(df._jdf.queryExecution().executedPlan().toString()[:120000])
        except Exception as e:  # noqa: BLE001
            print("plan:", e)

    app_id = spark.sparkContext.applicationId
    spark.stop()
    # parse the event log (name may carry a suffix, e.g. .inprogress)
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        cands = [
            os.path.join(log_dir, f)
            for f in os.listdir(log_dir)
            if f.startswith(app_id) or app_id in f
        ]
        if not cands:
            cands = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        path = cands[0]
    if os.path.isdir(path):
        files = sorted(
            f for f in os.listdir(path) if f.startswith("events")
        )
        lines = (ln for f in files for ln in open(os.path.join(path, f)))
    else:
        lines = iter(open(path))
    stages = {}
    starts = {}
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        et = ev.get("Event")
        if et == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sid = si["Stage ID"]
            sub = si.get("Submission Time")
            comp = si.get("Completion Time")
            stages[sid] = {
                "name": si.get("Stage Name", "")[:80],
                "dur_s": (comp - sub) / 1000.0 if sub and comp else None,
                "tasks": si.get("Number of Tasks"),
                "sub": sub,
                "task_times": [],
                "sread": 0,
                "swrite": 0,
                "input": 0,
            }
        elif et == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            ti = ev.get("Task Info", {})
            tm = ev.get("Task Metrics") or {}
            rec = starts.setdefault(
                sid, {"task_times": [], "sread": 0, "swrite": 0, "input": 0}
            )
            dur = (ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1000.0
            rec["task_times"].append(dur)
            rec["sread"] += (tm.get("Shuffle Read Metrics") or {}).get(
                "Remote Bytes Read", 0
            ) + (tm.get("Shuffle Read Metrics") or {}).get("Local Bytes Read", 0)
            rec["swrite"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            rec["input"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
    rows = []
    for sid, s in sorted(stages.items()):
        m = starts.get(sid, {})
        tt = sorted(m.get("task_times", []))
        med = tt[len(tt) // 2] if tt else 0
        mx = tt[-1] if tt else 0
        rows.append(
            (
                sid,
                s["sub"],
                s["dur_s"],
                s["tasks"],
                m.get("input", 0),
                m.get("sread", 0),
                m.get("swrite", 0),
                round(mx, 2),
                round(med, 3),
                s["name"],
            )
        )
    print("\nsid sub_ms dur_s tasks input_MB sread_MB swrite_MB maxtask medtask name")
    base = min((r[1] for r in rows if r[1]), default=0)
    for r in rows:
        print(
            f"{r[0]:4d} {((r[1] or base) - base)/1000.0:8.2f} {r[2] or 0:7.2f} "
            f"{r[3] or 0:5d} {r[4]/1e6:8.1f} {r[5]/1e6:8.1f} {r[6]/1e6:9.1f} "
            f"{r[7]:7.2f} {r[8]:7.3f}  {r[9]}"
        )
    shutil.rmtree(log_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
