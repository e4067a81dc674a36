"""SparkSession factory tuned for both local testing and cluster scale.

Local mode is a single JVM; the settings below are the ones that still
matter there (shuffle partition count, AQE, Arrow, the codegen class
cache). The config is the same at every core count: shuffle partitions
are ``SHUFFLE_PARTITIONS`` (32) and AQE coalesces small post-shuffle
partitions down from that; ``SPARK_GRAFT_CPUS`` (default 32) sets only
the ``local[N]`` master's thread count. On a real cluster the same
builder is correct — the skew-join/broadcast settings kick in where they
matter at 100 TB.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import shutil
import subprocess

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# initial shuffle partitions, whatever the core count; see the config
# note in get_spark
SHUFFLE_PARTITIONS = 32
# generated classes kept per JVM (Spark's default is 100); see the
# config note in get_spark
CODEGEN_CACHE_ENTRIES = 1000

# The driver JVM's class-data archive (see the config note in get_spark).
# ``class_archive`` says what the last session start did with it:
# "mapped", "dumping" or "off: <reason>". ``_dump`` is this process's
# dump: its tmp and final paths, then the JVM writing it, then "done".
# Both are module state because the driver JVM is one per process.
class_archive = "off: no session started"
_dump: dict = {}
# unified-logging CDS warnings (hundreds of skipped signed-jar and old
# classes while dumping, a mismatch notice on fallback) go to stdout
# by default; keep them off it
_QUIET_CDS = "-Xlog:cds=off -Xlog:cds+dynamic=off"


def _class_archive() -> tuple[str, str]:
    """(driver JVM options, state): map this JDK + class path's archive
    when it exists, else dump it at JVM exit, at most once per process."""
    home = _find_spark_home()
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "spark-graft", "cds",
    )
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
    names = os.listdir(conf) if os.path.isdir(conf) else []
    try:
        if "SPARK_CONF_DIR" not in os.environ and all(
            n.endswith(".template") for n in names
        ):
            # the dump refuses a non-empty directory on the class path
            conf = os.path.join(cache, "conf")
            os.makedirs(conf, exist_ok=True)
            os.environ["SPARK_CONF_DIR"] = conf
        elif names:
            return "", f"off: SPARK_CONF_DIR {conf} holds files"
    except OSError as e:
        return "", f"off: {e}"
    java = os.path.realpath(
        os.path.join(os.environ["JAVA_HOME"], "bin", "java")
        if os.environ.get("JAVA_HOME") else shutil.which("java") or "java"
    )
    key = hashlib.sha256()
    for p in [java, conf] + sorted(glob.glob(os.path.join(home, "jars", "*"))):
        st = os.stat(p) if os.path.exists(p) else None
        key.update(f"{p}:{st and st.st_size}:{st and st.st_mtime_ns}\n".encode())
    final = os.path.join(cache, key.hexdigest()[:16] + ".jsa")
    if os.path.exists(final):
        return f"-XX:SharedArchiveFile={final} -Xshare:auto {_QUIET_CDS}", "mapped"
    if _dump.get("final") == final and _dump.get("done"):
        return "", "off: this process's dump failed"
    if "tmp" not in _dump:
        atexit.register(_finish_dump)
    _dump.update(final=final, tmp=f"{final}.{os.getpid()}.tmp")
    return f"-XX:ArchiveClassesAtExit={_dump['tmp']} {_QUIET_CDS}", "dumping"


def _finish_dump() -> None:
    """Wait for the JVM writing the archive to exit (it exits once its
    stdin closes), move a complete archive into place and drop the
    archives of other keys; a killed or failed dump leaves no file."""
    if "tmp" not in _dump or _dump.get("done"):
        return
    proc = _dump.pop("proc", None) or getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    _dump["done"] = True
    tmp, final = _dump["tmp"], _dump["final"]
    try:
        proc.stdin.close()
        ok = proc.wait(timeout=120) == 0 and os.path.getsize(tmp) > 0
        if ok:
            os.replace(tmp, final)
    except (OSError, subprocess.TimeoutExpired):
        ok = False
    for f in glob.glob(os.path.join(os.path.dirname(final), "*.*")):
        if f.endswith(".tmp"):  # this dump's, or one whose process died
            stale = f == tmp or not os.path.exists(f"/proc/{f.rsplit('.', 2)[1]}")
        else:  # the archive of another JDK or class path
            stale = ok and f != final
        if stale:
            with contextlib.suppress(OSError):
                os.remove(f)


def base_confs() -> dict[str, str]:
    """The session config dict, factored out so tools (profilers, plan
    dumpers) build sessions with EXACTLY the production configs instead
    of hand-copied subsets that drift (a profiler that omits the join configs
    profiles SMJ plans that production never runs). ``SPARK_GRAFT_EXTRA_CONF``
    overrides are applied last, here, so every consumer honors the deployment
    hook."""
    confs = {
        "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": str(
            64 * 1024 * 1024
        ),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.ui.enabled": "false",
        "spark.driver.memory": "8g",
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
    }
    global class_archive
    opts, class_archive = _class_archive()
    if opts:
        confs["spark.driver.defaultJavaOptions"] = opts
    # cluster-tuning hook: ';'-separated key=value pairs, applied last so
    # a deployment (or an A/B run) can override any default above without
    # code changes, e.g. SPARK_GRAFT_EXTRA_CONF=
    # "spark.sql.shuffle.partitions=2000;spark.io.compression.codec=zstd"
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            confs[k.strip()] = v.strip()
    if confs.get("spark.driver.defaultJavaOptions", "") != opts:
        class_archive = "off: spark.driver.defaultJavaOptions overridden"
    return confs


def get_spark(app_name: str = "dirty_js_etl_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime partition coalescing, skew-join splitting, and
      dynamic broadcast conversion — the main levers that keep the same
      plan healthy from sf0.001 (6k rows) to 100 TB.
    - ``spark.sql.session.timeZone=UTC``: parity with the DuckDB oracle
      (DuckDB timestamps are UTC-naive).
    - Arrow enabled: every Pandas-UDF path (multimodal, minhash batch
      ops) transfers columnar batches, not pickled rows.
    """
    # Config notes (the dict itself lives in base_confs so tools reuse it):
    #
    # - shuffle.partitions=SHUFFLE_PARTITIONS (32) on every box, not the
    #   core count: plan shapes (skew splits, the linkage spread below
    #   x205/x210, SMJ vs SHJ) then do not depend on where a query runs,
    #   and AQE coalesces the count down where bytes are few. AQE splits
    #   a partition only above skewedPartitionFactor (default 5, 2 in
    #   the skew test) times the median. With one key holding 10% of the
    #   rows and n partitions, the hot partition is 0.1 + 0.9/n of the
    #   rows and the median 0.9/n, so hot/median = 1 + n/9: 1.4x at 4
    #   partitions, 1.9x at 8, 4.6x at 32. Partitions tied to 4 cores
    #   could never split that key. At 200 (Spark's default) AQE turns
    #   the skew test's join into a ShuffledHashJoin instead.
    #   Cost against partitions = cores on 4 cores / 16 GB (perfbench,
    #   10 interleaved pairs each, BENCH_AB_fixed_partitions.json):
    #   `iterative` cpu_s median 19.7 -> 20.4 s (+3%), `merge_bulk`
    #   20.5 -> 22.3 s (+9%, higher in 9/10 pairs); setup_s +1% / -7%;
    #   no failed operation. A deployment sets its own count through
    #   SPARK_GRAFT_EXTRA_CONF.
    #
    # - parquet.inferTimestampNTZ=false: parquet writers that omit the
    #   isAdjustedToUTC flag (pandas/pyarrow defaults) would otherwise
    #   surface as TIMESTAMP_NTZ under Spark 4's inference, breaking epoch
    #   math (cast to long is an AnalysisException on NTZ under ANSI mode)
    #   and streaming watermarks. Force LTZ reads — with the UTC session
    #   timezone this matches how the DuckDB oracle reads the same files.
    #
    # - Join strategy (guide §3.1), two distinct legs:
    #   (a) AQE maxShuffledHashJoinLocalMapThreshold=64m converts SMJ→SHJ
    #       at runtime using ACTUAL post-shuffle sizes — every build
    #       partition must be under 64 MB, which bounds the per-task hash
    #       map, so this leg is size-safe by construction.
    #   (b) preferSortMergeJoin=false additionally lets the STATIC planner
    #       pick SHJ from size ESTIMATES (canBuildLocalHashMap). Estimates
    #       can be badly wrong after filters/explodes at cluster scale, and
    #       an SHJ build side does not spill — a misestimate can OOM an
    #       executor where SMJ would have spilled. Kept because A/Bs
    #       measured a real win on top of (a) (a join-heavy bench subset
    #       20.7→15.9 s; x194 2.5→0.94 s); deployments
    #       joining skew-prone or estimate-hostile inputs should flip it
    #       back via SPARK_GRAFT_EXTRA_CONF=
    #       "spark.sql.join.preferSortMergeJoin=true" and keep leg (a).
    #   zstd shuffle compression and a smaller AQE minPartitionSize were
    #   A/B'd alongside and REJECTED (both regressed at bench scale).
    #
    # - driver.memory=8g: single-JVM local mode — the driver heap IS the
    #   executor heap. Measured on this box: 8g beats 64g by >10x on
    #   shuffle-heavy queries (oversized G1 heaps collapse on these
    #   vCPUs) — keep the heap small and clear persisted frames between
    #   workloads instead.
    #
    # - codegen.cache.maxEntries=CODEGEN_CACHE_ENTRIES (1000): Spark's LRU
    #   of compiled whole-stage/expression classes, default 100. Measured
    #   working sets (entries): one perfbench `iterative` round (x143,
    #   x206, x201 at sf0.001) 140-141, one `merge_bulk` round 59-63, the
    #   60 bench.py headline queries at sf0.001 887-983. In local mode the
    #   driver and the executor threads compile under two class loaders,
    #   which are part of the cache key, so a class used on both sides
    #   takes two entries (90-91 distinct sources). At 100 the iterative
    #   round evicted its own classes and recompiled 112-133 per warm
    #   round (Janino plus a second C2 JIT pass); at 1000 it compiles
    #   0-7, and its `cpu_s` median fell 14-20% in 4-core ABABs. Cost:
    #   ~35 KB of metaspace per entry, so a full cache is ~35 MB. It is
    #   a static conf: read once when the JVM's first session starts, so
    #   it must be set on the builder (or SPARK_GRAFT_EXTRA_CONF), never
    #   with spark.conf.set on a running session.
    #
    # - driver.defaultJavaOptions = a dynamic AppCDS archive (JDK 13+;
    #   Spark 4 needs 17): the JVM maps the classes an earlier start
    #   loaded instead of reading, verifying and linking ~11k classes
    #   from 287 jars again. A hit passes -XX:SharedArchiveFile=<f>
    #   -Xshare:auto; a miss passes -XX:ArchiveClassesAtExit=<tmp>, and
    #   _finish_dump renames the file into place once the JVM has exited
    #   with status 0 (at interpreter exit, or at the next JVM launch of
    #   this process), so a killed or partial dump never reaches the
    #   final path; concurrent first runs each write their own
    #   pid-named tmp. The archive lives at
    #   ${XDG_CACHE_HOME:-~/.cache}/spark-graft/cds/<key>.jsa, keyed by
    #   the java binary and the class path (conf dir, $SPARK_HOME/jars
    #   names, sizes and mtimes), never by per-run JVM options, so
    #   tier-1, tools and perfbench share one. A new key's archive
    #   deletes the others. defaultJavaOptions, not extraJavaOptions:
    #   the launcher prepends it, so a deployment's (or perfbench's)
    #   extraJavaOptions keep it. The dump refuses a non-empty
    #   directory on the class path, so when SPARK_CONF_DIR is unset
    #   and $SPARK_HOME/conf holds only templates it points at an empty
    #   dir in the cache; a conf dir with real files is never
    #   overridden and the JVM then starts without an archive. The JVM
    #   rejects an archive it cannot use (another JDK, a damaged file)
    #   and loads classes as usual; its java.vm.info then lacks
    #   ", sharing" (a mapped archive always maps the JDK's base archive
    #   with it), so a mapped start reads that property once and
    #   deletes a rejected file, and the next start dumps a new one. A
    #   valid archive of another class path would still read "sharing"
    #   (its base archive maps), but the key already rules that out.
    #   Measured on 4 cores / 16 GB
    #   (perfbench, interleaved pairs, BENCH_AB_class_archive.json):
    #   session start 8.9-9.9 s -> 4.1-5.2 s; `iterative` setup_s
    #   33.1 -> 25.8 s (-22%, 10/10 pairs), `merge_bulk` 34.5 -> 25.8 s
    #   (-25%, 6/6); cpu_s within 3%. One-time cost: the dumping start
    #   takes ~14 s instead of ~6-9 s and the dump adds ~16 s at JVM
    #   exit; the archive is 140-175 MB. Opt out with
    #   SPARK_GRAFT_EXTRA_CONF="spark.driver.defaultJavaOptions=".
    global class_archive
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    launching = SparkContext._gateway is None
    if launching:
        _finish_dump()  # an earlier JVM of this process dumped and exited
    confs = base_confs()
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if launching and class_archive == "dumping":
        # kept past a caller's gateway shutdown, for the exit-time rename
        _dump["proc"] = SparkContext._gateway.proc
    if launching and class_archive == "mapped" and "sharing" not in (
        spark._jvm.System.getProperty("java.vm.info")
    ):
        archive = confs["spark.driver.defaultJavaOptions"].split()[0]
        with contextlib.suppress(OSError):
            os.remove(archive.removeprefix("-XX:SharedArchiveFile="))
        class_archive = "off: archive rejected"
    spark.sparkContext.setLogLevel("WARN")
    return spark
