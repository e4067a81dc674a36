"""SparkSession factory tuned for both local testing and cluster scale.

Local mode is a single JVM; the settings below are the ones that still
matter there (shuffle partition count, AQE, Arrow, the codegen class
cache). Shuffle partitions = ``SPARK_GRAFT_CPUS`` (default 32), and AQE
coalesces small post-shuffle partitions down from that. On a real
cluster the same builder is correct — the skew-join/broadcast settings
kick in where they matter at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# generated classes kept per JVM (Spark's default is 100); see the
# config note in get_spark
CODEGEN_CACHE_ENTRIES = 1000


def base_confs() -> dict[str, str]:
    """The session config dict, factored out so tools (profilers, plan
    dumpers) build sessions with EXACTLY the production configs instead
    of hand-copied subsets that drift (ADVICE r13: the r13 profiler
    omitted the join configs and profiled SMJ plans that production
    never runs). ``SPARK_GRAFT_EXTRA_CONF`` overrides are applied last,
    here, so every consumer honors the deployment hook."""
    confs = {
        "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
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
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
    }
    # cluster-tuning hook: ';'-separated key=value pairs, applied last so
    # a deployment (or an A/B run) can override any default above without
    # code changes, e.g. SPARK_GRAFT_EXTRA_CONF=
    # "spark.sql.shuffle.partitions=2000;spark.io.compression.codec=zstd"
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            confs[k.strip()] = v.strip()
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
    #       executor where SMJ would have spilled (ADVICE r13). Kept
    #       because the r13/r14 A/Bs measured a real win on top of (a)
    #       (r13 join subset 20.7→15.9 s; x194 2.5→0.94 s); deployments
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
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    for k, v in base_confs().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
