"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same fixture dir, then compares row count, column-name set, and
an order-insensitive value hash (columns sorted by name, rows sorted,
values stringified with float rounding). Not the driver's exact hash — a
fast feedback loop with the same shape.

The comparison is ``dirty_js_etl_spark.testing.compare_frames`` (floats
to 12 significant digits, ±0.0 collapsed), the same rule the pytest mirror
applies. Every query that is hash-green at 12g was also hash-green under
the driver in rounds 1–3 where the windows overlap — the 82 worked
examples agree.

Usage: python tools/check_oracle.py [--json OUT.json] [--bare-session]
                                    [sf_dir] [query ...]

``--json`` additionally writes a machine-readable record per query
(status, rows, error) — committed as ``CORRECTNESS_LOCAL_*.json`` so the
full-registry verification (all queries, not just the driver's window)
is on the record each round.

``--bare-session`` is the DRIVER-PARITY mode: it builds
a SparkSession with none of ``session.get_spark``'s protections — no
``inferTimestampNTZ=false``, no pre-set ``nanosAsLong``, no builder-time
UTC timezone — exactly the class of session the driver hands to
``queries()``. Every works-locally-dies-under-the-driver failure across
rounds 2–4 (streaming NTZ, x61/x139 epoch math on NTZ) would have failed
locally under this mode.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dirty_js_etl_spark.catalog import FIXTURE_TABLES  # noqa: E402
from dirty_js_etl_spark.session import get_spark  # noqa: E402
from dirty_js_etl_spark.testing import compare_frames  # noqa: E402


def _run_meta() -> dict:
    """Self-dating metadata: every committed artifact should say which
    head and instant it describes (sweeps whose rows did not change are
    byte-identical, so mtime/git alone cannot prove freshness)."""
    import datetime
    import subprocess

    try:
        head = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except Exception:  # noqa: BLE001
        head = None
    return {
        "git_head": head,
        "generated_utc": datetime.datetime.now(
            datetime.timezone.utc
        ).isoformat(timespec="seconds"),
    }


def get_bare_spark():
    """A deliberately unprotected session — Spark defaults only, like the
    driver's. (UI off and a local master are environmental, not semantic.)"""
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.appName("oracle-check-bare")
        .master(f"local[{cpus}]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def main() -> int:
    # order-insensitive flag parsing (positional consumption would
    # silently eat '--json' as sf_dir when flags are swapped)
    args = sys.argv[1:]
    json_out = None
    bare = False
    rest: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--json":
            if i + 1 >= len(args):
                raise SystemExit("--json requires an output path")
            json_out = args[i + 1]
            i += 2
        elif a == "--bare-session":
            bare = True
            i += 1
        elif a.startswith("--"):
            raise SystemExit(f"unknown flag {a!r}")
        else:
            rest.append(a)
            i += 1
    sf_dir = rest[0] if rest else "/root/testdata/sf0.01"
    only = set(rest[1:])
    record: dict[str, dict] = {}

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    spark = get_bare_spark() if bare else get_spark("oracle-check")
    con = duckdb.connect()
    # Spill outside the worktree: the default temp_directory is cwd-relative
    # (.tmp/), and a large sweep once committed a 2.1 GB spill file into git.
    # per-process spill dir: DuckDB's spill file names are not
    # process-unique, so concurrent sweeps/test runs would clobber
    # each other's files under a shared path
    con.execute(
        f"SET temp_directory='/tmp/duckdb_oracle_tmp_{os.getpid()}'"
    )
    for t in FIXTURE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            spark_pdf = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failed.append(name)
            record[name] = {"status": "fail", "err": f"spark: {e}"[:300]}
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(spark_pdf)} rows")
            record[name] = {"status": "rows_only", "rows": len(spark_pdf)}
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failed.append(name)
            record[name] = {"status": "fail", "err": f"duckdb: {e}"[:300]}
            continue
        problems = compare_frames(spark_pdf, duck_pdf)
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            failed.append(name)
            record[name] = {"status": "fail", "err": "; ".join(problems)[:300]}
        else:
            print(f"OK   {name}: {len(spark_pdf)} rows")
            record[name] = {"status": "ok", "rows": len(spark_pdf)}

    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    if json_out:
        summary = {
            **_run_meta(),
            "session": "bare" if bare else "protected",
            "sf_dir": sf_dir,
            "n_queries": len(record),
            "n_ok": sum(1 for r in record.values() if r["status"] == "ok"),
            "n_rows_only": sum(
                1 for r in record.values() if r["status"] == "rows_only"
            ),
            "n_fail": len(failed),
            "queries": record,
        }
        with open(json_out, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
