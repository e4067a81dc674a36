"""Partitioning-invariance audit — the nondeterminism twin of check_oracle.

The driver's correctness gate hashes query output values. A query whose
output depends on physical partitioning (float aggregation order, an
unordered ``first()``/``limit``, a tie-broken-by-arrival window) can be
hash-green for rounds and then flake when the driver box picks a
different split — the same latent-risk class as the cross-engine
``F.round`` midpoints (ROUND_AUDIT.json), but on the Spark side alone.

This tool closes the class mechanically: every registry query runs
twice on the SAME session —

- **pass A**: the production config (32 shuffle partitions, AQE on,
  default 128 MiB scan splits);
- **pass B**: deliberately hostile partitioning — 7 shuffle partitions,
  1 MiB scan splits with zero file-open cost (so even sf0.01 parquet
  fans out to many input splits), AQE off (no runtime coalescing to
  accidentally re-merge what we split).

and the two outputs are compared with ``testing.normalize_pdf`` (column
sort, row sort, 12-significant-digit floats). A hash-checked query that
differs between passes is a latent driver flake — a must-fix. A
rows-only query may be legitimately sensitive (float k-means: centroid
sums in partition order); those are recorded with status
``sensitive_rows_only`` so the exposure is on the record, not assumed.

Usage: python tools/determinism_audit.py [--json OUT.json] [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dirty_js_etl_spark.testing import normalize_pdf  # noqa: E402
from tools.check_oracle import _run_meta  # noqa: E402

# pass-B overrides: every knob here is runtime-settable via spark.conf
HOSTILE = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.files.maxPartitionBytes": str(1024 * 1024),
    "spark.sql.files.openCostInBytes": "0",
    "spark.sql.adaptive.enabled": "false",
}


def _run(fn, spark, sf_dir):
    df = fn(spark, sf_dir)
    return normalize_pdf(df.toPandas())


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    rest: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--json":
            if i + 1 >= len(args):
                raise SystemExit("--json requires an output path")
            json_out = args[i + 1]
            i += 2
        elif a.startswith("--"):
            raise SystemExit(f"unknown flag {a!r}")
        else:
            rest.append(a)
            i += 1
    sf_dir = rest[0] if rest else "/root/testdata/sf0.01"
    only = set(rest[1:])

    import __spark_entry__ as entry_mod
    from dirty_js_etl_spark.session import get_spark

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    spark = get_spark("determinism-audit")

    saved = {k: spark.conf.get(k, None) for k in HOSTILE}
    record: dict[str, dict] = {}
    failed: list[str] = []
    sensitive_rows_only: list[str] = []

    for name, fn in qs.items():
        if only and name not in only:
            continue
        hash_checked = name in oracles
        try:
            a = _run(fn, spark, sf_dir)
            spark.catalog.clearCache()
            for k, v in HOSTILE.items():
                spark.conf.set(k, v)
            try:
                b = _run(fn, spark, sf_dir)
            finally:
                for k, v in saved.items():
                    if v is None:
                        spark.conf.unset(k)
                    else:
                        spark.conf.set(k, v)
                spark.catalog.clearCache()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: error: {e}")
            failed.append(name)
            record[name] = {"status": "error", "err": str(e)[:300]}
            continue
        if a == b:
            print(f"OK   {name}: invariant ({len(a)} rows)")
            record[name] = {"status": "invariant", "rows": len(a)}
        else:
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            detail = {
                "status": "SENSITIVE" if hash_checked else "sensitive_rows_only",
                "rows_a": len(a),
                "rows_b": len(b),
                "first_diffs": [f"{x} != {y}"[:200] for x, y in diffs],
            }
            record[name] = detail
            if hash_checked:
                print(f"SENSITIVE (hash-checked!) {name}: {diffs[:1]}")
                failed.append(name)
            else:
                print(f"sensitive (rows-only) {name}")
                sensitive_rows_only.append(name)

    print(
        f"\n{len(failed)} hash-checked sensitivities/errors"
        + (f": {failed}" if failed else "")
        + f"; {len(sensitive_rows_only)} rows-only sensitivities"
        + (f": {sensitive_rows_only}" if sensitive_rows_only else "")
    )
    if json_out:
        summary = {
            **_run_meta(),
            "sf_dir": sf_dir,
            "hostile_conf": HOSTILE,
            "n_queries": len(record),
            "n_invariant": sum(
                1 for r in record.values() if r["status"] == "invariant"
            ),
            "n_sensitive_hash_checked": sum(
                1 for r in record.values() if r["status"] == "SENSITIVE"
            ),
            "n_sensitive_rows_only": len(sensitive_rows_only),
            "n_error": sum(1 for r in record.values() if r["status"] == "error"),
            "queries": record,
        }
        with open(json_out, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
