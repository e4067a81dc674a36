"""Scale audit: bench the headline queries at two fixture scales and
flag super-linear growth, as a standing artifact.

Runs ``bench.py`` twice via subprocess (each gets a fresh JVM so the
two scales don't share cache state), then reports per-query
time ratios against the data-scale ratio. A query is flagged when its
time grows more than ``slack`` × the data ratio — with a floor on the
small-scale time so fixed per-job overhead (~0.25 s Spark floor) can't
fake a blowup on sub-second queries.

Usage:
  python tools/scale_audit.py [small_dir] [big_dir] [data_ratio]
  # defaults: /root/testdata/sf0.1  .sf1_testdata  10

Writes SCALE_AUDIT.json at the repo root:
  {"small": {...bench...}, "big": {...bench...}, "data_ratio": 10,
   "flagged": {name: ratio}, "ok": true/false}
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ratio slack over linear scaling: n log n factors, extra shuffle
# waves, and run-to-run noise on a shared box are all legitimate;
# a real quadratic blowup at 10x shows up as ~100x, far above this
SLACK = 2.5
# queries faster than this at the small scale are dominated by the
# fixed per-job floor; their ratios are noise, not scaling signal
MIN_SMALL_SEC = 0.3


def run_bench(sf_dir: str) -> dict:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    # bench prints ONE JSON line on stdout
    for line in out.splitlines():
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"no JSON line in bench output for {sf_dir}")


def main() -> int:
    small_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    big_dir = sys.argv[2] if len(sys.argv) > 2 else ".sf1_testdata"
    data_ratio = float(sys.argv[3]) if len(sys.argv) > 3 else 10.0

    small = run_bench(small_dir)
    big = run_bench(big_dir)

    flagged: dict[str, float] = {}
    rows = []
    for name, t_small in small["queries"].items():
        t_big = big["queries"].get(name)
        if t_big is None:
            continue
        ratio = t_big / max(t_small, 1e-9)
        rows.append((name, t_small, t_big, ratio))
        if t_small >= MIN_SMALL_SEC and ratio > SLACK * data_ratio:
            flagged[name] = round(ratio, 2)

    rows.sort(key=lambda r: -r[3])
    print(f"{'query':42s} {'small':>8s} {'big':>8s} {'ratio':>7s}")
    for name, a, b, r in rows:
        mark = "  <-- SUPER-LINEAR" if name in flagged else ""
        print(f"{name:42s} {a:8.3f} {b:8.3f} {r:7.2f}{mark}")

    record = {
        "small_dir": small_dir,
        "big_dir": big_dir,
        "data_ratio": data_ratio,
        "slack": SLACK,
        "small": small,
        "big": big,
        "flagged": flagged,
        "ok": not flagged,
    }
    with open(os.path.join(REPO, "SCALE_AUDIT.json"), "w") as fh:
        json.dump(record, fh, indent=2)
    print(
        f"\ntotal {small['value']:.1f}s -> {big['value']:.1f}s at "
        f"{data_ratio:g}x data; flagged: {flagged or 'none'}"
    )
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
