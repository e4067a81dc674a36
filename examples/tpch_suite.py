"""Run the complete TPC-H analog suite — all 22 query shapes — against
a fixture directory and print per-query timings plus row counts.

The fixture star schema carries no partsupp table; Q2/Q9/Q11/Q20 run on
the deterministically DERIVED partsupp dimension
(``dirty_js_etl_spark/queries/tpch.py``), so the full suite is
self-contained on the shipped parquet. Every query here is also
hash-checked against a DuckDB oracle in the standing sweeps
(``python tools/runner.py oracle``, committed as
``CORRECTNESS_LOCAL_sf<sf>.json``).

Usage: python examples/tpch_suite.py [sf_dir]   (default sf0.1)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dirty_js_etl_spark.queries import all_queries  # noqa: E402
from dirty_js_etl_spark.session import get_spark  # noqa: E402

# TPC-H number -> registry query name
SUITE = {
    1: "x32_tpch_q1", 2: "x194_tpch_q2", 3: "x33_tpch_q3",
    4: "x193_tpch_q4", 5: "x34_tpch_q5", 6: "x52_tpch_q6",
    7: "x118_tpch_q7", 8: "x161_tpch_q8", 9: "x195_tpch_q9",
    10: "x53_tpch_q10", 11: "x196_tpch_q11", 12: "x159_tpch_q12",
    13: "x115_tpch_q13", 14: "x54_tpch_q14", 15: "x117_tpch_q15",
    16: "x83_tpch_q16", 17: "x116_tpch_q17", 18: "x55_tpch_q18",
    19: "x160_tpch_q19", 20: "x197_tpch_q20", 21: "x162_tpch_q21",
    22: "x82_tpch_q22",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("tpch-suite")
    qs = all_queries()
    total = 0.0
    print(f"{'Q':>3s} {'query':28s} {'rows':>8s} {'sec':>7s}")
    for qno in sorted(SUITE):
        name = SUITE[qno]
        t0 = time.perf_counter()
        n = qs[name](spark, sf_dir).count()
        dt = time.perf_counter() - t0
        total += dt
        print(f"Q{qno:>2d} {name:28s} {n:8d} {dt:7.2f}")
    print(f"\n22 queries in {total:.1f}s at {sf_dir}")


if __name__ == "__main__":
    main()
