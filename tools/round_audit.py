"""One-shot audit of cross-engine decimal rounding.

The class: Spark's ``F.round(x, N)`` on DOUBLE rounds the value's
SHORTEST DECIMAL REPR (Java ``BigDecimal.valueOf`` goes through
``Double.toString``) with HALF_UP; DuckDB's ``round(x, N)`` rounds the
BINARY double (scaled multiply + half-away-from-zero). The two disagree
on doubles whose shortest repr terminates at digit N+1 with a '5' (a
decimal midpoint) while the binary value sits on the other side — the
exact divergence once found in kmv_estimate's 3-decimal
re-round, fixed there by returning the raw correctly-rounded division
(operators/sketch.py kmv_estimate).

This tool makes the latent class measurable and the repo's remaining
``F.round`` sites classifiable:

``python tools/round_audit.py scan``
    Empirically probes EVERY scale-6 decimal midpoint in [0,1) (and
    scale-4 in [0,100)) — the nearest double plus both neighbors —
    through DuckDB's round and a bit-exact simulation of Spark's
    (``Decimal(repr(x))`` HALF_UP; Python repr and Java Double.toString
    produce the same shortest-repr decimal). Reports the divergent
    doubles and which of them are REACHABLE as integer ratios p/q with
    q <= 20000 (the Jaccard/count-ratio domain: shingle and token
    counts live exactly there). Spot-checks the Spark simulation
    against a live Spark session on every divergent-reachable value.

``python tools/round_audit.py sites``
    Inventories every ``F.round(`` site in the package (keyed by
    ``path::function`` and the rounded expression, not by line) and
    asserts each matches a classification rule below; writes
    ROUND_AUDIT.json.

Classification (the discipline applied in round 13):

- FLIPPED-RAW: the pre-round value is BIT-IDENTICAL cross-engine
  (integer-count ratios like Jaccard; divisions of exact-decimal sums;
  engine rank ratios like percent_rank; IEEE-exact sqrt of integral
  values; seeded sequential folds). For these the round was the ONLY
  divergence source, and the scan proves the danger is reachable
  (p/q midpoint doubles exist for q <= 20000). Fixed by removing the
  round on BOTH sides — one correctly-rounded IEEE division hashes
  identically everywhere (the kmv discipline). These sites no longer
  appear in the inventory.
- KEEP-NOISE-ABSORBING: the pre-round value is NOT bit-identical
  cross-engine (different algorithms: DuckDB list_cosine_similarity vs
  a fold; libm log; corr/stddev/percentile interpolation; sums of
  non-integral doubles in engine order). The round EXISTS to absorb
  that ulp noise; removing it would break hashing outright. Residual
  midpoint risk requires the noisy value to land within ~1 ulp of a
  decimal midpoint — measure ~1e-11 per value, accepted and recorded.
- EXACT-DECIMAL: the round operates on DECIMAL-typed values or on
  doubles that are exact multiples of the scale (money through
  DECIMAL(18,2)); rounding is the identity / exact-decimal arithmetic,
  identical on both engines by construction.
- NOT-CROSS-ENGINE: the rounded value never reaches a DuckDB hash
  comparison (rows-only queries, internal thresholds compared only
  Spark-side, display-only).
"""

from __future__ import annotations

import ast
import json
import math
import os
import re
import sys
from decimal import ROUND_HALF_UP, Decimal
from fractions import Fraction

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "dirty_js_etl_spark")

# ---------------------------------------------------------------------------
# site classification rules: (path-suffix, content-regex) -> (class, reason)
# Every F.round( site in the package MUST match exactly one rule; the
# inventory errors on unmatched sites so new rounds get classified at
# review time, not discovered as hash flakes at sweep time.
# ---------------------------------------------------------------------------
RULES: list[tuple[str, str, str, str]] = [
    # --- KEEP-NOISE-ABSORBING ---------------------------------------------
    ("operators/similarity.py", r"cnorm|nb|r\.n", "KEEP-NOISE-ABSORBING",
     "cosine: Spark fold+sqrt vs DuckDB list_cosine_similarity — "
     "different summation algorithms, round absorbs the ulp noise"),
    ("operators/text.py", r"alpha_ratio.*0\.4|\* 0\.4", "KEEP-NOISE-ABSORBING",
     "quality_score: weighted sum with decimal literals — DuckDB "
     "evaluates 0.4 as DECIMAL, Spark as double; round absorbs"),
    ("operators/text.py", r"F\.log", "KEEP-NOISE-ABSORBING",
     "tfidf: libm log is not correctly-rounded; JVM vs DuckDB differ"),
    ("queries/text.py", r"term_score", "KEEP-NOISE-ABSORBING",
     "bm25: sum of log-based doubles in engine order"),
    ("queries/text.py", r"sum\(lp\)", "KEEP-NOISE-ABSORBING",
     "bigram logprob: libm log + double sum"),
    ("queries/analytics.py", r"F\.log", "KEEP-NOISE-ABSORBING",
     "log_price: libm log not correctly-rounded"),
    ("queries/analytics.py", r"percentile", "KEEP-NOISE-ABSORBING",
     "percentile interpolation arithmetic differs across engines"),
    ("queries/analytics.py", r"F\.corr|covar_samp|stddev_samp",
     "KEEP-NOISE-ABSORBING",
     "corr/covar/stddev: multi-pass moment arithmetic differs"),
    ("queries/analytics.py", r"regr_", "KEEP-NOISE-ABSORBING",
     "regression aggregates: moment arithmetic differs across engines"),
    ("queries/analytics.py", r'F\.avg\("value"\)', "KEEP-NOISE-ABSORBING",
     "windowed moving average of non-integral doubles in frame order"),
    ("queries/analytics.py", r'F\.sum\("sval"\)', "KEEP-NOISE-ABSORBING",
     "weekly avg over sums of non-integral double values"),
    ("queries/analytics.py", r"F\.sqrt", "KEEP-NOISE-ABSORBING",
     "embedding norm: the per-row round makes the downstream "
     "DECIMAL(18,9) cast exact (a full-precision double would be "
     "re-rounded by each engine's own double->decimal cast rule); the "
     "OUTER avg/min/max rounds over these were flipped to raw"),
    ("queries/similarity.py", r'f"p\{j\}"', "KEEP-NOISE-ABSORBING",
     "random projection: DuckDB list_dot_product vs Spark sequential "
     "fold — summation algorithms may differ in ulps; round absorbs"),
    ("queries/analytics.py", r"F\.avg", "KEEP-NOISE-ABSORBING",
     "avg of float32 values: sums of non-integral doubles in engine "
     "order"),
    ("queries/analytics.py", r'"med"|"mad"', "KEEP-NOISE-ABSORBING",
     "median/MAD via percentile interpolation"),
    ("queries/text.py", r"F\.log", "KEEP-NOISE-ABSORBING",
     "entropy: p*log(p) with libm log"),
    ("queries/text.py", r"ratio\(F\.col", "NOT-CROSS-ENGINE",
     "x135 compression ratio is rows-only (zlib udf); no oracle hash"),
    # --- EXACT-DECIMAL ------------------------------------------------------
    ("queries/analytics.py", r"decimal\(18,2\)", "EXACT-DECIMAL",
     "money through DECIMAL(18,2): exact decimal arithmetic; the "
     "2-scale round of an exact 2-decimal value is the identity"),
    ("queries/analytics.py", r"decimal\(18,2\)", "EXACT-DECIMAL",
     "decimal-summed money / 7.0: the quotient is rounded at 6 but "
     "inputs are exact decimals — see FLIPPED-RAW note in q08"),
    ("queries/analytics.py", r"\* 100\)", "EXACT-DECIMAL",
     "cents quantization: round(x*100) cast long, exact integer"),
    ("queries/analytics.py", r'F\.when\(F\.col\("cd"\)', "EXACT-DECIMAL",
     "p50_floor: max picks an existing 2-decimal acctbal; round(.,2) "
     "is the identity on it"),
]


def spark_round_sim(x: float, scale: int) -> float:
    """Bit-exact simulation of Spark's Round on DoubleType:
    BigDecimal.valueOf(x) (shortest repr) .setScale(scale, HALF_UP)."""
    q = Decimal(1).scaleb(-scale)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def scan(check_spark: bool = True) -> dict:
    import duckdb
    import pyarrow as pa

    out: dict = {}
    con = duckdb.connect()
    for scale, lo_k, hi_k, denom in [(6, 0, 1_000_000, 2e6),
                                     (4, 0, 1_000_000, 2e4)]:
        vs: set[float] = set()
        for k in range(lo_k, hi_k):
            m = (2 * k + 1) / denom
            vs.add(m)
            vs.add(math.nextafter(m, -math.inf))
            vs.add(math.nextafter(m, math.inf))
        probe = sorted(vs)
        con.register("probe", pa.table({"v": pa.array(probe, type=pa.float64())}))
        rows = con.execute(f"SELECT v, round(v, {scale}) d FROM probe").fetchall()
        div = [v for v, d in rows if d != spark_round_sim(v, scale)]
        reach = []
        for d in div:
            f = Fraction(d).limit_denominator(20_000)
            if f.numerator / f.denominator == d:
                reach.append((f.numerator, f.denominator, d))
        out[f"scale_{scale}"] = {
            "probes": len(probe),
            "divergent": len(div),
            "reachable_as_ratio_q_le_20000": len(reach),
            "reachable_examples": [
                f"{p}/{q} = {v!r}" for p, q, v in reach[:10]
            ],
        }
        if check_spark and reach:
            # confirm the simulation IS Spark on every reachable value
            from pyspark.sql import functions as F

            from dirty_js_etl_spark.session import get_spark

            spark = get_spark("round-audit")
            vals = [v for _, _, v in reach]
            df = spark.createDataFrame([(v,) for v in vals], "v double")
            got = [
                r[0]
                for r in df.select(F.round("v", scale)).collect()
            ]
            mism = [
                (v, g, spark_round_sim(v, scale))
                for v, g in zip(vals, got)
                if g != spark_round_sim(v, scale)
            ]
            out[f"scale_{scale}"]["spark_sim_mismatches"] = len(mism)
    return out


def _round_calls(tree: ast.AST, scope: str = ""):
    """Yield ``(function, call)`` for every ``F.round(...)`` call, with
    ``function`` the dotted name of the enclosing def (``<module>`` at
    module level)."""
    for node in ast.iter_child_nodes(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield from _round_calls(node, f"{scope}.{node.name}".lstrip("."))
            continue
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "round"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "F"
        ):
            yield scope or "<module>", node
        yield from _round_calls(node, scope)


def sites() -> list[dict]:
    """Every ``F.round(`` call in the package, keyed by ``path::function``
    and the call's own source text (whitespace collapsed), so an edit that
    only shifts lines leaves the inventory unchanged. Classification reads
    the lines around the call against ``RULES``."""
    inv = []
    for root, _, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, REPO)
            with open(path) as fh:
                src = fh.read()
            lines = src.splitlines(keepends=True)
            for func, call in _round_calls(ast.parse(src)):
                i = call.lineno
                ctx = "".join(lines[max(0, i - 9): i + 6])
                match = None
                for suffix, rx, cls, reason in RULES:
                    if rel.endswith(suffix) and re.search(rx, ctx):
                        match = (cls, reason)
                        break
                inv.append(
                    {
                        "site": f"{rel}::{func}",
                        "expr": " ".join(ast.get_source_segment(src, call).split()),
                        "class": match[0] if match else "UNCLASSIFIED",
                        "reason": match[1] if match else None,
                    }
                )
    return sorted(inv, key=lambda s: (s["site"], s["expr"]))


def main() -> int:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "sites"
    if cmd == "scan":
        result = scan(check_spark="--no-spark" not in sys.argv)
        print(json.dumps(result, indent=2))
        path = os.path.join(REPO, "ROUND_AUDIT.json")
        report = {}
        if os.path.exists(path):
            with open(path) as fh:
                report = json.load(fh)
        report["scan"] = result
        with open(path, "w") as fh:
            json.dump(report, fh, indent=2)
        return 0
    inv = sites()
    bad = [s for s in inv if s["class"] == "UNCLASSIFIED"]
    path = os.path.join(REPO, "ROUND_AUDIT.json")
    report = {}
    if os.path.exists(path):  # keep the last scan result
        with open(path) as fh:
            report = {k: v for k, v in json.load(fh).items() if k == "scan"}
    report = {
        "sites": inv,
        "counts": {
            cls: sum(1 for s in inv if s["class"] == cls)
            for cls in sorted({s["class"] for s in inv})
        },
        "unclassified": len(bad),
        **report,
    }
    with open(path, "w") as fh:
        json.dump(report, fh, indent=2)
    print(json.dumps(report["counts"], indent=2))
    if bad:
        print("UNCLASSIFIED F.round sites (classify in RULES):")
        for s in bad:
            print(" ", s["site"])
        return 1
    return 0


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    raise SystemExit(main())
