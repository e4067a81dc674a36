"""The one oracle comparator, shared by tools/check_oracle.py,
tools/determinism_audit.py and the pytest mirror (tests/test_queries.py).

Mirrors the driver's t2 gate shape: row count + column names +
order-insensitive value comparison (columns sorted by name, rows sorted,
floats canonicalized to 12 significant digits).

12 digits, not 6: 6g could mask a driver-red low-bit mismatch behind
local green. 12g is strictly harder than any plausible driver rounding
while still absorbing the one legitimate cross-engine artifact the
queries already guard (±0.0 after round(), collapsed here as well).
"""

from __future__ import annotations


def normalize_pdf(pdf) -> list[tuple[str, ...]]:
    import pandas as pd

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)

    def canon(v):
        if v is None or v != v:  # None / NaN
            return "NULL"
        if isinstance(v, float):
            if v == 0.0:
                v = 0.0  # collapse IEEE -0.0 vs +0.0
            return f"{v:.12g}"
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
        return str(v)

    return sorted(tuple(canon(v) for v in row) for row in pdf.itertuples(index=False))


def compare_frames(spark_pdf, duck_pdf) -> list[str]:
    """Return a list of problems; empty means match."""
    problems: list[str] = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount {len(spark_pdf)} != {len(duck_pdf)}")
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
        )
    if not problems:
        a, b = normalize_pdf(spark_pdf), normalize_pdf(duck_pdf)
        if a != b:
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            problems.append(f"values differ; first diffs: {diffs}")
    return problems
