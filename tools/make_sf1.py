"""Generate a one-off sf1 validation dataset (10x sf0.1) for the
scale-stress sweep.

NOT driver test data — the driver's correctness artifacts still run on
/root/testdata. This harness replicates sf0.1 ten times with
consistently offset keys so every query can be exercised at 10x the
usual local scale, catching scale-only bugs (the x61/x129 class) the
sf0.1 sweep can't.

Scaling rules (TPC-H-style):
- region/nation: fixed dims, copied unchanged.
- customer/supplier/part/orders/lineitem: surrogate keys offset by
  rep * 10^7 per replica; FK pairs (o_custkey<->c_custkey,
  l_orderkey<->o_orderkey, l_partkey/l_suppkey) offset together so
  join cardinalities scale linearly; nation/region FKs stay in the
  fixed dim domain.
- events: event_id/user_id offset (10x users, 10x denser 30-day
  window — realistic densification, keeps sessionize/as-of shapes).
- documents: doc_id offset; replicas >0 get a ' shardN' text suffix
  (and recomputed n_chars) so the corpus behaves like a 10x corpus,
  not a 10x exact-dup explosion.
- embeddings: vec_id offset, vectors unchanged (exact duplicate
  vectors are legal corpus data; if a pair query blows up on them,
  that IS a scale bug worth catching).

Usage: python tools/make_sf1.py [out_dir] [--reps N]
  (defaults: .sf1_testdata/ and 10 replicas = sf1; --reps 100 builds an
  sf10-equivalent — keys stay inside int32 at rep*10^7 up to rep 213)
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
OFF = 10_000_000
REPS = 10

# per-table: {column: offset-expression or None for unchanged}
RULES: dict[str, dict[str, str]] = {
    "region": {},
    "nation": {},
    "customer": {"c_custkey": "c_custkey + r.rep * {off}"},
    "supplier": {"s_suppkey": "s_suppkey + r.rep * {off}"},
    "part": {"p_partkey": "p_partkey + r.rep * {off}"},
    "orders": {
        "o_orderkey": "o_orderkey + r.rep * {off}",
        "o_custkey": "o_custkey + r.rep * {off}",
    },
    "lineitem": {
        "l_orderkey": "l_orderkey + r.rep * {off}",
        "l_partkey": "l_partkey + r.rep * {off}",
        "l_suppkey": "l_suppkey + r.rep * {off}",
    },
    "events": {
        "event_id": "event_id + r.rep * {off}",
        "user_id": "user_id + r.rep * {off}",
    },
    "documents": {
        "doc_id": "doc_id + r.rep * {off}",
        "text": "CASE WHEN r.rep = 0 THEN text "
                "ELSE text || ' shard' || CAST(r.rep AS VARCHAR) END",
        "n_chars": "CAST(length(CASE WHEN r.rep = 0 THEN text "
                   "ELSE text || ' shard' || CAST(r.rep AS VARCHAR) END) "
                   "AS BIGINT)",
    },
    "embeddings": {"vec_id": "vec_id + r.rep * {off}"},
}


def main(out_dir: str, reps: int = REPS) -> None:
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    # keep DuckDB spill outside the worktree (default is cwd-relative .tmp/)
    # per-process spill dir: DuckDB's spill file names are not
    # process-unique, so concurrent sweeps/test runs would clobber
    # each other's files under a shared path
    con.execute(
        f"SET temp_directory='/tmp/duckdb_oracle_tmp_{os.getpid()}'"
    )
    for table, rule in RULES.items():
        src = f"{SRC}/{table}.parquet"
        dst = f"{out_dir}/{table}.parquet"
        cols = [
            c[0]
            for c in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{src}')"
            ).fetchall()
        ]
        if not rule:  # fixed dim: verbatim copy
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{src}')) TO '{dst}' "
                "(FORMAT PARQUET)"
            )
        else:
            sel = ", ".join(
                f"{rule[c].format(off=OFF)} AS {c}" if c in rule else c
                for c in cols
            )
            con.execute(
                f"COPY (SELECT {sel} FROM read_parquet('{src}') "
                f"CROSS JOIN range({reps}) r(rep)) TO '{dst}' "
                "(FORMAT PARQUET)"
            )
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{dst}')"
        ).fetchone()[0]
        print(f"{table:12s} -> {n} rows")


if __name__ == "__main__":
    argv = sys.argv[1:]
    reps = REPS
    if "--reps" in argv:
        i = argv.index("--reps")
        reps = int(argv[i + 1])
        if reps * OFF > 2**31 - 1:
            raise SystemExit(f"--reps {reps}: offset keys would overflow int32")
        del argv[i : i + 2]
    main(argv[0] if argv else ".sf1_testdata", reps)
