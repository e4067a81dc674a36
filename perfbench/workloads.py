"""The benchmark's workloads: inputs, operations and output checks.

Every workload is a closed loop with one client: the benchmark sends one
operation, waits for it, checks it, and sends the next. An operation's
``run`` is the timed part; its ``check`` runs afterwards, untimed, and
compares the output against a DuckDB oracle computed during set-up from
the same generated inputs.

- ``merge_bulk``: one ``Pipeline(passes=2)`` of two merge mappings
  (orders -> dim_orders, lineitem -> fact_lines with a foreign key into
  the dim_orders rows merged earlier in the same run) over stale
  destination snapshots; both results are written to parquet and all
  four audits are counted.
- ``iterative``: registry queries, each collected to the client, whose
  DataFrame build (eager checkpoints, convergence probes) dominates.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from contextlib import nullcontext
from dataclasses import dataclass
from typing import Any

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen

# one query per operator module: x143 -> graph, x206 -> linkage and
# dedup (dup_clusters), x201 -> similarity. x6 (dedup's MinHash LSH), x209
# and x208 are left out for run time: x6 adds about 15 s to a run, x209
# alone doubles the warm-up, and x206 already drives the linkage ->
# dup_clusters path x208 and x209 share
ITERATIVE = (
    "x143_pagerank",
    "x206_entity_resolution",
    "x201_ivf_topk_portable",
)


@dataclass
class Ctx:
    """What an operation needs: the session, the seed, a scratch
    directory of this process, and the tracer (None when untraced)."""

    spark: Any
    seed: int
    work: str
    tracer: Any = None

    def phase(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def tracing(self) -> bool:
        return self.tracer is not None and self.tracer.active


@dataclass
class Op:
    name: str


def _duck(work: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # parquet and ICU are built in; never fetch an extension
    con.execute("SET autoinstall_known_extensions=false")
    con.execute("SET autoload_known_extensions=false")
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb_tmp')}'")
    con.execute("SET TimeZone='UTC'")
    return con


class Workload:
    """Set-up writes the inputs; the oracle is computed once, after
    set-up and before the first operation, so it never competes with a
    timed operation for the cores."""

    root: str
    # length of one warm round at this head on a 4-core machine; a
    # run's window is --seconds / nominal_round_s rounds
    nominal_round_s: float
    table_rows: dict[str, int]
    # source rows one round merges (merge workloads only, for rows_per_s)
    rows_per_round: int | None = None

    def setup(self, ctx: Ctx, root: str) -> None:
        raise NotImplementedError

    def oracle(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def cleanup(self, out: Any) -> None:
        pass


# ---------------------------------------------------------------------------
# Registry workloads
# ---------------------------------------------------------------------------


def _canon(v: Any) -> str:
    """One value, normalized as the repo's oracle sweep does
    (tools/check_oracle.py): 12 significant digits, -0.0 folded into 0.0."""
    if v is None or (isinstance(v, float) and v != v):
        return "NULL"
    if isinstance(v, float):
        return f"{v + 0.0:.12g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def _digest(pdf) -> tuple[tuple[str, ...], str]:
    cols = tuple(sorted(pdf.columns))
    rows = sorted(
        tuple(_canon(v) for v in row)
        for row in pdf.reindex(columns=list(cols)).itertuples(index=False)
    )
    return cols, hashlib.sha256(repr(rows).encode()).hexdigest()


class RegistryWorkload(Workload):
    """Registry queries over generated tables, in a seeded order per round."""

    def __init__(self, name: str, queries: tuple[str, ...], sf: float, nominal_round_s: float):
        self.name, self.queries, self.sf = name, queries, sf
        self.nominal_round_s = nominal_round_s

    def setup(self, ctx: Ctx, root: str) -> None:
        from dirty_js_etl_spark.queries._shared import _REGISTRY

        self.root = root
        self.table_rows = gen.generate(root, ctx.seed, self.sf)
        self.fns = {q: _REGISTRY[q].fn for q in self.queries}

    def oracle(self, ctx: Ctx) -> None:
        from dirty_js_etl_spark.queries._shared import _REGISTRY

        con = _duck(ctx.work)
        for t in gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.root}/{t}.parquet')")
        self.expect: dict[str, Any] = {}
        for q in self.queries:
            if not _REGISTRY[q].oracle:
                raise ValueError(f"{q} has no oracle")
            self.expect[q] = _digest(con.execute(_REGISTRY[q].oracle).fetchdf())
        con.close()

    def ops(self, rng: np.random.Generator | None) -> list[Op]:
        """One round; ``rng=None`` keeps the registry order (warm-up)."""
        perm = range(len(self.queries)) if rng is None else rng.permutation(len(self.queries))
        return [Op(self.queries[i]) for i in perm]

    def run(self, ctx: Ctx, op: Op) -> Any:
        with ctx.phase("build"):
            df = self.fns[op.name](ctx.spark, self.root)
        if ctx.tracing():
            # plan here so Catalyst time is split from execution; the
            # collect below reuses this query execution
            with ctx.phase("plan"):
                df._jdf.queryExecution().executedPlan()
        with ctx.phase("exec"):
            pdf = df.toPandas()
        return {"df": df, "pdf": pdf}

    def corrupt(self, out: Any) -> None:
        out["pdf"] = pd.concat([out["pdf"], out["pdf"].iloc[:1]])

    def check(self, ctx: Ctx, op: Op, out: Any) -> bool:
        return _digest(out["pdf"]) == self.expect[op.name]


# ---------------------------------------------------------------------------
# Merge workloads
# ---------------------------------------------------------------------------

_DIM_COLS = ("order_id", "cust_name", "status", "total", "priority", "order_date", "src")
_FACT_COLS = ("order_id", "line_no", "part_key", "qty", "price", "order_status", "flag", "ship_date")

_DIM_DDL = """CREATE TABLE dim_orders (order_id BIGINT PRIMARY KEY, cust_name VARCHAR,
  status VARCHAR, total DECIMAL(18,2), priority VARCHAR, order_date TIMESTAMP,
  src VARCHAR, legacy_note VARCHAR)"""
_FACT_DDL = """CREATE TABLE fact_lines (order_id BIGINT, line_no INTEGER, part_key BIGINT,
  qty INTEGER, price DOUBLE, order_status VARCHAR, flag VARCHAR, ship_date TIMESTAMP,
  batch_id INTEGER, PRIMARY KEY (order_id, line_no))"""


def _dim_source_sql(orders: str, customer: str) -> str:
    # the dim_orders mapping, spelled in SQL (MergeOn, ForeignKey,
    # DirectCopy, CastAs, CopyOrDefault, RawValue)
    return f"""SELECT o.o_orderkey AS order_id, c.c_name AS cust_name,
  o.o_orderstatus AS status, CAST(o.o_totalprice AS DECIMAL(18,2)) AS total,
  CASE WHEN o.o_orderpriority IS NULL OR length(rtrim(o.o_orderpriority)) = 0
       THEN 'UNKNOWN' ELSE o.o_orderpriority END AS priority,
  o.o_orderdate AS order_date, 'bench' AS src
FROM {orders} o LEFT JOIN (SELECT DISTINCT c_custkey, c_name FROM {customer}) c
  ON o.o_custkey = c.c_custkey"""


def _fact_source_sql(lineitem: str) -> str:
    return f"""SELECT l.l_orderkey AS order_id, l.l_linenumber AS line_no,
  l.l_partkey AS part_key, CAST(trunc(l.l_quantity) AS INT) AS qty,
  l.l_extendedprice AS price, d.status AS order_status,
  CASE WHEN l.l_returnflag IS NULL OR length(rtrim(l.l_returnflag)) = 0
       THEN 'N' ELSE l.l_returnflag END AS flag,
  l.l_shipdate AS ship_date
FROM {lineitem} l LEFT JOIN dim_orders d ON l.l_orderkey = d.order_id"""


def _upsert_sql(table: str, cols: tuple[str, ...], keys: tuple[str, ...], source: str) -> str:
    sets = ", ".join(f"{c} = excluded.{c}" for c in cols if c not in keys)
    return (
        f"INSERT INTO {table} ({', '.join(cols)}) {source} "
        f"ON CONFLICT ({', '.join(keys)}) DO UPDATE SET {sets}"
    )


def _differs(con, table: str, path: str) -> int:
    """Rows in exactly one of the DuckDB table and Spark's parquet output
    directory."""
    cols = [r[0] for r in con.execute(f"DESCRIBE {table}").fetchall()]
    sel = ", ".join(f"CAST({c} AS TIMESTAMP) AS {c}" if "date" in c else c for c in cols)
    out = f"(SELECT {sel} FROM read_parquet('{path}/*.parquet'))"
    return con.execute(
        f"SELECT (SELECT count(*) FROM ({out} EXCEPT ALL SELECT {sel} FROM {table}))"
        f" + (SELECT count(*) FROM (SELECT {sel} FROM {table} EXCEPT ALL {out}))"
    ).fetchone()[0]


def dim_orders_spec():
    from dirty_js_etl_spark.functions.combinators import (
        CastAs, CopyOrDefault, DirectCopy, ForeignKey, MergeOn, RawValue,
    )
    from dirty_js_etl_spark.plans.mapping import MappingSpec

    return MappingSpec(
        destination="dim_orders",
        source="orders",
        use_merge=True,
        columns={
            "order_id": MergeOn("o_orderkey"),
            "cust_name": ForeignKey("o_custkey", "customer", "c_name", "c_custkey"),
            "status": DirectCopy("o_orderstatus"),
            "total": CastAs("o_totalprice", "DECIMAL(18,2)"),
            "priority": CopyOrDefault("o_orderpriority", "UNKNOWN"),
            "order_date": DirectCopy("o_orderdate"),
            "src": RawValue("bench"),
        },
    )


def fact_lines_spec():
    from dirty_js_etl_spark.functions.combinators import (
        CastAs, CopyOrDefault, DirectCopy, ForeignKey, MergeOn,
    )
    from dirty_js_etl_spark.plans.mapping import MappingSpec

    return MappingSpec(
        destination="fact_lines",
        source="lineitem",
        use_merge=True,
        columns={
            "order_id": MergeOn("l_orderkey"),
            "line_no": MergeOn("l_linenumber"),
            "part_key": DirectCopy("l_partkey"),
            "qty": CastAs("l_quantity", "INT"),
            "price": DirectCopy("l_extendedprice"),
            # FK into the dim_orders rows merged earlier in the same run
            "order_status": ForeignKey("l_orderkey", "dim_orders", "status", "order_id"),
            "flag": CopyOrDefault("l_returnflag", "N"),
            "ship_date": DirectCopy("l_shipdate"),
        },
    )


def _audit_counts(audits) -> list[dict[str, int]]:
    return [{r["_action"]: r["count"] for r in a.groupBy("_action").count().collect()} for a in audits]


class MergeBulk(Workload):
    """orders -> dim_orders and lineitem -> fact_lines, two passes, over
    stale snapshots holding about half of the source keys plus 5% rows
    the source does not have."""

    nominal_round_s = 8.0

    def __init__(self, sf: float):
        self.sf = sf
        self.name = "merge_bulk"

    def setup(self, ctx: Ctx, root: str) -> None:
        self.root = root
        rows = self.table_rows = gen.generate(root, ctx.seed, self.sf, ("customer", "orders", "lineitem"))
        rng = np.random.default_rng([ctx.seed, 1])
        n_o = rows["orders"]
        dim_keys = np.flatnonzero(rng.random(n_o) < 0.5)
        dim_extra = np.arange(n_o, n_o + n_o // 20)
        li = pq.read_table(os.path.join(root, "lineitem.parquet"), columns=["l_orderkey", "l_linenumber"])
        in_dest = rng.random(li.num_rows) < 0.5
        fact_keys = li.filter(in_dest)
        con = _duck(ctx.work)
        con.execute(_DIM_DDL)
        con.execute(_FACT_DDL)
        con.execute(
            "INSERT INTO dim_orders SELECT k, NULL, 'X', 0, 'STALE', TIMESTAMP '1990-01-01', "
            "'legacy', 'legacy-' || k FROM (SELECT unnest($1::BIGINT[]) AS k)",
            [np.concatenate([dim_keys, dim_extra]).tolist()],
        )
        con.register("fk", fact_keys)
        con.execute(
            "INSERT INTO fact_lines SELECT l_orderkey, l_linenumber, -1, 0, 0.0, NULL, 'Z', "
            "TIMESTAMP '1990-01-01', 7 FROM fk"
        )
        con.execute(
            "INSERT INTO fact_lines SELECT k, 1, -1, 0, 0.0, NULL, 'Z', TIMESTAMP '1990-01-01', 7 "
            "FROM (SELECT unnest($1::BIGINT[]) AS k)",
            [dim_extra.tolist()],
        )
        for t in ("dim_orders", "fact_lines"):
            con.execute(f"COPY {t} TO '{root}/{t}.parquet' (FORMAT PARQUET)")
        # expected audits: pass 1 updates the keys both sides hold and
        # inserts the rest; pass 2 is all UPDATE
        n_l = rows["lineitem"]
        self.expect_audit = [
            {"UPDATE": len(dim_keys), "INSERT": n_o - len(dim_keys)},
            {"UPDATE": fact_keys.num_rows, "INSERT": n_l - fact_keys.num_rows},
            {"UPDATE": n_o},
            {"UPDATE": n_l},
        ]
        self.rows_per_round = 2 * (n_o + n_l)
        self.con = con
        self.n_op = 0

    def oracle(self, ctx: Ctx) -> None:
        """DuckDB upserts of the same inputs: the final tables one MERGE
        pass gives, which pass 2 must leave unchanged."""
        p = lambda t: f"read_parquet('{self.root}/{t}.parquet')"  # noqa: E731
        dim_src = _dim_source_sql(p("orders"), p("customer"))
        self.con.execute(_upsert_sql("dim_orders", _DIM_COLS, ("order_id",), dim_src))
        fact_src = _fact_source_sql(p("lineitem"))
        self.con.execute(_upsert_sql("fact_lines", _FACT_COLS, ("order_id", "line_no"), fact_src))

    def ops(self, rng: np.random.Generator | None) -> list[Op]:
        return [Op("pipeline")]

    def run(self, ctx: Ctx, op: Op) -> Any:
        from dirty_js_etl_spark.catalog import fixture_catalog
        from dirty_js_etl_spark.plans.runner import Pipeline

        self.n_op += 1
        out_dir = os.path.join(self.root, f"out{self.n_op}")
        with ctx.phase("build"):
            pipe = Pipeline(mappings=[dim_orders_spec(), fact_lines_spec()], passes=2)
            res = pipe.run(fixture_catalog(ctx.spark, self.root))
        with ctx.phase("exec"):
            for name, tr in res.items():
                tr.result.write.parquet(os.path.join(out_dir, name))
            audits = _audit_counts(
                [res["dim_orders"].audit_per_pass[0], res["fact_lines"].audit_per_pass[0],
                 res["dim_orders"].audit_per_pass[1], res["fact_lines"].audit_per_pass[1]]
            )
        return {"dir": out_dir, "audits": audits}

    def corrupt(self, out: Any) -> None:
        out["audits"][0]["INSERT"] = out["audits"][0].get("INSERT", 0) + 1

    def check(self, ctx: Ctx, op: Op, out: Any) -> bool:
        if out["audits"] != self.expect_audit:
            return False
        return all(
            _differs(self.con, t, os.path.join(out["dir"], t)) == 0
            for t in ("dim_orders", "fact_lines")
        )

    def cleanup(self, out: Any) -> None:
        shutil.rmtree(out["dir"], ignore_errors=True)


# scale factor of the generated tables per workload (README.md gives
# the measurements behind them)
SF = {"merge_bulk": 0.05, "iterative": 0.001}
SMOKE_SF = 0.001
WORKLOADS = tuple(SF)


def make(name: str, sf: float):
    if name == "merge_bulk":
        return MergeBulk(sf)
    if name == "iterative":
        return RegistryWorkload(name, ITERATIVE, sf, 7.0)
    raise KeyError(name)
