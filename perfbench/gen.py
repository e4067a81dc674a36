"""Seeded generator for the benchmark's input tables.

Writes the fixture layout the engine's catalog reads (one
``{name}.parquet`` file per table under a root directory) with the
schemas of the TPC-H-like star schema plus the ``events``,
``documents`` and ``embeddings`` extension tables. Row counts scale with
``sf`` (sf=1 would be 150k customers, 1.5M orders, ~6M line items), and
every value is drawn from ``numpy.random.default_rng(seed)``: the same
(seed, sf) always writes the same bytes' worth of rows.

Timestamps are written without a UTC flag (``timestamp[us]``), like the
fixtures the engine's catalog is hardened for.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
ADJECTIVES = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
NOUNS = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
LANGS = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
VOCAB = np.array(
    "a the data table row column key value join merge group sort filter scan "
    "query order line part customer window stream batch spark agg hash fast "
    "slow big small vector".split()
)

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (line items are drawn
    1-7 per order, so ``lineitem`` is ~4x ``orders``)."""
    return {
        "customer": max(50, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(100, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "events": max(500, int(1_000_000 * sf)),
        "documents": max(200, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start_us: int, n_days: int, n: int) -> pa.Array:
    us = start_us + rng.integers(0, n_days, n) * _DAY_US
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _write(root: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(root, f"{name}.parquet"))


def orders_table(rng: np.random.Generator, keys: np.ndarray, n_cust: int) -> pa.Table:
    """``orders`` rows for the given order keys. About 2% of priorities
    are blank or NULL, so mappings that default empty strings have work."""
    n = len(keys)
    prio = PRIORITIES[rng.integers(0, len(PRIORITIES), n)].astype(object)
    blank = rng.random(n)
    prio[blank < 0.01] = ""
    prio[(blank >= 0.01) & (blank < 0.02)] = None
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": STATUSES[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _days(rng, _EPOCH_1995, 2404, n),
        "o_orderpriority": pa.array(prio, pa.string()),
    })


def lineitem_table(
    rng: np.random.Generator, order_keys: np.ndarray, n_part: int, n_supp: int
) -> pa.Table:
    """1-7 lines per order; (l_orderkey, l_linenumber) is unique."""
    per = rng.integers(1, 8, len(order_keys))
    okey = np.repeat(order_keys, per)
    starts = np.repeat(np.cumsum(per) - per, per)
    line = np.arange(len(okey)) - starts + 1
    n = len(okey)
    return pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(line, pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 100_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, _EPOCH_1995 + _DAY_US, 2498, n),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word bags over a 31-word vocabulary; ~5% of documents are
    near-copies of an earlier one (a few words substituted), so the
    near-duplicate detectors have true pairs to find."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            words = list(VOCAB[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": LANGS[rng.integers(0, len(LANGS), n)],
        "source": np.array([f"src{k}" for k in range(20)])[rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    centers = rng.normal(0.0, 0.15, (k, dim))
    label = rng.integers(0, k, n)
    vecs = (centers[label] + rng.normal(0.0, 0.05, (n, dim))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def generate(root: str, seed: int, sf: float, tables: tuple[str, ...] = TABLES) -> dict[str, int]:
    """Write ``tables`` under ``root``; returns their row counts.

    Each table draws from its own child stream of ``seed``, so asking
    for a subset of tables yields the same rows as asking for all."""
    os.makedirs(root, exist_ok=True)
    n = sizes(sf)
    streams = dict(zip(TABLES, np.random.SeedSequence(seed).spawn(len(TABLES))))
    out: dict[str, pa.Table] = {}
    for name in tables:
        rng = np.random.default_rng(streams[name])
        if name == "region":
            t = pa.table({
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            })
        elif name == "nation":
            t = pa.table({
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            })
        elif name == "customer":
            c = n["customer"]
            t = pa.table({
                "c_custkey": pa.array(np.arange(c), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(c)],
                "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, c),
                "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), c)],
            })
        elif name == "supplier":
            s = n["supplier"]
            t = pa.table({
                "s_suppkey": pa.array(np.arange(s), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(s)],
                "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, s),
            })
        elif name == "part":
            p = n["part"]
            names = np.char.add(
                np.char.add(ADJECTIVES[rng.integers(0, 8, p)], " "),
                NOUNS[rng.integers(0, 8, p)],
            )
            t = pa.table({
                "p_partkey": pa.array(np.arange(p), pa.int64()),
                "p_name": names,
                "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
                "p_type": PART_TYPES[rng.integers(0, len(PART_TYPES), p)],
                "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(p) % 10_000) / 10.0, 1),
            })
        elif name == "orders":
            t = orders_table(rng, np.arange(n["orders"]), n["customer"])
        elif name == "lineitem":
            t = lineitem_table(rng, np.arange(n["orders"]), n["part"], n["supplier"])
        elif name == "events":
            e = n["events"]
            ts = np.sort(rng.integers(0, 30 * _DAY_US, e)) + _EPOCH_2024
            t = pa.table({
                "event_id": pa.array(np.arange(e), pa.int64()),
                "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, max(50, e // 67), e), pa.int64()),
                "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), e)],
                "value": np.round(rng.exponential(20.0, e), 2) + 0.01,
                "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, e)],
            })
        elif name == "documents":
            t = _documents(rng, n["documents"])
        elif name == "embeddings":
            t = _embeddings(rng, n["embeddings"])
        else:
            raise KeyError(name)
        out[name] = t
        _write(root, name, t)
    return {name: t.num_rows for name, t in out.items()}
