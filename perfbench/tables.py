"""Seeded analytics tables for the headline query catalog.

The catalog queries read ten parquet tables: a TPC-H-like star schema
(region, nation, customer, supplier, part, orders, lineitem), an event
stream (events) and a small document corpus with its embeddings
(documents, embeddings). `write_tables` generates all ten from a seed, with
the column names, types and value ranges the queries filter on, so the
same seed gives the same files. A few documents are near-duplicates of
others (a "dup" word swapped in), which the dedup queries find.

`Oracle.check` runs a query's DuckDB oracle SQL over the same files and
compares the result as an order-insensitive multiset, with floats rounded
to six places.
"""

from __future__ import annotations

import datetime as dt
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "en", "en", "es", "fr", "zh")
DOC_WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window",
)
PART_WORDS = ("red", "blue", "green", "small", "large", "steel", "brass", "ring",
              "widget", "bolt", "plate", "gear")
EMBED_DIM = 64


def _ts(start: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = (np.int64(int(start.replace(tzinfo=dt.timezone.utc).timestamp())) * 1_000_000
          + (seconds * 1_000_000).astype(np.int64))
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, rows: int) -> dict[str, pa.Table]:
    """All ten tables; `rows` is the number of orders (lineitem has about
    four times as many, customers and parts a tenth)."""
    rng = np.random.default_rng(seed)
    n_cust, n_part = max(rows // 10, 20), max(rows // 7, 20)
    n_supp, n_events, n_docs = max(rows // 150, 10), rows, 500
    day = 86400

    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
    }
    words = rng.integers(0, len(PART_WORDS), (n_part, 2))
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in words],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [("SMALL", "MEDIUM", "LARGE", "STANDARD", "ECONOMY")[i]
                   for i in rng.integers(0, 5, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _money(rng, 900.0, 2100.0, n_part),
    })

    order_days = rng.integers(0, 2404, rows)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(rows), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, rows), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, rows)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, rows),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), order_days * day),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, rows)],
    })

    lines = np.clip(rng.poisson(4.0, rows), 1, 13)
    n_li = int(lines.sum())
    orderkey = np.repeat(np.arange(rows, dtype=np.int64), lines)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(dt.datetime(1995, 1, 2), rng.integers(0, 2499, n_li) * day),
    })

    out["events"] = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), rng.uniform(0, 30 * day, n_events)),
        "user_id": rng.integers(0, max(n_cust // 10, 10), n_events),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": _money(rng, 0.01, 490.0, n_events),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_events)],
    })

    texts = []
    for i in range(n_docs):
        if i >= 20 and i % 20 == 0:  # near-duplicate of an earlier document
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = "dup"
            texts.append(" ".join(toks))
            continue
        n = int(rng.integers(10, 100))
        texts.append(" ".join(DOC_WORDS[j] for j in rng.integers(0, len(DOC_WORDS), n)))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vec = rng.standard_normal((n_docs, EMBED_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_docs), pa.int64()),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs), pa.int32()),
    })
    return out


def write_tables(out_dir: str, seed: int, rows: int) -> int:
    """Write the tables as `<out_dir>/<table>.parquet`; total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tbl in make_tables(seed, rows).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        total += os.path.getsize(path)
    return total


def _norm(v):
    if isinstance(v, float):
        # -0.0 and a tiny negative both print as "-0.000000"; the engines
        # may disagree on the sign of a zero
        return "nan" if math.isnan(v) else f"{v:.6f}".replace("-0.000000", "0.000000")
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _multiset(cols: list[str], rows: list) -> tuple[list[str], list]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)


class Oracle:
    """DuckDB over the generated tables."""

    def __init__(self, data_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")

    def check(self, sql: str, cols: list[str], rows: list) -> str | None:
        """None when (cols, rows) match the oracle, else what differs."""
        res = self.con.execute(sql)
        want_cols, want = _multiset([d[0] for d in res.description], res.fetchall())
        got_cols, got = _multiset(cols, [tuple(r) for r in rows])
        if got_cols != want_cols:
            return f"columns {got_cols} != {want_cols}"
        if len(got) != len(want):
            return f"{len(got)} rows, oracle {len(want)}"
        if got != want:
            extra = [r for r in got if r not in set(want)][:2]
            return f"values differ, e.g. {extra}"
        return None
