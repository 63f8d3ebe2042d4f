"""Seeded star-schema + corpus tables for the read workloads.

Writes one parquet file per table in ``lakeflow.catalog.TABLES`` with
the column names and types the registry queries and their DuckDB
oracles expect (the TPC-H-like star, the ``events`` stream and the
``documents``/``embeddings`` corpus). Sizes match the 0.01 scale the
registry's oracles are certified at. Values are rounded to the
precision the exact-arithmetic oracles assume (money to cents, rates to
hundredths), so a Spark/DuckDB mismatch is a query defect, not a
floating-point artefact of the generator.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "red", "green", "small", "large", "shiny", "black", "white"]
NOUNS = ["anvil", "widget", "ring", "gear", "bolt", "spring", "valve", "lever"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
VOCAB = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
DIM = 64


def _days(rng, n, start, n_days):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def build(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = SIZES
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    ck = np.arange(n["customer"], dtype=np.int64)
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": rng.integers(0, 25, len(ck)).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, len(ck)),
            "c_mktsegment": rng.choice(SEGMENTS, len(ck)),
        }
    )
    sk = np.arange(n["supplier"], dtype=np.int64)
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": rng.integers(0, 25, len(sk)).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, len(sk)),
        }
    )
    pk = np.arange(n["part"], dtype=np.int64)
    t["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": [
                f"{COLORS[a]} {NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, len(pk)), rng.integers(0, 8, len(pk)))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(pk))],
            "p_type": rng.choice(PART_TYPES, len(pk)),
            "p_size": rng.integers(1, 51, len(pk)).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    ok = np.arange(n["orders"], dtype=np.int64)
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, n["customer"], len(ok)).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], len(ok)),
            "o_totalprice": _money(rng, 1000.0, 500000.0, len(ok)),
            "o_orderdate": _days(rng, len(ok), "1995-01-01", 2400),
            "o_orderpriority": rng.choice(PRIORITIES, len(ok)),
        }
    )
    m = n["lineitem"]
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n["orders"], m).astype(np.int64),
            "l_partkey": rng.integers(0, n["part"], m).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], m).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, m),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], m),
            "l_linestatus": rng.choice(["F", "O"], m),
            "l_shipdate": _days(rng, m, "1995-01-02", 2500),
        }
    )
    e = n["events"]
    # strictly increasing microsecond timestamps over 30 days
    gaps = rng.integers(1, 2 * 30 * 86_400_000_000 // e, e)
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
            "user_id": rng.integers(0, 150, e).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, e),
            "value": np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return {k: pa.Table.from_pandas(v, preserve_index=False) for k, v in t.items()}


def _documents(rng, nd: int) -> pd.DataFrame:
    texts: list[str] = []
    for i in range(nd):
        # ~5% near-duplicates: an earlier document plus a marker token
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    return pd.DataFrame(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, nd, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, ne: int) -> pd.DataFrame:
    centers = rng.normal(0.0, 1.0, (10, DIM))
    label = rng.integers(0, 10, ne)
    v = centers[label] * 0.15 + rng.normal(0.0, 1.0, (ne, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(ne, dtype=np.int64),
            "embedding": list(v),
            "label": label.astype(np.int32),
        }
    )


def write(seed: int, out_dir: str) -> str:
    """Write every table as ``<out_dir>/<table>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
