"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the engine's catalog registers
(``presto_spark.sources.catalog.TABLES``) as one parquet file each, with
the column names, types and value shapes of the engine's test data: a
TPC-H-like star schema (region, nation, customer, supplier, part,
orders, lineitem), an ``events`` stream, a ``documents`` corpus with
planted near-duplicates and unit-length ``embeddings``.  Sizes are fixed
(lineitem 60,000 rows, the sf0.01 shape), and so is the shape of the
near-duplicate graph; only the values depend on the seed, so every seed
asks the engine for about the same amount of work.

Usage:  python3 perfbench/datagen.py OUT_DIR SEED
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
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
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "anvil", "plate", "rod", "gizmo"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DUP_EVERY = 20  # documents i with i % DUP_EVERY == DUP_EVERY - 1 are near-duplicates
EMBED_DIM = 64

_EPOCH = dt.datetime(1970, 1, 1)


def _days(d: dt.datetime) -> int:
    return (d - _EPOCH).days


def _ts_days(days: np.ndarray) -> pa.Array:
    micros = days.astype(np.int64) * 86_400_000_000
    return pa.array(micros, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keys(n: int) -> np.ndarray:
    return np.arange(n, dtype=np.int64)


def tables(seed: int) -> dict[str, pa.Table]:
    """Every table, built from one seeded generator."""
    rng = np.random.default_rng(seed)
    n = SIZES
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    ck = _keys(n["customer"])
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, len(ck)).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(ck)),
        "c_mktsegment": rng.choice(SEGMENTS, len(ck)),
    })

    sk = _keys(n["supplier"])
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, len(sk)).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, len(sk)),
    })

    pk = _keys(n["part"])
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, len(pk)),
                                               rng.choice(PART_NOUN, len(pk)))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(pk))],
        "p_type": rng.choice(PART_TYPES, len(pk)),
        "p_size": rng.integers(1, 51, len(pk)).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })

    first, last = _days(dt.datetime(1995, 1, 1)), _days(dt.datetime(2001, 8, 1))
    ok = _keys(n["orders"])
    odays = rng.integers(first, last + 1, len(ok))
    out["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n["customer"], len(ok)).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], len(ok), p=[0.49, 0.49, 0.02]),
        "o_totalprice": _money(rng, 1_000.0, 500_000.0, len(ok)),
        "o_orderdate": _ts_days(odays),
        "o_orderpriority": rng.choice(PRIORITIES, len(ok)),
    })

    m = n["lineitem"]
    lok = rng.integers(0, n["orders"], m).astype(np.int64)
    qty = rng.integers(1, 51, m).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n["part"], m).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], m).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 4_000.0, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _ts_days(odays[lok] + rng.integers(1, 95, m)),
    })

    e = n["events"]
    month_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, month_us, e)) + _days(dt.datetime(2024, 1, 1)) * 86_400_000_000
    out["events"] = pa.table({
        "event_id": _keys(e),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, 150, e).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": _money(rng, 0.01, 490.0, e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })

    texts: list[str] = []
    for i in range(n["documents"]):
        if i % DUP_EVERY == DUP_EVERY - 1:
            # Planted near-duplicate of a seeded earlier original, one per
            # block: the duplicate graph has the same shape for every seed.
            src = i - int(rng.integers(1, DUP_EVERY))
            texts.append(texts[src] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    dk = _keys(n["documents"])
    out["documents"] = pa.table({
        "doc_id": dk,
        "text": texts,
        "lang": rng.choice(LANGS, len(dk), p=LANG_P),
        "source": [f"src{k % 20}" for k in dk],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    v = rng.standard_normal((n["embeddings"], EMBED_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": _keys(n["embeddings"]),
        "embedding": pa.array(list(v.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n["embeddings"]).astype(np.int32),
    })
    return out


def write(out_dir: str, seed: int) -> str:
    """Write every table under ``out_dir``; reuse a complete earlier write.

    The ``.complete`` marker is written last, so an interrupted write is
    redone rather than read half-finished.
    """
    marker = os.path.join(out_dir, ".complete")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as fh:
        fh.write(f"{seed}\n")
    return out_dir


if __name__ == "__main__":
    print(write(sys.argv[1], int(sys.argv[2])))
