"""Seeded input generators for the benchmark.

Two inputs, both made before any clock starts:

* ``write_tables`` writes the ten parquet tables the query registry reads
  (``region nation customer supplier part orders lineitem events documents
  embeddings``), with the schemas, value domains and scale rules of the
  repository's test tables (TESTDATA.md; FIXTURES.md section 2). Every
  column is drawn
  independently and uniformly, as in those tables, so the registry's DuckDB
  oracles apply unchanged.
* ``write_transactions_csv`` is the dirty-transactions generator of
  FIXTURES.md section 3 (``tests/test_pipeline.py::_golden_csv``), copied
  here with the seed and row count as arguments. It returns the row counts
  the pipeline must reproduce.

Only numpy, pyarrow and the standard library are used, so generating inputs
never imports the program under test.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_EMBED_DIM = 64


def table_rows(sf: float) -> dict[str, int]:
    """Row count of each table at scale factor ``sf`` (the test tables'
    rules: TPC-H ratios, 1M events and 15k users per unit, at least 500
    documents and embeddings)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def _ts(values: np.ndarray) -> pa.Array:
    # Naive micros timestamps: parquet TIMESTAMP(MICROS) without
    # isAdjustedToUTC, the on-disk type of the test tables.
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.02:
            # exact duplicates of an earlier document, so the dedup
            # operators have groups to find
            texts.append(texts[int(rng.integers(0, i))])
            continue
        words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), lengths[i])]
        if rng.random() < 0.05:
            words[int(rng.integers(0, len(words)))] = "dup"
        texts.append(" ".join(words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, _EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * _EMBED_DIM, _EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale ``sf``; the same (sf, seed) gives the same
    bytes."""
    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    users = max(1, round(15_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    k = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(k, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, k),
            "c_mktsegment": rng.choice(_SEGMENTS, k).tolist(),
        }
    )
    k = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(k, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, k),
        }
    )
    k = n["part"]
    keys = np.arange(k, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, k), rng.integers(0, 8, k))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
            "p_type": rng.choice(_PART_TYPES, k).tolist(),
            "p_size": rng.integers(1, 51, k).astype(np.int32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    k = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(k, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], k),
            "o_orderstatus": rng.choice(["F", "O", "P"], k).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, k),
            "o_orderdate": _ts(_days(rng, "1995-01-01", 2404, k)),
            "o_orderpriority": rng.choice(_PRIORITIES, k).tolist(),
        }
    )
    k = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], k),
            "l_partkey": rng.integers(0, n["part"], k),
            "l_suppkey": rng.integers(0, n["supplier"], k),
            "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
            "l_quantity": rng.integers(1, 51, k).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, k),
            "l_discount": np.round(rng.uniform(0.0, 0.1, k), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, k), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], k).tolist(),
            "l_linestatus": rng.choice(["F", "O"], k).tolist(),
            "l_shipdate": _ts(_days(rng, "1995-01-02", 2499, k)),
        }
    )
    k = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    offsets = np.sort(rng.integers(0, span_us, k))
    out["events"] = pa.table(
        {
            "event_id": np.arange(k, dtype=np.int64),
            "ts": _ts(start + offsets.astype("timedelta64[us]")),
            "user_id": rng.integers(0, users, k),
            "event_type": rng.choice(_EVENT_TYPES, k).tolist(),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, k), 2)),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every table; returns the row
    count of each."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


CSV_HEADER = "transaction_id,user_id,amount,timestamp,status\n"
_STATUSES = ["Completed", "PENDING", "cancelled", "Failed", "refunded", "CANCELLED"]


def write_transactions_csv(path: str, rows: int, seed: int) -> dict[str, int]:
    """FIXTURES.md section 3 generator: stdlib ``random``, exact call order.

    Returns ``rows`` (every line parses, so every row enters the transform)
    and ``survivors``: rows with a transaction id, a non-negative numeric
    amount and a status other than cancelled. Ids are unique, so the upsert
    keeps every survivor. Seed 42 with 500,000 rows gives 314,214
    survivors, the count the reference implementation loaded."""
    rnd = random.Random(seed)
    survivors = 0
    with open(path, "w") as f:
        f.write(CSV_HEADER)
        for i in range(rows):
            r = rnd.random()
            tid = f"T{i:08d}" if r <= 0.995 else ""
            uid = f"U{rnd.randint(1, 50000):06d}"
            if r < 0.01:
                amount = "not_a_number"
            elif r < 0.05:
                amount = f"{-rnd.uniform(1, 500):.4f}"
            else:
                amount = f"{rnd.uniform(0.01, 2000):.4f}"
            ts = (
                f"2025-{rnd.randint(1, 12):02d}-{rnd.randint(1, 28):02d}"
                f"T{rnd.randint(0, 23):02d}:00:00"
            )
            status = rnd.choice(_STATUSES)
            f.write(f"{tid},{uid},{amount},{ts},{status}\n")
            if tid and r >= 0.05 and status.lower() != "cancelled":
                survivors += 1
    return {"rows": rows, "survivors": survivors}
