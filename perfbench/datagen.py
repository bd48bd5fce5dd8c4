"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine's queries read (``region`` ...
``embeddings``), one parquet file each, with the row counts, column
names, parquet types and value distributions of the engine's sf0.01
testdata: a TPC-H-like star schema, a time-ordered click stream, a
small text corpus with planted near-duplicates and unit-norm 64-d
embeddings.  Every timestamp column is parquet
``TIMESTAMP(MICROS, isAdjustedToUTC=false)``, as in the testdata
files, so Spark reads it as ``timestamp_ntz``.  Row counts are fixed,
so every seed gives the same amount of work; the seed changes only the
values.  The same seed always gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
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
PART_ADJ = ["small", "red", "blue", "hot", "large", "old", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = (
    "a the agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.43, 0.15, 0.15, 0.14, 0.13]
EMBED_DIM = 64
# share of documents replaced by a copy of another document with one
# word appended; such a pair has word-trigram Jaccard of 0.88 or more,
# and every other pair stays below 0.1
NEAR_DUP_FRAC = 0.05

_DAY_US = 86_400 * 1_000_000


def _days_us(rng, start: str, end: str, n: int) -> np.ndarray:
    """``n`` random midnights in ``[start, end]`` as epoch microseconds."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng, values: list[str], n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, pa.int64()).cast(pa.timestamp("us"))


def _documents(rng) -> pa.Table:
    n = ROWS["documents"]
    texts = [" ".join(_pick(rng, VOCAB, int(rng.integers(10, 100)))) for _ in range(n)]
    k = round(n * NEAR_DUP_FRAC)
    # distinct sources, so no two documents are exact copies
    for i, j in zip(rng.choice(n, k, replace=False), rng.choice(n, k, replace=False)):
        texts[i] = texts[j] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(_pick(rng, LANGS, n, LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng) -> pa.Table:
    n = ROWS["embeddings"]
    m = rng.standard_normal((n, EMBED_DIM))
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(m), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def generate(out_dir: str, seed: int) -> None:
    """Write all ten tables for ``seed`` into ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    nc, ns, np_, no, nl, ne = (
        ROWS[t]
        for t in ("customer", "supplier", "part", "orders", "lineitem", "events")
    )
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS, pa.string()),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(nc), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
                "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
                "c_mktsegment": pa.array(_pick(rng, SEGMENTS, nc)),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
                "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(np_), pa.int64()),
                "p_name": pa.array(
                    [
                        f"{a} {b}"
                        for a, b in zip(
                            _pick(rng, PART_ADJ, np_), _pick(rng, PART_NOUN, np_)
                        )
                    ]
                ),
                "p_brand": pa.array(
                    [f"Brand#{i}" for i in rng.integers(1, 26, np_)]
                ),
                "p_type": pa.array(_pick(rng, PART_TYPES, np_)),
                "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
                "p_retailprice": pa.array(
                    np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1)
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(no), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
                "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], no)),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
                "o_orderdate": _ts(_days_us(rng, "1995-01-01", "2001-08-01", no)),
                "o_orderpriority": pa.array(_pick(rng, PRIORITIES, no)),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
                "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
                "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
                "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], nl)),
                "l_linestatus": pa.array(_pick(rng, ["F", "O"], nl)),
                "l_shipdate": _ts(_days_us(rng, "1995-01-02", "2001-11-04", nl)),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(ne), pa.int64()),
                # uniform over 30 days from 2024-01-01, in event_id order
                "ts": _ts(
                    np.datetime64("2024-01-01", "us").astype(np.int64)
                    + np.sort(rng.integers(0, 30 * _DAY_US, ne))
                ),
                "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
                "event_type": pa.array(_pick(rng, EVENT_TYPES, ne)),
                "value": pa.array(
                    np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01)
                ),
                "props": pa.array(
                    [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]
                ),
            }
        ),
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
