"""Seeded input generator for the benchmark.

Writes the ten tables the declared queries read (``region nation
customer supplier part orders lineitem events documents embeddings``),
one parquet file each, with the schemas, value domains and row-count
ratios of the repository's TPC-H-shaped test data. The same ``seed``
and ``sf`` always give byte-identical tables.

Planted structure, so that dedup, connected components and ANN do
real work rather than scanning noise:

- documents: 5% near duplicates (an earlier document plus one trailing
  word) and a few exact copies, spread over every language and source;
- embeddings: unit vectors drawn around ten label centroids, plus
  near-copies of earlier vectors.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
N_SOURCES = 20
DIM = 64
N_LABELS = 10

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (sf 0.1 → lineitem 600k)."""
    n = {"region": 5, "nation": 25,
         "customer": 150_000, "supplier": 10_000, "part": 200_000,
         "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000}
    out = {t: (c if t in ("region", "nation") else max(10, int(c * sf)))
           for t, c in n.items()}
    # The corpus tables are floored, not proportional: 500 rows below
    # sf 0.1, as in the reference test data.
    out["documents"] = max(500, int(50_000 * sf))
    out["embeddings"] = max(500, int(20_000 * sf))
    return out


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: str, last: str, n: int):
    lo = (np.datetime64(first, "D") - np.datetime64("1995-01-01", "D"))
    hi = (np.datetime64(last, "D") - np.datetime64("1995-01-01", "D"))
    d = rng.integers(lo.astype(int), hi.astype(int) + 1, n)
    return _EPOCH_1995 + d.astype("timedelta64[D]")


def _keys(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.asarray(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # Plant near duplicates (5%: an earlier text plus " dup") and exact
    # copies (0.16%) at random positions, copying from lower doc ids.
    kinds = rng.random(n)
    for i in range(1, n):
        src = int(rng.integers(0, i))
        if kinds[i] < 0.05:
            texts[i] = texts[src] + " dup"
        elif kinds[i] < 0.0516:
            texts[i] = texts[src]
    lang = np.asarray(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centroids = rng.normal(0.0, 1.0, (N_LABELS, DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    label = rng.integers(0, N_LABELS, n)
    vec = centroids[label] + rng.normal(0.0, 0.12, (n, DIM))
    # 2% near-copies of an earlier vector (re-encoded duplicates).
    for i in np.nonzero(rng.random(n) < 0.02)[0]:
        if i > 0:
            j = int(rng.integers(0, i))
            vec[i] = vec[j] + rng.normal(0.0, 0.01, DIM)
            label[i] = label[j]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    vec = vec.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.ravel(), pa.float32()), DIM).cast(
                pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Build every table in memory; one child generator per table, so
    adding a column to one table leaves the others unchanged."""
    n = row_counts(sf)
    rngs = dict(zip(TABLES, (np.random.default_rng([seed, i])
                             for i in range(len(TABLES)))))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r, k = rngs["customer"], n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k), pa.int64()),
        "c_name": pa.array(_keys("Customer", k), pa.string()),
        "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, k), pa.float64()),
        "c_mktsegment": pa.array(np.asarray(SEGMENTS)[r.integers(0, 5, k)],
                                 pa.string())})

    r, k = rngs["supplier"], n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k), pa.int64()),
        "s_name": pa.array(_keys("Supplier", k), pa.string()),
        "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, k), pa.float64())})

    r, k = rngs["part"], n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(k), pa.int64()),
        "p_name": pa.array(np.asarray(names)[r.integers(0, len(names), k)],
                           pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, k)],
                            pa.string()),
        "p_type": pa.array(np.asarray(PART_TYPES)[r.integers(0, 6, k)],
                           pa.string()),
        "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(k) % 1000) / 10.0, 1), pa.float64())})

    r, k = rngs["orders"], n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": pa.array(np.asarray(("F", "O", "P"))[
            r.integers(0, 3, k)], pa.string()),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, k),
                                 pa.float64()),
        "o_orderdate": pa.array(_days(r, "1995-01-01", "2001-08-01", k),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(np.asarray(PRIORITIES)[
            r.integers(0, 5, k)], pa.string())})

    r, k = rngs["lineitem"], n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, k).astype(np.float64),
                               pa.float64()),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, k),
                                    pa.float64()),
        "l_discount": pa.array(r.integers(0, 11, k) / 100.0, pa.float64()),
        "l_tax": pa.array(r.integers(0, 9, k) / 100.0, pa.float64()),
        "l_returnflag": pa.array(np.asarray(("A", "N", "R"))[
            r.integers(0, 3, k)], pa.string()),
        "l_linestatus": pa.array(np.asarray(("F", "O"))[
            r.integers(0, 2, k)], pa.string()),
        "l_shipdate": pa.array(_days(r, "1995-01-02", "2001-11-04", k),
                               pa.timestamp("us"))})

    r, k = rngs["events"], n["events"]
    span_us = 30 * _DAY_US
    ts = np.sort(r.integers(0, span_us, k))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(1, k * 3 // 200), k), pa.int64()),
        "event_type": pa.array(np.asarray(EVENT_TYPES)[r.integers(0, 5, k)],
                               pa.string()),
        "value": pa.array(np.round(r.exponential(50.0, k), 2), pa.float64()),
        "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, k)],
                          pa.string())})

    t["documents"] = _documents(rngs["documents"], n["documents"])
    t["embeddings"] = _embeddings(rngs["embeddings"], n["embeddings"])
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``{out_dir}/{table}.parquet`` for every table; returns the
    row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
