"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings), one parquet file
each, with the same schemas and value domains as the engine's reference
test data. Scale 1.0 gives the sf0.1 row counts (600,000 lineitem rows);
perfbench/run.py picks the scale of each workload.

The seed decides every random draw: values, row order, the row-group split
of every file, and which documents and embeddings are near-duplicate edits
of an earlier row. The same seed and scale give byte-identical files.

Entry point: write(seed, scale, out_dir, only=None).
"""
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale 1.0 (the sf0.1 reference data).
BASE_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000,
             "documents": 5000, "embeddings": 2000}
# Share of documents that are a near-duplicate edit (an earlier document's
# text plus one appended token), and of exact re-posts of an earlier text.
DOC_NEAR_DUP = 0.05
DOC_EXACT_DUP = 0.002
# Share of embeddings that are a perturbed copy of an earlier vector.
VEC_NEAR_DUP = 0.05
VEC_NOISE = 0.02

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["red", "blue", "hot", "old", "new", "small", "large", "shiny"]
NOUN = ["bolt", "ring", "plate", "rod", "anvil", "gear", "nut", "pipe"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DAY_US = 86_400_000_000


def days_since_epoch(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype(np.int64))


def ts_days(rng, n, lo, hi):
    """Midnight timestamps (µs) uniform over the day range [lo, hi]."""
    return pa.array(rng.integers(lo, hi + 1, n) * DAY_US,
                    type=pa.timestamp("us"))


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def keyed_names(prefix, keys):
    return [f"{prefix}#{k:09d}" for k in keys]


def documents(rng, n):
    lengths = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # near-duplicate and exact re-posts copy an EARLIER document, so the
    # lowest doc_id of every duplicate group is the original
    kind = rng.random(n)
    for i in range(1, n):
        if kind[i] < DOC_NEAR_DUP:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif kind[i] < DOC_NEAR_DUP + DOC_EXACT_DUP:
            texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    dup = rng.random(n) < VEC_NEAR_DUP
    dup[0] = False
    for i in np.nonzero(dup)[0]:
        v[i] = v[int(rng.integers(0, i))]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v[dup] += rng.standard_normal((int(dup.sum()), dim)) * VEC_NOISE
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def table_rng(seed, name):
    """Each table draws from its own stream, so generating a subset of the
    tables gives the same bytes for those tables as generating all."""
    return np.random.default_rng([seed, zlib.crc32(name.encode())])


def region(rng, n):
    return pa.table({"r_regionkey": pa.array(np.arange(5), pa.int32()),
                     "r_name": pa.array(REGIONS)})


def nation(rng, n):
    return pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})


def customer(rng, n):
    c = n["customer"]
    return pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": pa.array(keyed_names("Customer", range(c))),
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": money(rng, c, -999.99, 9999.99),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, c)])})


def supplier(rng, n):
    s = n["supplier"]
    return pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": pa.array(keyed_names("Supplier", range(s))),
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": money(rng, s, -999.99, 9999.99)})


def part(rng, n):
    p = n["part"]
    keys = np.arange(p)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    return pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(np.array(names)[rng.integers(0, len(names), p)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, p)]),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})


def orders(rng, n):
    o = n["orders"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], o), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, o)]),
        "o_totalprice": money(rng, o, 1000, 500000),
        "o_orderdate": ts_days(rng, o, days_since_epoch(1995, 1, 1),
                               days_since_epoch(2001, 8, 1)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, o)])})


def lineitem(rng, n):
    li = n["lineitem"]
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": money(rng, li, 900, 105000),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, li)]),
        "l_shipdate": ts_days(rng, li, days_since_epoch(1995, 1, 2),
                              days_since_epoch(2001, 11, 4))})


def events(rng, n):
    e = n["events"]
    start = days_since_epoch(2024, 1, 1) * DAY_US
    ts = start + np.sort(rng.integers(0, 30 * DAY_US, e))
    return pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, e), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, e)]),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)])})


TABLES = {"region": region, "nation": nation, "customer": customer,
          "supplier": supplier, "part": part, "orders": orders,
          "lineitem": lineitem, "events": events,
          "documents": lambda rng, n: documents(rng, n["documents"]),
          "embeddings": lambda rng, n: embeddings(rng, n["embeddings"])}


def row_counts(scale):
    return {k: max(1, int(round(v * scale))) for k, v in BASE_ROWS.items()}


def write(seed, scale, out_dir, only=None):
    """Writes the tables (all, or those named in `only`) and returns their
    row counts."""
    n = row_counts(scale)
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in sorted(only or TABLES):
        rng = table_rng(seed, name)
        t = TABLES[name](rng, n)
        # the seed shuffles row order and picks the row-group split
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        groups = int(rng.integers(1, 5))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, -(-t.num_rows // groups)),
                       compression="snappy")
        rows[name] = t.num_rows
    return rows

