"""Seeded generator of the benchmark's input tables.

It writes the same tables, with the same schemas, as the TPC-H-ish corpus
the program's faces read (region nation customer supplier part orders
lineitem events documents embeddings), one parquet file each, at a given
scale factor. Value shapes follow that corpus: documents are 10-99 words
over a 30-word vocabulary, about 5% of them an earlier document plus the
word "dup"; embeddings are 64-d unit vectors with a random label 0-9.

The same (scale, seed) always gives byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan customer column filter small slow merge order "
         "vector line data table agg value key stream window spark a group part "
         "big sort query fast the").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
PART_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
DIM = 64
US_PER_DAY = 86_400_000_000


def sizes(sf):
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "events": int(1_000_000 * sf), "users": int(15_000 * sf),
        "documents": int(50_000 * sf), "embeddings": max(500, int(20_000 * sf)),
    }


def _ts(base_us, offsets_us):
    return pa.array(base_us + offsets_us, type=pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, sf, seed=42):
    """Writes every table under directory `out` (which must exist)."""
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    day0_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
    day0_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc = n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]})

    ns = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})

    npart = n["part"]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}"
                   for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1)})

    no = n["orders"]
    odate = rng.integers(0, 2404, no) * US_PER_DAY
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts(day0_1995, odate),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)]})

    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    partkey = rng.integers(0, npart, nl)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.arange(nl) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (partkey % 1000) * 0.1), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("N", "A", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _ts(day0_1995, np.repeat(odate, lines)
                          + rng.integers(1, 122, nl) * US_PER_DAY)})

    ne = n["events"]
    gaps = rng.integers(1, 2 * (30 * US_PER_DAY) // max(1, ne), ne)
    _write(out, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(day0_2024, np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, max(1, n["users"]), ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(40.0, ne), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)]})

    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    nv = n["embeddings"]
    v = rng.standard_normal((nv, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
