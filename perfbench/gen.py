"""Seeded input generators for the benchmark workloads.

Every table is drawn from numpy's PCG64 stream for (seed, table) and
written with pyarrow in the physical layout of the engine's fixtures
(int64 keys, naive timestamp[us], float32 embedding lists), so the
same seed gives the same rows (and byte-identical files) and therefore
the same input digest. The ARD and aux rasters of the ccdc_tile
workload are generated on Spark by the harness (see ArdGen.scala);
this module only writes their parameters.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Scale of each workload's generated input. The relational tables use
# TPC-H-style row counts per unit of scale factor.
MIX_SF, MIX_DOCS, MIX_EMBEDDINGS = 0.01, 1000, 500
ARD = {"chips": 1, "rows": 10, "obs": 120, "break_every": 3}

VOCAB = ["spark", "window", "merge", "table", "column", "vector",
         "stream", "value", "data", "small", "join", "filter", "big",
         "group", "hash", "customer", "sort", "order", "slow", "line",
         "part", "fast", "row", "the", "agg", "key", "query", "a",
         "scan", "batch"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.5, 0.125, 0.125, 0.125, 0.125]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def rng(seed, table):
    tag = int.from_bytes(hashlib.sha256(table.encode()).digest()[:4], "big")
    return np.random.default_rng([seed, tag])


def write(out_dir, name, columns):
    table = pa.table(columns)
    pq.write_table(table, os.path.join(out_dir, name + ".parquet"),
                   compression="snappy")


def days(r, lo, hi, n):
    base = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - base).astype(int)
    return (base + r.integers(0, span + 1, n)).astype("datetime64[us]")


def money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def gen_relational(out_dir, seed, sf):
    """The star schema plus the events stream, shaped like the engine's
    sf fixtures (same domains, keys and value grids)."""
    write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n_cust, n_supp = int(150000 * sf), int(10000 * sf)
    n_part, n_ord, n_line = int(200000 * sf), int(1500000 * sf), int(6000000 * sf)
    r = rng(seed, "customer")
    write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]})
    r = rng(seed, "supplier")
    write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(r, -999.99, 9999.99, n_supp)})
    r = rng(seed, "part")
    keys = np.arange(n_part, dtype=np.int64)
    write(out_dir, "part", {
        "p_partkey": keys,
        "p_name": [PART_ADJ[a] + " " + PART_NOUN[b] for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": ["Brand#%d" % b for b in r.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})
    r = rng(seed, "orders")
    write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": days(r, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]})
    r = rng(seed, "lineitem")
    write(out_dir, "lineitem", {
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(r, 900.0, 105000.0, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": days(r, "1995-01-02", "2001-11-04", n_line)})
    r = rng(seed, "events")
    n_ev, n_users = int(1000000 * sf), int(15000 * sf)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(r.integers(0, 30 * 86400 * 10**6, n_ev))
    write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": r.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": ['{"k": %d}' % k for k in r.integers(0, 100, n_ev)]})


def gen_corpus(out_dir, seed, n):
    """Documents over the fixtures' 30-word vocabulary, 10..100 words
    each, with the fixtures' duplicate structure: ~5% near-duplicates
    (an earlier document plus one appended token) and ~0.2% exact
    copies of an earlier document."""
    r = rng(seed, "documents")
    lens = r.integers(10, 101, n)
    words = np.array(VOCAB)[r.integers(0, len(VOCAB), int(lens.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    kind = r.random(n)
    src = r.integers(0, np.maximum(np.arange(n), 1))
    for i in range(1, n):
        if kind[i] < 0.05:
            texts[i] = texts[src[i]] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[src[i]]
    write(out_dir, "documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n, p=LANG_P)],
        "source": ["src%d" % s for s in r.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def gen_embeddings(out_dir, seed, n, dims=64):
    """Unit-normalized Gaussian vectors with a 10-ary label."""
    r = rng(seed, "embeddings")
    v = r.standard_normal((n, dims)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    write(out_dir, "embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": r.integers(0, 10, n).astype(np.int32)})


def generate(workload, seed, out_dir):
    """Write the workload's inputs for `seed` into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    if workload == "query_mix":
        gen_relational(out_dir, seed, MIX_SF)
        gen_corpus(out_dir, seed, MIX_DOCS)
        gen_embeddings(out_dir, seed, MIX_EMBEDDINGS)
    elif workload == "ccdc_tile":
        with open(os.path.join(out_dir, "ard_params.json"), "w") as f:
            json.dump(dict(ARD, seed=seed), f, sort_keys=True)
    else:
        raise ValueError("unknown workload " + workload)


def digest(path):
    """sha256 over every input's name and rows. A table digests as the
    Arrow IPC stream of its rows (a Spark-written directory: its part
    files in part order), not as Parquet bytes, because Spark's writer
    orders column-chunk encodings differently from one JVM to the next."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if name.startswith(("_", ".")):
            continue
        if os.path.isdir(full) or name.endswith(".parquet"):
            parts = [os.path.join(full, f) for f in sorted(os.listdir(full))
                     if f.startswith("part-")] if os.path.isdir(full) else [full]
            table = pa.concat_tables([pq.read_table(f) for f in parts])
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, table.schema) as w:
                w.write_table(table)
            data = sink.getvalue().to_pybytes()
        else:
            with open(full, "rb") as f:
                data = f.read()
        h.update(name.encode() + b"\0" + hashlib.sha256(data).digest())
    return h.hexdigest()
