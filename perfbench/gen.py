"""Seeded input generator for the graft benchmark.

Writes the ten parquet tables the engine reads (the TPC-H-style star
schema, an `events` stream, `documents` and `embeddings`) with the same
column names, types and value domains as the engine's test data:

* every key column is dense from 0, so joins have the usual fan-out;
* 5% of documents are near-duplicates: another document's text plus
  the marker token `dup` (two copies of one base make exact duplicates);
* embeddings are unit vectors drawn around one centroid per label.

The same (seed, scale) always gives the same tables.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
EPOCH_US_1995 = 788918400 * 1_000_000      # 1995-01-01T00:00:00Z
EPOCH_US_2024 = 1704067200 * 1_000_000     # 2024-01-01T00:00:00Z
DAY_US = 86400 * 1_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _rows(n, scale, floor=1):
    return max(floor, int(round(n * scale)))


def generate(out, seed, scale):
    """Write one dataset of size `scale` (1.0 = 6M lineitems) into `out`.
    Returns {table: row count}."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = _rows(150_000, scale, 10), _rows(10_000, scale, 10)
    n_part, n_ord = _rows(200_000, scale, 10), _rows(1_500_000, scale, 10)
    n_li, n_ev = _rows(6_000_000, scale, 10), _rows(1_000_000, scale, 10)
    n_users, n_docs = _rows(15_000, scale, 10), _rows(50_000, scale, 50)
    n_emb = max(500, _rows(20_000, scale))
    counts = {}

    def put(name, cols):
        _write(out, name, cols)
        counts[name] = len(next(iter(cols.values())))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    colors = "blue red green small large black white steel".split()
    nouns = "anvil widget bolt ring gear spring valve hinge".split()
    names = np.array([f"{c} {n}" for c in colors for n in nouns])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    put("part", {
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(EPOCH_US_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)]})
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(EPOCH_US_1995 + rng.integers(1, 2499, n_li) * DAY_US)})
    ev_types = np.array(["click", "error", "purchase", "signup", "view"])
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(EPOCH_US_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": ev_types[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
             for _ in range(n_docs)]
    dups = rng.choice(n_docs, n_docs // 20, replace=False)
    originals = np.setdiff1d(np.arange(n_docs), dups)
    for d, src in zip(dups, rng.choice(originals, len(dups))):
        texts[d] = texts[src] + " dup"
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    put("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] + rng.normal(0.0, 1.2, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return counts


def verify_counts(path, counts):
    """Re-read every table's row count from its parquet footer."""
    for t, n in counts.items():
        got = pq.ParquetFile(os.path.join(path, f"{t}.parquet")).metadata.num_rows
        if got != n:
            raise RuntimeError(f"{path}/{t}: {got} rows, expected {n}")


def remove(path):
    shutil.rmtree(path, ignore_errors=True)
