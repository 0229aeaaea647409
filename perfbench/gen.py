"""Deterministic input generator for the benchmark.

Writes the ten tables the graft query set reads (TPC-H-like star schema plus
`events`, `documents` and `embeddings`) as single-row-group snappy parquet,
with the same schemas and value domains as the repository's test data.

Table *content* depends only on the scale factor: it is drawn from a fixed
generator seed, so outputs and their fingerprints are reproducible. The
benchmark's run seed only permutes row order where a workload asks for it
(`write_csv`), never values.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

CONTENT_SEED = 42
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
PART_ADJ = "red new hot small cold large blue old".split()
PART_NOUN = "bolt anvil ring rod plate gear widget gizmo".split()


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array((d * 86_400_000_000).astype("datetime64[us]"))


def _money(rng, n, lo, hi):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _choice(rng, n, values, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def sizes(sf):
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "users": max(1, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def build(sf):
    """Return {table name: pyarrow.Table} at scale factor `sf`."""
    rng = np.random.default_rng(CONTENT_SEED)
    n = sizes(sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    k = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
        "c_acctbal": _money(rng, k, -999.99, 9999.99),
        "c_mktsegment": _choice(rng, k, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                         "HOUSEHOLD", "MACHINERY"])})
    k = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
        "s_acctbal": _money(rng, k, -999.99, 9999.99)})
    k = n["part"]
    keys = np.arange(k, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, k), rng.integers(0, 8, k))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, k)]),
        "p_type": _choice(rng, k, ["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                   "SMALL", "STANDARD"]),
        "p_size": pa.array(rng.integers(1, 51, k).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    k = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k).astype(np.int64),
        "o_orderstatus": _choice(rng, k, ["F", "O", "P"]),
        "o_totalprice": _money(rng, k, 1000.0, 500000.0),
        "o_orderdate": _days(rng, k, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _choice(rng, k, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                            "4-NOT SPECIFIED", "5-LOW"])})
    k = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], k).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], k).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], k).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, k).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, k, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": _choice(rng, k, ["A", "N", "R"]),
        "l_linestatus": _choice(rng, k, ["F", "O"]),
        "l_shipdate": _days(rng, k, "1995-01-02", "2001-11-04")})
    k = n["events"]
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, k)) + \
        np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, n["users"], k).astype(np.int64),
        "event_type": _choice(rng, k, ["click", "error", "purchase", "signup",
                                       "view"]),
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)])})
    k = n["documents"]
    lens = rng.integers(10, 101, k)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    # ~5% near-duplicates: another document's text with a marker appended
    # (two copies of one source are exact duplicates of each other)
    dup_src = rng.integers(0, k, k)
    for i in np.flatnonzero(rng.random(k) < 0.05):
        if dup_src[i] != i:
            texts[i] = texts[dup_src[i]] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": pa.array(texts),
        "lang": _choice(rng, k, ["en", "de", "fr", "es", "zh"],
                        p=[0.41, 0.14, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(k)]),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    k = n["embeddings"]
    labels = rng.integers(0, 10, k)
    centers = rng.normal(0.0, 1.0, (10, 64))
    v = centers[labels] + rng.normal(0.0, 0.8, (k, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    return t


def write_parquet(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy", row_group_size=max(1, tbl.num_rows))


def write_csv(tables, names, out_dir, seed):
    """CSV exports of `names`, each with its rows in a seed-shuffled order.
    Returns the total bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    total = 0
    for name in names:
        tbl = tables[name]
        tbl = tbl.take(pa.array(rng.permutation(tbl.num_rows)))
        path = os.path.join(out_dir, f"{name}.csv")
        pacsv.write_csv(tbl, path)
        total += os.path.getsize(path)
    return total
