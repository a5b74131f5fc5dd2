"""Seeded input generators.

Every table the program reads is drawn here from a numpy generator seeded
by the workload seed, in the schema `graft.Tables.expectedDdl` pins (the
JVM side checks it with `Tables.assertSchemas`). The shapes follow the
repository's sf0.1 testdata (TESTDATA.md): TPC-H-like star tables, an `events` click
stream, and a `documents` corpus drawn from the same 30-word vocabulary,
language mix and 10-100 word lengths, with 64-d unit `embeddings` in 10
labels.

The corpus adds stated shares of exact and near duplicates (an earlier
document copied verbatim, or copied with one word replaced and `dup`
appended) and numbers doc_id in arrival order, so every duplicate points
back to a smaller id.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the spark window merge table column vector stream value data "
         "small join filter big group hash customer sort order slow line "
         "part fast row agg key query scan batch").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EXACT_DUP_SHARE = 0.02
NEAR_DUP_SHARE = 0.05

EPOCH_1995 = dt.datetime(1995, 1, 1)
EPOCH_2024 = dt.datetime(2024, 1, 1)


def _ts(base, seconds):
    """Naive (timezone-free) microsecond timestamps: parquet stores them
    with isAdjustedToUTC=false, which Spark reads as TIMESTAMP_NTZ."""
    us = (np.asarray(seconds, dtype=np.float64) * 1e6).astype(np.int64)
    base_us = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    return pa.array(us + base_us, type=pa.timestamp("us"))


def _write(table, path, parts):
    """One table as a directory of `parts` parquet files."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, parts + 1).astype(int)
    for i in range(parts):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def star_tables(rng, sf):
    """region, nation, customer, supplier, part, orders, lineitem, events
    at scale factor `sf` (sf0.1: 15k customers, 150k orders, ~600k lines,
    100k events)."""
    n_cust = max(20, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(50, int(1_500_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array(["large", "hot", "blue", "green", "small", "red"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)],
                                          " "),
                              noun[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    days = rng.integers(0, 2405, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(EPOCH_1995, days * 86400),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    starts = np.cumsum(lines) - lines
    lnum = np.arange(n_li) - np.repeat(starts, lines) + 1
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(EPOCH_1995,
                          (np.repeat(days, lines)
                           + rng.integers(1, 122, n_li)) * 86400)})
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts(EPOCH_2024, np.sort(rng.uniform(0, 30 * 86400, n_evt))),
        "user_id": pa.array(rng.integers(0, max(10, n_evt // 66), n_evt),
                            pa.int64()),
        "event_type": kinds[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.uniform(0, 560, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    return t


def corpus(rng, n_docs):
    """The documents table as a pyarrow table, doc_id in arrival order."""
    vocab = np.array(VOCAB)
    texts = []
    kind = rng.random(n_docs)
    for i in range(n_docs):
        if i >= 10 and kind[i] < EXACT_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 10 and kind[i] < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = \
                vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(words) + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), n)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})


def embeddings(rng, n_vecs, dim=64, labels=10):
    """Unit vectors around one random centre per label."""
    centres = rng.normal(0, 1, (labels, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, labels, n_vecs)
    v = 0.3 * centres[label] + rng.normal(0, 0.12, (n_vecs, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def write_dataset(out_dir, seed, sf, n_docs, n_vecs, parts=4):
    """All ten tables under `out_dir`, one `<name>.parquet` directory each
    (the layout `graft.Tables.load` and the DuckDB views both read).
    Returns the documents table so callers can shard it."""
    rng = np.random.default_rng(seed)
    tables = star_tables(rng, sf)
    tables["documents"] = corpus(rng, n_docs)
    tables["embeddings"] = embeddings(rng, n_vecs)
    for name, tbl in tables.items():
        big = tbl.num_rows >= 2_000
        _write(tbl, os.path.join(out_dir, f"{name}.parquet"),
               parts if big else 1)
    return tables["documents"]


def write_shards(docs, shard_dir, sizes):
    """Split the corpus into id-ordered parquet shards part-00000.parquet,
    part-00001.parquet, ... of `sizes[i]` documents each (the ingest
    stream's arrival units)."""
    os.makedirs(shard_dir, exist_ok=True)
    start = 0
    for n, size in enumerate(sizes):
        pq.write_table(docs.slice(start, size),
                       os.path.join(shard_dir, f"part-{n:05d}.parquet"))
        start += size
    return len(sizes)
