#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes one directory holding the ten tables of TESTDATA.md (one parquet
file per table, same column names and types) from a seed. The values are
drawn with numpy from the seed and written through DuckDB, so the same seed
always gives the same files; nothing is downloaded.

Contracts the program's calls rely on:
  * events: event_id = 0..n-1, ts increasing with event_id across a 30-day
    span from 2024-01-01, so a block of 7 ids (event_id % 7 == 0 is the
    root) forms one thread in the reply->post resolvers;
  * embeddings: unit-norm FLOAT[dim] vectors in ten equal clusters (the
    label is the cluster); rows with vec_id % 100 == 0 are the query side
    of the vector-search calls;
  * documents: words from a small vocabulary, with near-duplicate families
    (an original and copies of it with " dup" appended) and a few exact
    duplicates.

Usage: python3 gen.py OUT_DIR --seed N
"""
import argparse
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
START_S = 1704067200  # 2024-01-01T00:00:00Z
SPAN_S = 30 * 86400
# table sizes: well below sf0.1, so that a run fits the benchmark's time
# budget (see README.md)
EVENTS, USERS = 5_000, 1_500
EMBEDDINGS, DIM, CLUSTERS = 500, 64, 10
DOCUMENTS = 500
ORDERS = 150


def events(rng, n, users):
    ts_us = np.sort(rng.integers(0, SPAN_S * 1_000_000, n)) + START_S * 1_000_000
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts_us": pa.array(ts_us.astype(np.int64)),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n):
    # A family is one original and its copies, never a copy of a copy, so
    # the longest duplicate chain (and with it the number of rounds of the
    # program's connected-components fixpoints) is the same for every seed.
    texts, originals = [], []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:       # near-duplicate of an original
            texts.append(texts[originals[rng.integers(0, len(originals))]] + " dup")
        elif i > 10 and r < 0.052:    # exact duplicate of an original
            texts.append(texts[originals[rng.integers(0, len(originals))]])
        else:
            k = int(rng.integers(10, 101))
            originals.append(i)
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n, dim):
    # Ten well-separated clusters of equal size, so the program's k-means
    # (k = 10, seeded with vec_id < 10) finds them and every cell holds the
    # same number of vectors whatever the seed: the work of a pass must not
    # depend on the seed. vec_id < 10 covers the ten clusters, and the five
    # queries (vec_id % 100 == 0) fall in five different ones.
    ids = np.arange(n, dtype=np.int64)
    cluster = ((ids + ids // 100) % CLUSTERS).astype(np.int32)
    centers = rng.standard_normal((CLUSTERS, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    v = centers[cluster] + rng.standard_normal((n, dim)) * (0.5 / np.sqrt(dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(ids),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(cluster),
    })


def tpch(con, out, rng, orders):
    """Small TPC-H-shaped dimension and fact tables (no call of the
    benchmark reads them; they complete the TESTDATA.md table set)."""
    n_cust, n_part, n_supp = max(orders // 10, 10), max(orders // 7, 10), 10
    nat = pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                    "n_name": pa.array([f"NATION{i}" for i in range(25)]),
                    "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    reg = pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                    "r_name": pa.array([f"REGION{i}" for i in range(5)])})
    cust = pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i}" for i in range(1, n_cust + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array([["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                   "MACHINERY"][i] for i in rng.integers(0, 5, n_cust)])})
    supp = pa.table({
        "s_suppkey": pa.array(np.arange(1, n_supp + 1, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i}" for i in range(1, n_supp + 1)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2))})
    part = pa.table({
        "p_partkey": pa.array(np.arange(1, n_part + 1, dtype=np.int64)),
        "p_name": pa.array([f"part {i}" for i in range(1, n_part + 1)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(11, 56, n_part)]),
        "p_type": pa.array([f"TYPE{i}" for i in rng.integers(0, 30, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(rng.uniform(900, 2000, n_part), 2))})
    odate = START_S * 1_000_000 + rng.integers(0, 2000 * 86400, orders) * 1_000_000
    ords = pa.table({
        "o_orderkey": pa.array(np.arange(1, orders + 1, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, orders, dtype=np.int64)),
        "o_orderstatus": pa.array([["F", "O", "P"][i] for i in rng.integers(0, 3, orders)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, orders), 2)),
        "o_orderdate_us": pa.array(odate.astype(np.int64)),
        "o_orderpriority": pa.array([f"{i}-PRIO" for i in rng.integers(1, 6, orders)])})
    n_li = orders * 4
    li = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(1, orders + 1, dtype=np.int64), 4)),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(np.tile(np.arange(1, 5, dtype=np.int32), orders)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array([["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([["F", "O"][i] for i in rng.integers(0, 2, n_li)]),
        "l_shipdate_us": pa.array(np.repeat(odate, 4) + rng.integers(1, 122, n_li) * 86_400_000_000)})
    for name, t in [("nation", nat), ("region", reg), ("customer", cust),
                    ("supplier", supp), ("part", part)]:
        copy(con, out, name, t, "*")
    copy(con, out, "orders", ords,
         "* EXCLUDE (o_orderdate_us, o_orderpriority), make_timestamp(o_orderdate_us) "
         "AS o_orderdate, o_orderpriority")
    copy(con, out, "lineitem", li,
         "* EXCLUDE (l_shipdate_us), make_timestamp(l_shipdate_us) AS l_shipdate")


def copy(con, out, name, table, select):
    con.register("src", table)
    con.execute(f"COPY (SELECT {select} FROM src) TO '{out}/{name}.parquet' (FORMAT parquet)")
    con.unregister("src")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    part = a.out + ".part"
    shutil.rmtree(part, ignore_errors=True)
    os.makedirs(part)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    # one generator per table, so resizing one table leaves the others alone
    rngs = [np.random.default_rng([a.seed, i]) for i in range(4)]
    copy(con, part, "events", events(rngs[0], EVENTS, USERS),
         "event_id, make_timestamp(ts_us) AS ts, user_id, event_type, value, props")
    copy(con, part, "documents", documents(rngs[1], DOCUMENTS), "*")
    copy(con, part, "embeddings", embeddings(rngs[2], EMBEDDINGS, DIM), "*")
    tpch(con, part, rngs[3], ORDERS)
    con.close()
    shutil.rmtree(a.out, ignore_errors=True)
    os.rename(part, a.out)


if __name__ == "__main__":
    main()
