#!/usr/bin/env python3
"""Writes the engine workloads' input tables: a small TPC-H-ish star
schema plus `events`, `documents` and `embeddings`, in the column layout
the query registry reads (one parquet file per table).

The tables are a pure function of (seed, sizes). The engine workloads use
one fixed data seed so their committed result hashes apply; the run seed
only orders the queries.

    python3 perfbench/gen_tables.py OUTDIR [--seed 42]
"""
import json
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
N_ORDERS = 3000
N_EVENTS = 3000
N_DOCS = 500
N_VEC = 500
N_CUST, N_SUPP, N_PART = 300, 20, 400


def generate(outdir, seed=DATA_SEED):
    rnd = random.Random(seed)
    os.makedirs(outdir, exist_ok=True)

    def write(name, cols, schema):
        pq.write_table(pa.Table.from_pydict(cols, schema=schema),
                       os.path.join(outdir, f"{name}.parquet"))

    def f64(lo, hi, n):
        return [round(rnd.uniform(lo, hi), 2) for _ in range(n)]

    write("region", {"r_regionkey": list(range(5)),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
          pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    write("nation", {"n_nationkey": list(range(25)),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": [i % 5 for i in range(25)]},
          pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                     ("n_regionkey", pa.int32())]))

    segs = ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"]
    write("customer", {
        "c_custkey": list(range(N_CUST)),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
        "c_nationkey": [rnd.randrange(25) for _ in range(N_CUST)],
        "c_acctbal": f64(-999, 9999, N_CUST),
        "c_mktsegment": [rnd.choice(segs) for _ in range(N_CUST)]},
        pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                   ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                   ("c_mktsegment", pa.string())]))
    write("supplier", {
        "s_suppkey": list(range(N_SUPP)),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
        "s_nationkey": [rnd.randrange(25) for _ in range(N_SUPP)],
        "s_acctbal": f64(-999, 9999, N_SUPP)},
        pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                   ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))
    adjs = ["cold", "hot", "small", "large", "shiny", "red", "blue", "old"]
    nouns = ["widget", "gadget", "bolt", "gear", "ring", "gizmo"]
    types = ["ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM", "LARGE"]
    write("part", {
        "p_partkey": list(range(N_PART)),
        "p_name": [f"{rnd.choice(adjs)} {rnd.choice(nouns)}" for _ in range(N_PART)],
        "p_brand": [f"Brand#{rnd.randrange(1, 26)}" for _ in range(N_PART)],
        "p_type": [rnd.choice(types) for _ in range(N_PART)],
        "p_size": [rnd.randrange(1, 51) for _ in range(N_PART)],
        "p_retailprice": f64(900, 1000, N_PART)},
        pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                   ("p_brand", pa.string()), ("p_type", pa.string()),
                   ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))

    day_us = 86400 * 10**6
    epoch_1995_us = 788918400 * 10**6
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    o_dates = [epoch_1995_us + rnd.randrange(0, 2400) * day_us for _ in range(N_ORDERS)]
    write("orders", {
        "o_orderkey": list(range(N_ORDERS)),
        "o_custkey": [rnd.randrange(N_CUST) for _ in range(N_ORDERS)],
        "o_orderstatus": [rnd.choice("FOP") for _ in range(N_ORDERS)],
        "o_totalprice": f64(1000, 500000, N_ORDERS),
        "o_orderdate": o_dates,
        "o_orderpriority": [rnd.choice(prios) for _ in range(N_ORDERS)]},
        pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                   ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                   ("o_orderdate", pa.timestamp("us")),
                   ("o_orderpriority", pa.string())]))
    names = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
             "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
             "l_linestatus", "l_shipdate"]
    li = {k: [] for k in names}
    for ok in range(N_ORDERS):
        for ln in range(1, rnd.randrange(2, 9)):
            for k, v in zip(names, (
                    ok, rnd.randrange(N_PART), rnd.randrange(N_SUPP), ln,
                    float(rnd.randrange(1, 51)), round(rnd.uniform(900, 105000), 2),
                    round(rnd.uniform(0, 0.1), 2), round(rnd.uniform(0, 0.08), 2),
                    rnd.choice("ANR"), rnd.choice("OF"),
                    o_dates[ok] + rnd.randrange(1, 122) * day_us)):
                li[k].append(v)
    write("lineitem", li, pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us"))]))

    # Timestamps are microsecond, timezone-less: the layout the registry's
    # events readers normalise. Values keep two decimals so rounded sums
    # never sit on a tie.
    epoch_2024_us = 1704067200 * 10**6
    etypes = ["view", "click", "purchase", "signup", "error"]
    write("events", {
        "event_id": list(range(N_EVENTS)),
        "ts": sorted(epoch_2024_us + rnd.randrange(0, 30 * 86400 * 10**6)
                     for _ in range(N_EVENTS)),
        "user_id": [rnd.randrange(150) for _ in range(N_EVENTS)],
        "event_type": [rnd.choice(etypes) for _ in range(N_EVENTS)],
        "value": f64(0, 500, N_EVENTS),
        "props": [json.dumps({"k": rnd.randrange(100)}) for _ in range(N_EVENTS)]},
        pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                   ("user_id", pa.int64()), ("event_type", pa.string()),
                   ("value", pa.float64()), ("props", pa.string())]))

    vocab = ["batch", "part", "spark", "line", "column", "order", "small", "sort",
             "fast", "value", "scan", "a", "hash", "slow", "group", "agg", "filter",
             "query", "big", "key", "window", "row", "table", "stream", "merge",
             "data", "vector", "customer", "join", "the", "dup", "node"]
    texts = []
    for i in range(N_DOCS):
        toks = [rnd.choice(vocab) for _ in range(rnd.randrange(10, 100))]
        # ~10% near-duplicates of a recent document, so the dedup and
        # similarity queries find real pairs.
        if i > 20 and rnd.random() < 0.1:
            toks = texts[rnd.randrange(i - 20, i)].split(" ")
            for _ in range(max(1, len(toks) // 20)):
                toks[rnd.randrange(len(toks))] = rnd.choice(vocab)
        texts.append(" ".join(toks))
    langs = ["en", "en", "en", "es", "de", "fr", "zh"]
    write("documents", {
        "doc_id": list(range(N_DOCS)), "text": texts,
        "lang": [rnd.choice(langs) for _ in range(N_DOCS)],
        "source": [f"src{rnd.randrange(20)}" for _ in range(N_DOCS)],
        "n_chars": [len(t) for t in texts]},
        pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                   ("lang", pa.string()), ("source", pa.string()),
                   ("n_chars", pa.int64())]))

    embs = []
    for _ in range(N_VEC):
        center = [rnd.gauss(0, 0.12) for _ in range(64)]
        embs.append([round(c + rnd.gauss(0, 0.03), 6) for c in center])
    write("embeddings", {
        "vec_id": list(range(N_VEC)), "embedding": embs,
        "label": [rnd.randrange(10) for _ in range(N_VEC)]},
        pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())]))


if __name__ == "__main__":
    out = sys.argv[1]
    seed = int(sys.argv[3]) if len(sys.argv) > 3 and sys.argv[2] == "--seed" else DATA_SEED
    generate(out, seed)
