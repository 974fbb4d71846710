#!/usr/bin/env python3
"""Seeded generator for the parquet tables the query workloads read.

Writes the tables named by --tables, out of region, nation, customer,
supplier, part, orders, lineitem, events, documents and embeddings, with
the column names, types and value domains of graft's sf0.1 test tables,
scaled by --scale (1.0 = the sf0.1 row counts). The same seed and scale
give byte-identical files.

Usage: python3 gen_tables.py --seed N --scale F --tables a,b --out DIR
Prints one JSON line: {"rows": {table: n}, "digest": sha256-of-files}.
"""
import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALL = ("region nation customer supplier part orders lineitem events "
       "documents embeddings").split()
BASE_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "events": 100000, "documents": 5000,
             "embeddings": 2000}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
DIM = 64


def choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def money(x):
    return np.round(x, 2)


def day_ts(days_since_epoch):
    return pa.array(days_since_epoch.astype("int64") * 86_400_000_000,
                    type=pa.timestamp("us"))


def build(name, rng, sizes):
    n = sizes.get(name, 0)
    if name == "region":
        return {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(REGIONS)}
    if name == "nation":
        return {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}
    if name == "customer":
        return {"c_custkey": pa.array(np.arange(n, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
                "c_acctbal": pa.array(money(rng.uniform(-999.99, 9999.99, n))),
                "c_mktsegment": choice(rng, SEGMENTS, n)}
    if name == "supplier":
        return {"s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
                "s_acctbal": pa.array(money(rng.uniform(-999.99, 9999.99, n)))}
    if name == "part":
        names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
        return {"p_partkey": pa.array(np.arange(n, dtype=np.int64)),
                "p_name": choice(rng, names, n),
                "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n)]),
                "p_type": choice(rng, PART_TYPES, n),
                "p_size": pa.array(rng.integers(1, 51, n, dtype=np.int32)),
                "p_retailprice": pa.array(900.0 + (np.arange(n) % 1000) / 10.0)}
    if name == "orders":
        return {"o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, sizes["customer"], n, dtype=np.int64)),
                "o_orderstatus": choice(rng, ["F", "O", "P"], n),
                "o_totalprice": pa.array(money(rng.uniform(1000.0, 500000.0, n))),
                "o_orderdate": day_ts(9131 + rng.integers(0, 2404, n)),
                "o_orderpriority": choice(rng, PRIORITIES, n)}
    if name == "lineitem":
        orders = sizes["orders"]
        per_order = rng.integers(1, 8, orders)
        okeys = np.repeat(np.arange(orders, dtype=np.int64), per_order)
        m = len(okeys)
        qty = rng.integers(1, 51, m).astype(np.float64)
        return {"l_orderkey": pa.array(okeys),
                "l_partkey": pa.array(rng.integers(0, sizes["part"], m, dtype=np.int64)),
                "l_suppkey": pa.array(rng.integers(0, sizes["supplier"], m, dtype=np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, m, dtype=np.int32)),
                "l_quantity": pa.array(qty),
                "l_extendedprice": pa.array(money(qty * rng.uniform(900.0, 2100.0, m))),
                "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
                "l_returnflag": choice(rng, ["A", "N", "R"], m),
                "l_linestatus": choice(rng, ["F", "O"], m),
                "l_shipdate": day_ts(9132 + rng.integers(0, 2499, m))}
    if name == "events":
        start = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in µs
        ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n)) + start
        return {"event_id": pa.array(np.arange(n, dtype=np.int64)),
                "ts": pa.array(ts, type=pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, max(1, n * 3 // 200), n, dtype=np.int64)),
                "event_type": choice(rng, EVENT_TYPES, n),
                "value": pa.array(money(rng.exponential(50.0, n))),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])}
    if name == "documents":
        words = np.asarray(WORDS, dtype=object)
        texts = [" ".join(words[rng.integers(0, len(WORDS), k)])
                 for k in rng.integers(10, 101, n)]
        # 5% of documents are a near-duplicate of an earlier one
        for i in np.flatnonzero(rng.random(n) < 0.05):
            if i > 0:
                texts[i] = texts[int(rng.integers(0, i))] + " dup"
        return {"doc_id": pa.array(np.arange(n, dtype=np.int64)),
                "text": pa.array(texts),
                "lang": choice(rng, LANGS, n, p=LANG_P),
                "source": pa.array([f"src{i % 20}" for i in range(n)]),
                "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))}
    if name == "embeddings":
        v = rng.standard_normal((n, DIM)).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return {"vec_id": pa.array(np.arange(n, dtype=np.int64)),
                "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n, dtype=np.int32))}
    raise ValueError(name)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--tables", required=True)
    a = ap.parse_args()
    wanted = a.tables.split(",")
    if set(wanted) - set(ALL):
        ap.error(f"unknown tables: {sorted(set(wanted) - set(ALL))}")
    sizes = {t: max(1, int(n * a.scale)) for t, n in BASE_ROWS.items()}
    os.makedirs(a.out, exist_ok=True)
    rows, digest = {}, hashlib.sha256()
    for i, name in enumerate(ALL):
        if name not in wanted:
            continue
        # one stream per table, so a table's content does not depend on
        # which other tables were asked for
        rng = np.random.default_rng([a.seed, i])
        table = pa.table(build(name, rng, sizes))
        path = os.path.join(a.out, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        rows[name] = table.num_rows
        with open(path, "rb") as f:
            digest.update(name.encode() + b"\0" + f.read())
    print(json.dumps({"rows": rows, "digest": digest.hexdigest()}))


if __name__ == "__main__":
    main()
