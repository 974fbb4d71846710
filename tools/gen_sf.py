#!/usr/bin/env python3
"""Build an Nx full-corpus scale dir from an existing sf dir — EVERY
table scaled, with per-replica key offsets chosen so every join stays
within its replica (the TPC-H scaling contract: fact/dim cardinalities
grow together, fan-outs per key stay constant).

This is the missing piece between tools/probe10x.py (which scales only
the corpus/events tables and symlinks the relational side — right for
isolating one block's scaling curve) and a full-sweep bench at a bigger
SF: sf0.1 x 10 here is an sf1-equivalent corpus for EVERY block.

Per-replica transforms (replica 0 is the identity):
 - region/nation: fixed-size at every SF (TPC-H semantics) — symlink;
 - customer/supplier/part: surrogate keys offset per replica;
 - orders: o_orderkey and o_custkey offset together;
 - lineitem: l_orderkey/l_partkey/l_suppkey offset together — each
   replica is a closed join subgraph;
 - events: disjoint user/event id ranges per replica, timestamps
   untouched (probe10x's constant-density contract);
 - documents: per-replica substitution cipher (similarity-preserving
   within a replica, destroying across — constant dup density);
 - embeddings: per-replica signed coordinate permutation (same
   property for inner products).

Usage:
  python3 tools/gen_sf.py [sf_dir] [out_dir] [factor]
  SPARK_GRAFT_SF_DIR=<out_dir> SPARK_GRAFT_CPUS=32 sbt "runMain graft.Bench"
"""
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import duckdb

from probe10x import ALPHABET, DIM, tier_cipher, tier_perm_sign


def main():
    sf = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1")
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_sf1"
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    con = duckdb.connect()

    def off(table, key):
        return con.sql(
            f"SELECT MAX({key}) + 1000001 FROM '{sf}/{table}.parquet'"
        ).fetchone()[0]

    def scale(table, select_fn):
        tiers = " UNION ALL ".join(select_fn(i) for i in range(factor))
        con.sql(f"COPY ({tiers}) TO '{out}/{table}.parquet' (FORMAT PARQUET)")

    for t in ("region", "nation"):
        os.symlink(f"{sf}/{t}.parquet", f"{out}/{t}.parquet")

    c_off = off("customer", "c_custkey")
    s_off = off("supplier", "s_suppkey")
    p_off = off("part", "p_partkey")
    o_off = off("orders", "o_orderkey")
    scale("customer", lambda i: (
        f"SELECT c_custkey + {c_off}*{i} AS c_custkey, c_name, c_nationkey, "
        f"c_acctbal, c_mktsegment FROM '{sf}/customer.parquet'"))
    scale("supplier", lambda i: (
        f"SELECT s_suppkey + {s_off}*{i} AS s_suppkey, s_name, s_nationkey, "
        f"s_acctbal FROM '{sf}/supplier.parquet'"))
    scale("part", lambda i: (
        f"SELECT p_partkey + {p_off}*{i} AS p_partkey, p_name, p_brand, "
        f"p_type, p_size, p_retailprice FROM '{sf}/part.parquet'"))
    scale("orders", lambda i: (
        f"SELECT o_orderkey + {o_off}*{i} AS o_orderkey, "
        f"o_custkey + {c_off}*{i} AS o_custkey, o_orderstatus, o_totalprice, "
        f"o_orderdate, o_orderpriority FROM '{sf}/orders.parquet'"))
    scale("lineitem", lambda i: (
        f"SELECT l_orderkey + {o_off}*{i} AS l_orderkey, "
        f"l_partkey + {p_off}*{i} AS l_partkey, "
        f"l_suppkey + {s_off}*{i} AS l_suppkey, "
        f"l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, "
        f"l_returnflag, l_linestatus, l_shipdate FROM '{sf}/lineitem.parquet'"))

    ev_off = off("events", "event_id")
    u_off = off("events", "user_id")
    scale("events", lambda i: (
        f"SELECT event_id + {ev_off}*{i} AS event_id, ts, "
        f"user_id + {u_off}*{i} AS user_id, event_type, value, props "
        f"FROM '{sf}/events.parquet'"))

    doc_off = off("documents", "doc_id")

    def doc_tier(i):
        cipher = tier_cipher(i).replace("'", "''")
        return (f"SELECT doc_id + {doc_off}*{i} AS doc_id, "
                f"translate(text, '{ALPHABET}', '{cipher}') AS text, "
                f"lang, source, n_chars FROM '{sf}/documents.parquet'")
    scale("documents", doc_tier)

    vec_off = off("embeddings", "vec_id")
    def vec_tier(i):
        perm, sign = tier_perm_sign(i)
        elems = ", ".join(f"{sign[j]:.1f}*embedding[{perm[j]}]" for j in range(DIM))
        return (f"SELECT vec_id + {vec_off}*{i} AS vec_id, "
                f"CAST([{elems}] AS FLOAT[]) AS embedding, "
                f"label FROM '{sf}/embeddings.parquet'")
    scale("embeddings", vec_tier)

    for t in ("customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        n = con.sql(f"SELECT COUNT(*) FROM '{out}/{t}.parquet'").fetchone()[0]
        print(f"{t}: {n}")
    print(f"scaled corpus at {out} (factor {factor} of {sf})")


if __name__ == "__main__":
    main()
