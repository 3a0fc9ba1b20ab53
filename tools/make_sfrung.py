#!/usr/bin/env python3
"""Generate a scale rung (SURVEY §19.8 / §20, VERDICT r14 #3): the sf0.1
tables replicated Nx with distinct ids, written inside the repo
(target/ is disposable). Originally documents/embeddings only; r15
extends it to EVERY table so the heavy-query scaling slice (parity
family, knn_lsq/rq, basket_pairs, dedup_minhash_eval, pipeline_rag,
knn_ivfpq_big, ...) can run the stock bench against the rung dir and
produce measured low-vs-high-core ratios instead of plan-shape
arguments.

Replication keys shift by copy*1e8 so per-entity structure replicates
(each copy is a disjoint population): documents.doc_id,
embeddings.vec_id, events.{event_id,user_id}, orders.{o_orderkey,
o_custkey}, lineitem.l_orderkey, customer.c_custkey. Timestamps/dates
are untouched, so watermark/session structure per user is exactly the
sf0.1 shape. The other dimension tables copy verbatim. The script exits
non-zero if any order of the rung has no customer.

Usage: python3 tools/make_sfrung.py [sf_dir] [out_dir] [factor]
"""
import sys, os
import duckdb

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
out = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/target/sfrung"
factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
os.makedirs(out, exist_ok=True)
con = duckdb.connect()
cj = f"CROSS JOIN (SELECT unnest(range(0, {factor})) AS c) c"
shifted = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "customer": ["c_custkey"],
}
for t, keys in shifted.items():
    repl = ", ".join(f"{k} + c.c * 100000000 AS {k}" for k in keys)
    con.sql(f"""
      COPY (SELECT * EXCLUDE (c) REPLACE ({repl})
            FROM '{sf}/{t}.parquet' {cj})
      TO '{out}/{t}.parquet' (FORMAT PARQUET)""")
for t in ["nation", "part", "region", "supplier"]:
    con.sql(f"COPY (SELECT * FROM '{sf}/{t}.parquet') TO '{out}/{t}.parquet' (FORMAT PARQUET)")
for t in list(shifted) + ["part", "supplier"]:
    n = con.sql(f"SELECT count(*) FROM '{out}/{t}.parquet'").fetchone()[0]
    print(t, n)
orphans = con.sql(f"""
  SELECT count(*) FROM '{out}/orders.parquet' o
  ANTI JOIN '{out}/customer.parquet' c ON o.o_custkey = c.c_custkey""").fetchone()[0]
if orphans:
    sys.exit(f"{orphans} orders have no customer")
