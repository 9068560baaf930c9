#!/usr/bin/env python
"""Deterministic scale multiplier: build benchdata/sf{N} from benchdata/sf1.

Produces N shifted copies of every fact/dim table with key spaces offset by
copy index, so cardinalities scale exactly Nx while every distribution and
FK relationship is preserved bit-for-bit per copy:

- orders/lineitem: o_orderkey/l_orderkey += i * (max_orderkey+1); custkey,
  partkey, suppkey offset consistently with their dimension copies.
- customer/part/supplier: primary keys offset the same way; nation/region
  are fixed-size reference dims (25/5 rows) and stay as-is — nationkey
  references remain valid in every copy.
- events: event_id/user_id offset; timestamps unchanged (the day-grain
  queries then see Nx users per day, same day count — matching how a
  bigger deployment looks, not a longer history).
- documents/embeddings: doc_id / vec_id offset; text/vectors unchanged.
  NOTE: text content replicates EXACTLY across copies, so all-pairs
  near-dup contracts are output-bound on the result (every doc gains
  N-1 exact twins: Theta(groups * N^2) qualifying pairs — see
  operators/text.py minhash_lsh_pairs); dedup-shaped ops (curate's
  exact-then-near cascade, SemDeDup) stay linear.

Output is plain parquet per table (row groups sized for scan parallelism).
The result is NOT committed (it is ~N x 170 MB of derived binary); rerun
this script to reproduce it exactly — it is a pure function of sf1.

Usage: python scripts/gen_sf_multiply.py [N (default 4)] [out_dir]
"""

from __future__ import annotations

import os
import sys

from _repo import ROOT

import duckdb

SRC = os.path.join(ROOT, "benchdata", "sf1")

OFFSETS = {
    # table: {column: key-space it belongs to}
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {"l_orderkey": "orderkey", "l_partkey": "partkey", "l_suppkey": "suppkey"},
    "customer": {"c_custkey": "custkey"},
    "part": {"p_partkey": "partkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "events": {"event_id": "eventid", "user_id": "userid"},
    "documents": {"doc_id": "docid"},
    # NB: embeddings' id column is vec_id, NOT doc_id — the round-10 sf64
    # run caught this mapped as doc_id, which silently never matched, so
    # every copy kept the base vec_ids and 64 rows shared each id. The
    # ANN/dedup operators assume the ingest layer's unique-PK contract
    # (identical (sim, id) twins mutually veto in SemDeDup's sweep -> 0
    # survivors), so duplicated ids invalidate any embeddings-side row.
    "embeddings": {"vec_id": "vecid"},
}
KEYSPACE_SOURCE = {
    "orderkey": ("orders", "o_orderkey"),
    "custkey": ("customer", "c_custkey"),
    "partkey": ("part", "p_partkey"),
    "suppkey": ("supplier", "s_suppkey"),
    "eventid": ("events", "event_id"),
    "userid": ("events", "user_id"),
    "docid": ("documents", "doc_id"),
    "vecid": ("embeddings", "vec_id"),
}
COPY_AS_IS = ("region", "nation")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(ROOT, "benchdata", f"sf{n}")
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    spans = {
        ks: con.execute(
            f"SELECT max({col}) + 1 FROM read_parquet('{SRC}/{tbl}.parquet')"
        ).fetchone()[0]
        for ks, (tbl, col) in KEYSPACE_SOURCE.items()
    }
    print("key spans:", spans)
    for tbl in COPY_AS_IS:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{SRC}/{tbl}.parquet'))"
            f" TO '{out}/{tbl}.parquet' (FORMAT PARQUET)"
        )
        print(tbl, "copied")
    for tbl, cols in OFFSETS.items():
        selects = []
        for i in range(n):
            exprs = []
            for c in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{SRC}/{tbl}.parquet')"
            ).fetchall():
                name = c[0]
                if name in cols:
                    exprs.append(f"{name} + {i} * {spans[cols[name]]} AS {name}")
                else:
                    exprs.append(name)
            selects.append(
                f"SELECT {', '.join(exprs)} FROM read_parquet('{SRC}/{tbl}.parquet')"
            )
        union = " UNION ALL ".join(selects)
        con.execute(
            f"COPY ({union}) TO '{out}/{tbl}.parquet'"
            f" (FORMAT PARQUET, ROW_GROUP_SIZE 400000)"
        )
        rows = con.execute(f"SELECT count(*) FROM read_parquet('{out}/{tbl}.parquet')").fetchone()[0]
        print(tbl, rows, "rows")


if __name__ == "__main__":
    main()
