"""Seeded benchmark inputs, derived from the committed ``benchdata/sf1`` tables.

sf1 holds ten times the rows of the sf0.1 test scale, with dense 0-based keys.
A seed picks one of ten key blocks, each a twentieth of sf1's key range; each
table keeps the rows of that block and its keys are shifted down to start at
0, so every derived table is sf0.05-sized and every foreign key still resolves:

- customer/part/supplier/events users/documents/embeddings: the block's slice
  of the key range;
- orders: the block's customers' orders; lineitem: those orders' lines, with
  part and supplier keys folded into the block (``key % width``).

The same seed always gives the same files. Seeds that agree modulo 10 share a
data block; the workloads also use the seed for their own ordering.
"""

from __future__ import annotations

import os
import shutil

BLOCKS = 10
# rows per block of each sf1 key space (sf1 row count / 20)
CUSTOMERS, PARTS, SUPPLIERS, USERS, DOCS, VECS = 7_500, 10_000, 500, 750, 2_500, 1_000

# documents of one block that form the pipelines corpus (src0 is held
# out as the decontamination benchmark)
CORPUS_DOCS = 300


def _block_sql(b: int) -> dict[str, str]:
    def shift(col: str, width: int) -> str:
        return f"{col} - {b * width} AS {col}"

    def within(col: str, width: int) -> str:
        return f"{col} >= {b * width} AND {col} < {(b + 1) * width}"

    return {
        "region": "SELECT * FROM src('region')",
        "nation": "SELECT * FROM src('nation')",
        "customer": f"SELECT * REPLACE ({shift('c_custkey', CUSTOMERS)}) "
        f"FROM src('customer') WHERE {within('c_custkey', CUSTOMERS)}",
        "supplier": f"SELECT * REPLACE ({shift('s_suppkey', SUPPLIERS)}) "
        f"FROM src('supplier') WHERE {within('s_suppkey', SUPPLIERS)}",
        "part": f"SELECT * REPLACE ({shift('p_partkey', PARTS)}) "
        f"FROM src('part') WHERE {within('p_partkey', PARTS)}",
        "orders": f"SELECT * REPLACE ({shift('o_custkey', CUSTOMERS)}) "
        f"FROM src('orders') WHERE {within('o_custkey', CUSTOMERS)}",
        "lineitem": f"SELECT * REPLACE (l_partkey % {PARTS} AS l_partkey, "
        f"l_suppkey % {SUPPLIERS} AS l_suppkey) FROM src('lineitem') "
        f"WHERE l_orderkey IN (SELECT o_orderkey FROM src('orders') "
        f"WHERE {within('o_custkey', CUSTOMERS)})",
        "events": f"SELECT * REPLACE ({shift('user_id', USERS)}) "
        f"FROM src('events') WHERE {within('user_id', USERS)}",
        "documents": f"SELECT * FROM src('documents') WHERE {within('doc_id', DOCS)}",
        "embeddings": f"SELECT * FROM src('embeddings') WHERE {within('vec_id', VECS)}",
    }


def derive_tables(sf1_dir: str, cache_dir: str, seed: int) -> str:
    """The seed's sf0.1-sized tables, as ``<dir>/<table>.parquet``; derived
    into ``cache_dir`` on first use and reused after that."""
    import duckdb

    out_dir = os.path.join(cache_dir, f"block{seed % BLOCKS}")
    if os.path.isdir(out_dir):
        return out_dir
    tmp = f"{out_dir}.{os.getpid()}"
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute("SET enable_progress_bar = false")
        con.execute(
            f"CREATE MACRO src(t) AS TABLE SELECT * FROM read_parquet('{sf1_dir}/' || t || '.parquet')"
        )
        for table, sql in _block_sql(seed % BLOCKS).items():
            # one row group per file, like the sf0.x test tables
            con.execute(
                f"COPY ({sql} ORDER BY ALL) TO '{tmp}/{table}.parquet' "
                "(FORMAT parquet, ROW_GROUP_SIZE 1000000)"
            )
        # the corpus (the first CORPUS_DOCS non-src0 docs) and its
        # decontamination benchmark (src0)
        docs = f"read_parquet('{tmp}/documents.parquet')"
        for name, where, limit in (
            ("corpus_docs", "source <> 'src0'", f"LIMIT {CORPUS_DOCS}"),
            ("corpus_benchmark", "source = 'src0'", ""),
        ):
            con.execute(
                f"COPY (SELECT * FROM {docs} WHERE {where} ORDER BY doc_id {limit}) "
                f"TO '{tmp}/{name}.parquet' (FORMAT parquet)"
            )
    finally:
        con.close()
    try:
        os.rename(tmp, out_dir)
    except OSError:  # another run derived the same block first
        shutil.rmtree(tmp)
    return out_dir
