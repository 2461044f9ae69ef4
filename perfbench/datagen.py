"""Source tables for the benchmark, generated from scratch.

The star tables come from DuckDB's built-in TPC-H generator (``dbgen``),
projected and cast to the column set and types ``pysparkline.tpch`` reads:
keys BIGINT, prices DOUBLE, dates TIMESTAMP, and ``p_type`` cut to its first
word. The ``documents`` table is a seeded synthetic corpus in which about one
document in eight is a copy of an earlier one with one word changed, so that
both dedup stores see real duplicates as well as distinct text.

Everything here is deterministic: the same scale factor gives byte-equal
tables, and the same seed gives the same corpus.
"""

from __future__ import annotations

import os

import numpy as np

STAR_SQL = {
    "lineitem": """
        SELECT l_orderkey, l_partkey, l_suppkey,
               CAST(l_linenumber AS INTEGER) AS l_linenumber,
               CAST(l_quantity AS DOUBLE) AS l_quantity,
               CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
               CAST(l_discount AS DOUBLE) AS l_discount,
               CAST(l_tax AS DOUBLE) AS l_tax,
               l_returnflag, l_linestatus,
               CAST(l_shipdate AS TIMESTAMP) AS l_shipdate
        FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "orders": """
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(o_totalprice AS DOUBLE) AS o_totalprice,
               CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
               o_orderpriority
        FROM orders ORDER BY o_orderkey""",
    "customer": """
        SELECT c_custkey, c_name, c_nationkey,
               CAST(c_acctbal AS DOUBLE) AS c_acctbal, c_mktsegment
        FROM customer ORDER BY c_custkey""",
    "supplier": """
        SELECT s_suppkey, s_name, s_nationkey,
               CAST(s_acctbal AS DOUBLE) AS s_acctbal
        FROM supplier ORDER BY s_suppkey""",
    "part": """
        SELECT p_partkey, p_name, p_brand,
               split_part(p_type, ' ', 1) AS p_type, p_size,
               CAST(p_retailprice AS DOUBLE) AS p_retailprice
        FROM part ORDER BY p_partkey""",
    "nation": "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY 1",
    "region": "SELECT r_regionkey, r_name FROM region ORDER BY 1",
}

SYLLABLES = "ka lo mi ne ru sa te vo zi pa".split()
# 300 pseudo-words: random documents share few character 5-shingles and
# almost never an 8-word run, so every duplicate in the corpus is planted
WORDS = [a + b + c for a in SYLLABLES for b in SYLLABLES for c in SYLLABLES[:3]]


def write_star(out_dir: str, sf: float) -> None:
    """Write the seven star tables of TPC-H at scale factor ``sf``."""
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute(f"CALL dbgen(sf={sf})")
        for name, sql in STAR_SQL.items():
            path = os.path.join(out_dir, f"{name}.parquet")
            con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")
    finally:
        con.close()


def documents(n_docs: int, seed: int):
    """A pyarrow table (doc_id, text, lang, source, n_chars) of ``n_docs``
    documents of 30 to 80 words. With probability 1/8 a document is a copy
    of a random earlier one with one word replaced: a near-duplicate whose
    shingle Jaccard similarity is about 0.9 or more."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 8 and rng.random() < 0.125:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[
                int(rng.integers(0, len(WORDS)))
            ]
        else:
            n = int(rng.integers(30, 81))
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), n)]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": ["en"] * n_docs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_documents(out_dir: str, n_docs: int, seed: int) -> None:
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        documents(n_docs, seed), os.path.join(out_dir, "documents.parquet")
    )
