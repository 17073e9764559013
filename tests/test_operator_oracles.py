"""Value gate for the queries over the one-kernel ANN and dedup operators
(pq_encode / opq_encode / opq_rotate, the IVF cell assignment behind
knn_join and semantic_dedup, knn_brute_force, the n-gram MinHash
signatures and the ExactSubstr seeds): each query's rows must equal its
DuckDB oracle's at the test scale, compared the way tools/check.py
compares them (rows_key: columns sorted by name, values canonicalized,
rows sorted). test_registry_smoke checks only schemas."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from tools.check import TABLES, rows_key

QUERIES = [
    "q_ann_pq_adc",
    "q_ann_opq_adc",
    "q_ann_ivfpq",
    "q_ann_ivfopq",
    "q_ann_ivf_topk",
    "q_ann_bruteforce_topk",
    "q_ann_arrow_topk",
    "q_ann_knn_join",
    "q_ann_knn_join_large",
    "q_semantic_dedup",
    "q_dedup_ngram_jaccard",
    "q_dedup_substring",
    "q_dedup_substring_arrow",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for tbl in TABLES:
        con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM '{sf_dir}/{tbl}.parquet'")
    return con


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    df = entrymod.queries()[name](spark, sf_dir)
    rows = [tuple(r) for r in df.collect()]
    rel = duck.sql(entrymod.oracle_sql()[name])
    assert sorted(df.columns) == sorted(rel.columns)
    want = rows_key(list(rel.columns), rel.fetchall())
    assert rows, f"{name}: no rows"
    assert rows_key(df.columns, rows) == want
