"""The Spark recall@10 fragment (``catalog._recall_at_k``) and its DuckDB
twin (``catalog._recall_sql``) must agree cell-for-cell on the edge
cases the gated ANN evals never hit on the fixture: a query with zero
hits, a query the approximate side never returns, and approximate
neighbours outside the exact set."""

from __future__ import annotations

import duckdb
import pandas as pd

from sressentials_spark import catalog
from tests.test_catalog_oracle import strict_values_equal

_TOPK = "query_id long, neighbor_id long, cosine double, rank long"

# query 0: 2 of 3 exact neighbours found, plus one outside the exact set;
# query 1: zero hits; query 2: never returned by the approximate side;
# query 9: approximate-only, must not appear in the result.
_EXACT = [(0, 10), (0, 11), (0, 12), (1, 20), (1, 21), (2, 40), (2, 41), (2, 42)]
_APPROX = [(0, 10), (0, 11), (0, 99), (1, 30), (1, 31), (9, 10)]


def _topk(pairs: list[tuple[int, int]]) -> pd.DataFrame:
    return pd.DataFrame(
        [(q, n, 1.0 / (r + 1), r + 1) for r, (q, n) in enumerate(pairs)],
        columns=["query_id", "neighbor_id", "cosine", "rank"],
    )


def test_spark_and_duckdb_recall_builders_agree(spark, monkeypatch):
    exact, approx = _topk(_EXACT), _topk(_APPROX)
    exact_df = spark.createDataFrame(exact, _TOPK)
    monkeypatch.setitem(
        catalog.QUERIES, "sim_cosine_topk", lambda spark, sf_dir: exact_df
    )
    monkeypatch.setitem(
        catalog.ORACLE_SQL, "sim_cosine_topk", "SELECT * FROM exact_t"
    )
    got = catalog._recall_at_k(
        spark, "unused", spark.createDataFrame(approx, _TOPK)
    ).toPandas()

    con = duckdb.connect()
    con.register("exact_t", exact)
    con.register("approx_t", approx)
    want = con.execute(catalog._recall_sql("SELECT * FROM approx_t")).fetchdf()
    con.close()

    assert list(got.columns) == list(want.columns)
    assert strict_values_equal(got, want) is None
    rows = sorted(map(tuple, want.to_numpy().tolist()))
    assert rows == [(0, 3, 2, 666), (1, 2, 0, 0), (2, 3, 0, 0)]
