"""Driver-gate rehearsal: every catalog query vs its DuckDB oracle.

Mirrors the driver's correctness check (row count + schema + order-
insensitive values) at sf0.001 so oracle drift is caught locally before
the per-round sf0.01 run. The value compare is the driver simulator's
own (``scripts/driver_sim.py``): stringified cells, so an int-vs-float
drift fails here exactly as it fails the gate. Column order is pinned
too, stricter than the gate's sorted-name compare.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

from sressentials_spark import catalog
from sressentials_spark.sources.tables import TABLES

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
)
from driver_sim import strict_values_equal  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def run_oracle(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    out = con.execute(sql).fetchdf()
    con.close()
    return out


@pytest.mark.parametrize("name", sorted(catalog.ORACLE_SQL))
def test_query_matches_oracle(spark, name):
    spark_df = catalog.QUERIES[name](spark, SF_DIR).toPandas()
    oracle_df = run_oracle(catalog.ORACLE_SQL[name])
    assert len(oracle_df) > 0, f"{name}: oracle returned 0 rows"
    assert len(spark_df) == len(oracle_df), f"{name}: row count mismatch"
    assert list(spark_df.columns) == list(oracle_df.columns), f"{name}: columns"
    diag = strict_values_equal(spark_df, oracle_df)
    assert diag is None, f"{name}: {diag}"


def test_documents_fixture_is_ascii():
    """multimodal_features' engine side sums raw payload BYTES while its
    oracle counts characters (ascii/substr); they agree only on ASCII
    text, so the fixture must stay ASCII-only (see catalog docstring)."""
    con = duckdb.connect()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('/root/testdata/{sf}/documents.parquet')"
            " WHERE octet_length(encode(text)) <> length(text)"
        ).fetchone()[0]
        assert n == 0, f"{sf}: non-ASCII document text breaks byte/char oracle parity"
    con.close()
