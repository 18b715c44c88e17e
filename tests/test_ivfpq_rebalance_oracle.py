"""Parity check for the UNREGISTERED IVF version-history oracle
(catalog._ivf_version_history_sql): the history verb's logical columns
over the cosine lifecycle store must match the relational restatement
cell-for-cell. The registered IVF / IVF-PQ lifecycle, delete and
compact oracles are covered by tests/test_catalog_oracle.py."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from sressentials_spark import catalog
from sressentials_spark.operators import ivf_versioned as V
from sressentials_spark.sources.tables import history_split, load_table
from tests.test_catalog_oracle import SF_DIR, run_oracle


def test_ivf_version_history_matches_oracle(spark, tmp_path):
    """The history verb's LOGICAL columns (version, n_rows, n_cells)
    over the cosine lifecycle store must match the relational
    restatement — history-slice rows at v1, full-corpus rows at v2/v3,
    and v3's cell growth = the split decision's oversized count."""
    emb = load_table(spark, SF_DIR, "embeddings")
    split = history_split(emb, "vec_id")
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb.filter(F.col("vec_id") < split), base)
    V.ingest_index_versioned(emb.filter(F.col("vec_id") >= split), base)
    stats = V.rebalance_index_versioned(spark, base)
    assert stats["cells_split"] >= 1
    got = (
        V.ivf_index_history(spark, base)
        .select("version", "n_rows", "n_cells")
        .toPandas()
        .sort_values("version")
        .reset_index(drop=True)
    )
    want = (
        run_oracle(catalog._ivf_version_history_sql())
        .sort_values("version")
        .reset_index(drop=True)
    )
    assert list(got.columns) == list(want.columns)
    pd.testing.assert_frame_equal(
        got, want, check_dtype=False, check_exact=True
    )
