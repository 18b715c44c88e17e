"""All-pairs baseline operators, oracle-checked as TESTS.

``ngram_jaccard_pairs`` (uncapped) and ``embedding_cosine_pairs`` are
quadratic by construction — correctness baselines, not plans to run at
100×. They were removed from the shipped ``queries()`` registry
(VERDICT r2 item 5) but stay exactly oracle-gated here, and they pin
the semantics of their scale-path twins: the banded-LSH near-dup must
emit a SUBSET of the brute-force pairs with bit-identical cosines.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sressentials_spark.catalog import BASELINE_ORACLE_SQL
from sressentials_spark.operators import dedup as D
from sressentials_spark.sources.tables import load_table
from tests.test_catalog_oracle import SF_DIR, run_oracle, strict_values_equal


def _assert_matches(spark_df: pd.DataFrame, oracle_df: pd.DataFrame, name: str):
    assert len(spark_df) == len(oracle_df), f"{name}: row count"
    assert sorted(spark_df.columns) == sorted(oracle_df.columns), f"{name}: columns"
    diag = strict_values_equal(spark_df, oracle_df)
    assert diag is None, f"{name}: {diag}"


def test_ngram_jaccard_baseline(spark):
    got = D.ngram_jaccard_pairs(
        load_table(spark, SF_DIR, "documents"), threshold=0.2
    ).toPandas()
    _assert_matches(
        got, run_oracle(BASELINE_ORACLE_SQL["dedup_ngram_jaccard"]),
        "dedup_ngram_jaccard",
    )


def test_embedding_cosine_baseline(spark):
    got = D.embedding_cosine_pairs(
        load_table(spark, SF_DIR, "embeddings"), threshold=0.4
    ).toPandas()
    _assert_matches(
        got, run_oracle(BASELINE_ORACLE_SQL["dedup_embedding_cosine"]),
        "dedup_embedding_cosine",
    )


def test_lsh_near_dup_is_verified_subset_of_brute_force(spark):
    """Every banded-LSH pair must appear in the brute-force result with
    the SAME cosine (exact verification ⇒ precision 1; recall < 1 by
    LSH design)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    brute = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in D.embedding_cosine_pairs(emb, threshold=0.4).collect()
    }
    lsh = D.embedding_near_dup_lsh(emb, threshold=0.4).collect()
    assert lsh, "LSH path found no pairs at sf0.001 — fixture degenerate"
    for r in lsh:
        key = (r["vec_a"], r["vec_b"])
        assert key in brute and brute[key] == r["cosine"]


def test_decontaminate_is_verified_subset_of_brute_force(spark):
    """Every vector the embedding decontaminator flags has a brute-force
    corpus x benchmark hit (cosine >= 0.35, benchmark ``vec_id % 20 ==
    0``); its ``max_cosine`` is one of those brute-force cosines, bit
    for bit, and it never counts more hits than brute force finds."""
    emb = load_table(spark, SF_DIR, "embeddings")
    brute: dict[int, list[float]] = {}
    for r in D.embedding_cosine_pairs(emb, threshold=0.35).collect():
        a_bench, b_bench = r["vec_a"] % 20 == 0, r["vec_b"] % 20 == 0
        if a_bench != b_bench:
            brute.setdefault(r["vec_b"] if a_bench else r["vec_a"], []).append(r["cosine"])
    flagged = D.embedding_decontaminate(
        emb, (F.col("vec_id") % 20) == 0, threshold=0.35
    ).collect()
    assert flagged, "decontaminator flagged nothing at sf0.001 — fixture degenerate"
    for r in flagged:
        hits = brute.get(r["vec_id"], [])
        assert hits, f"vec {r['vec_id']} flagged without a brute-force hit"
        assert r["max_cosine"] in hits
        assert r["n_benchmark_hits"] <= len(hits)


def test_decontaminate_keeps_the_largest_of_several_hits(spark):
    """One corpus vector with two benchmark hits of different exact
    cosine, both close enough to share a sign band: the decontaminator
    counts both and reports the LARGER brute-force cosine."""
    import math

    from sressentials_spark.localrel import local_df

    base = [math.sin(i + 1.0) for i in range(D.DEFAULT_DIM)]
    near = [base[0] + 0.05, *base[1:]]
    # local_df, not createDataFrame: the brute-force cosine took ~35 s
    # over a createDataFrame relation and ~2 s over local_df's.
    emb = local_df(
        spark, [(0, base), (1, base), (2, near)], "vec_id long, embedding array<float>"
    )
    brute = sorted(
        r["cosine"] for r in D.embedding_cosine_pairs(emb, threshold=0.35).collect()
        if r["vec_a"] == 0
    )
    assert len(brute) == 2 and brute[0] < brute[1], brute
    flagged = D.embedding_decontaminate(
        emb, F.col("vec_id") > 0, threshold=0.35
    ).collect()
    assert [(r["vec_id"], r["n_benchmark_hits"], r["max_cosine"]) for r in flagged] == [
        (0, 2, brute[1])
    ]
