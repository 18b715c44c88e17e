"""connected_components: fixpoint semantics, the iteration budget, and
lineage truncation on long chains."""

from __future__ import annotations

import pytest

from sressentials_spark.operators.pipeline import connected_components


def _nodes(spark, n):
    return spark.createDataFrame([(i,) for i in range(n)], "doc_id long")


def _pairs(spark, edges):
    return spark.createDataFrame(
        [(a, b) for a, b in edges], "doc_a long, doc_b long"
    )


class TestConnectedComponents:
    def test_clusters_and_singletons(self, spark):
        # {0,1,2} a triangle, {3,4} an edge, 5 isolated.
        out = {
            r["doc_id"]: r
            for r in connected_components(
                _nodes(spark, 6),
                _pairs(spark, [(0, 1), (1, 2), (0, 2), (3, 4)]),
            ).collect()
        }
        assert [out[i]["canonical_id"] for i in range(6)] == [0, 0, 0, 3, 3, 5]
        assert [out[i]["is_dup"] for i in range(6)] == [
            False, True, True, False, True, False,
        ]

    def test_deep_chain_converges_through_checkpoints(self, spark):
        # A 30-node path has diameter 29: the min label travels one hop
        # per round, so this exercises many rounds and (with
        # checkpoint_every=4) repeated localCheckpoint lineage cuts —
        # the plan must stay bounded instead of nesting 30 joins deep.
        n = 30
        out = connected_components(
            _nodes(spark, n),
            _pairs(spark, [(i, i + 1) for i in range(n - 1)]),
            max_iter=n + 1,
            checkpoint_every=4,
        ).collect()
        assert all(r["canonical_id"] == 0 for r in out)
        assert sum(r["is_dup"] for r in out) == n - 1

    def test_exhausted_budget_raises_by_default(self, spark):
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(
                _nodes(spark, 12),
                _pairs(spark, [(i, i + 1) for i in range(11)]),
                max_iter=3,
            )

    def test_lenient_mode_returns_partial_labels(self, spark):
        out = {
            r["doc_id"]: r["canonical_id"]
            for r in connected_components(
                _nodes(spark, 12),
                _pairs(spark, [(i, i + 1) for i in range(11)]),
                max_iter=3,
                strict=False,
            ).collect()
        }
        # 3 rounds propagate the min label 3 hops: correct near the
        # head, not yet at the tail — visibly partial, not silent-wrong
        # pretending to be a fixpoint.
        assert out[3] == 0
        assert out[11] != 0


class TestPagerankInteger:
    def _ranks(self, spark, edges, iters=3):
        from sressentials_spark.operators.pipeline import pagerank_integer

        df = spark.createDataFrame(edges, "src long, dst long")
        return {
            r["node"]: r["pr"]
            for r in pagerank_integer(df, iterations=iters).collect()
        }

    def test_star_center_outranks_leaves(self, spark):
        # Undirected star: center 0 <-> leaves 1..5.
        edges = [(0, i) for i in range(1, 6)] + [(i, 0) for i in range(1, 6)]
        ranks = self._ranks(spark, edges)
        assert all(ranks[0] > ranks[i] for i in range(1, 6))
        assert len({ranks[i] for i in range(1, 6)}) == 1  # leaves tie

    def test_partition_invariant(self, spark):
        from sressentials_spark.operators.pipeline import pagerank_integer

        edges = [(i, (i * 7 + 1) % 20) for i in range(20)]
        edges += [(d, s) for s, d in edges]
        df = spark.createDataFrame(edges, "src long, dst long")
        a = {r["node"]: r["pr"] for r in pagerank_integer(df).collect()}
        b = {
            r["node"]: r["pr"]
            for r in pagerank_integer(df.repartition(13)).collect()
        }
        assert a == b


def test_release_frees_graph_checkpoints(spark):
    """The component, PageRank and triangle queries cut lineage with
    local checkpoints, whose RDDs the cache manager never sees;
    release_persisted() must still free every one of them at once, with
    no wait for the JVM cleaner."""
    from sressentials_spark import artifacts, catalog
    from tests.test_dedup import SF_DIR

    artifacts.release_persisted()
    jsc = spark.sparkContext._jsc.sc()
    baseline = jsc.getPersistentRDDs().size()
    results = [
        getattr(catalog, q)(spark, SF_DIR)
        for q in (
            "emb_dedup_components",
            "dedup_components",
            "graph_pagerank_copurchase",
            "graph_triangle_counts",
        )
    ]
    for df in results:
        assert df.count() > 0
    assert jsc.getPersistentRDDs().size() > baseline
    artifacts.release_persisted()
    assert jsc.getPersistentRDDs().size() == baseline
