"""Dedup operator semantics beyond the oracle equality checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sressentials_spark.operators import dedup as D
from sressentials_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents")


def test_minhash_lsh_recall_equals_exact(spark, docs):
    """At J>=0.8 the banded candidates must cover every true pair (the
    oracle equality in test_catalog_oracle depends on recall == 1)."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in D.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_lsh_pairs(docs).collect()
    }
    assert exact, "fixture should contain planted near-duplicates"
    assert lsh == exact


def test_simhash_near_dups_have_small_hamming(spark, docs):
    """Planted Jaccard near-dups should also be SimHash-close; unrelated
    docs should not collide at distance 0."""
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in D.simhash_pairs(docs, max_hamming=12).collect()}
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in D.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    covered = sum(1 for p in exact if p in pairs)
    assert covered >= len(exact) * 0.8
    n_docs = docs.count()
    assert len(pairs) < n_docs * n_docs / 4  # not a degenerate everything-matches


def test_jaccard_capped_equals_uncapped(spark, docs):
    """At the near-dup threshold (0.8), dropping high-DF shingles must
    not change the pair set: boilerplate shingles connect everything to
    everything and carry no similarity signal. This pins the recall
    argument for the max_df scale mitigation on real fixture data."""
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in D.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in D.ngram_jaccard_pairs(docs, threshold=0.8, max_df=5).collect()
    }
    assert uncapped, "fixture should contain planted near-duplicates"
    assert capped == uncapped


def test_embedding_pairs_symmetric_free(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    rows = D.embedding_cosine_pairs(emb, threshold=0.4).collect()
    assert rows
    for r in rows:
        assert r["vec_a"] < r["vec_b"]
        assert -1.0001 <= r["cosine"] <= 1.0001


def test_release_persisted_frees_cached_intermediates(spark, docs):
    """Long-lived-session hygiene: every persist a pair generator takes
    is tracked, and release_persisted() drops them all once the result
    has materialized (ADVICE r3: unbounded cache growth otherwise). The
    same release frees the cached log parse; disk artifacts survive it."""
    from pyspark import StorageLevel

    from sressentials_spark import loggen
    from sressentials_spark.artifacts import get_or_build
    from sressentials_spark.catalog import _sheets
    from sressentials_spark.plans.mysql import analyze_mysql_log

    D.release_persisted()  # start from a clean registry
    jsc = spark.sparkContext._jsc.sc()
    baseline = jsc.getPersistentRDDs().size()
    emb = load_table(spark, SF_DIR, "embeddings")
    D.embedding_near_dup_lsh(emb).count()
    D.minhash_lsh_pairs(docs).count()
    sheets = _sheets(
        spark, "mysql", loggen.ensure_mysql_log(SF_DIR), analyze_mysql_log
    )
    sheets["aggregate"].count()
    assert sheets.base.storageLevel != StorageLevel.NONE
    disk_key = ("release_probe", SF_DIR)
    assert get_or_build(spark, disk_key, lambda: "on-disk", tier="disk") == "on-disk"
    assert jsc.getPersistentRDDs().size() > baseline
    released = D.release_persisted()
    assert released >= 4  # signed vectors + shingles/sigs + parse
    assert D.release_persisted() == 0  # registry drained
    # Every tracked block is back out of the store, the parse included.
    assert jsc.getPersistentRDDs().size() <= baseline
    assert sheets.base.storageLevel == StorageLevel.NONE
    # The disk entry is still served without a rebuild.
    assert get_or_build(spark, disk_key, lambda: "rebuilt", tier="disk") == "on-disk"


class TestMinhashIncremental:
    def _run(self, spark, rows, split):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = D.minhash_triage(
            D.minhash_side(df.filter(F.col("doc_id") < split)),
            df.filter(F.col("doc_id") >= split),
            batch_quadrant=True,
        )
        return {r["doc_id"]: r.asDict() for r in out.collect()}

    def test_statuses_and_priority(self, spark):
        base = " ".join(f"w{i}" for i in range(30))
        other = " ".join(f"x{i}" for i in range(30))
        fresh = " ".join(f"y{i}" for i in range(30))
        rows = [
            (0, base),        # history
            (1, other),       # history
            (10, base),       # new: dup of history doc 0
            (11, fresh),      # new: kept (first of its kind)
            (12, fresh),      # new: dup of earlier batch doc 11
            (13, base),       # new: matches history AND doc 10 ->
        ]                     # history wins the status priority
        out = self._run(spark, rows, split=10)
        assert set(out) == {10, 11, 12, 13}, "one row per NEW doc only"
        assert out[10]["status"] == "dup_of_history"
        assert out[11]["status"] == "kept"
        assert out[12]["status"] == "dup_in_batch"
        assert out[12]["n_batch_matches"] == 1
        assert out[13]["status"] == "dup_of_history"
        assert out[13]["n_hist_matches"] == 1
        assert out[13]["n_batch_matches"] == 1

    def test_history_rows_never_surface(self, spark):
        text = " ".join(f"w{i}" for i in range(20))
        rows = [(0, text), (1, text), (5, " ".join(f"z{i}" for i in range(20)))]
        out = self._run(spark, rows, split=5)
        assert set(out) == {5}
        assert out[5]["status"] == "kept"


@pytest.mark.parametrize("cap, n_pairs, verdict", [(2, 0, "kept"), (3, 3, "dup_of_history")])
def test_bucket_cap_counts_history_and_batch(spark, tmp_path, monkeypatch, cap, n_pairs, verdict):
    """Three identical documents, two in history and one in the batch,
    share every band bucket. A cap of 2 drops all of them — though
    history alone holds only 2 — so the cap counts history ∪ batch; a
    cap of 3 keeps them. Both history sides and both triage modes see
    the same cap."""
    monkeypatch.setattr(D, "DEFAULT_MAX_BUCKET", cap)
    text = " ".join(f"w{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(0, text), (1, text), (2, text)], "doc_id long, text string"
    )
    hist, batch = docs.filter(F.col("doc_id") < 2), docs.filter(F.col("doc_id") >= 2)
    tag = f"t{abs(hash(str(tmp_path))) % 10**9}"
    idx = D.build_dedup_index(hist, str(tmp_path / "idx"), f"cap_idx_{tag}", num_buckets=2)
    try:
        assert D.minhash_lsh_pairs(docs).count() == n_pairs
        for side in (D.minhash_side(hist), idx.side(spark)):
            for batch_quadrant in (False, True):
                out = D.minhash_triage(side, batch, batch_quadrant=batch_quadrant)
                assert [(r["doc_id"], r["status"]) for r in out.collect()] == [(2, verdict)]
    finally:
        D.release_persisted()
        for t in (idx.shingles, idx.signatures, idx.bands):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


class TestMinhashArtifactCache:
    def test_hit_miss_and_release(self, spark):
        from sressentials_spark import artifacts as A
        from sressentials_spark.sources.tables import load_table

        D.release_persisted()
        base = len(A._TRACKED)
        a = load_table(spark, SF_DIR, "documents")
        D.minhash_tables(a, 3, "doc_id")
        assert len(A._TRACKED) == base + 2
        # Same corpus plan -> cache hit, no new persisted frames.
        b = load_table(spark, SF_DIR, "documents")
        D.minhash_tables(b, 3, "doc_id")
        assert len(A._TRACKED) == base + 2
        # Different shingle width -> distinct artifacts.
        D.minhash_tables(a, 2, "doc_id")
        assert len(A._TRACKED) == base + 4
        # Release drops both the blocks and the cache.
        D.release_persisted()
        assert len(A._TRACKED) == 0 and len(A._MEMORY) == 0


def test_semantic_dedup_verdicts(spark):
    """SemDeDup verdict semantics on a hand-built corpus: lowest-id
    representative kept, negative-dot and zero-norm never duplicates,
    and comparisons stay INSIDE clusters (an identical vector in a
    different cluster is kept — the candidate generator is the
    clustering, by design)."""
    emb = spark.createDataFrame(
        [
            (1, [0.5, 0.0, 0.0, 0.0]),
            (2, [0.5, 0.001, 0.0, 0.0]),   # ~cos 1 with v1 -> dup_of 1
            (3, [0.0, 0.5, 0.0, 0.0]),     # orthogonal -> kept
            (4, [-0.5, 0.0, 0.0, 0.0]),    # negative dot -> kept
            (5, [0.0, 0.0, 0.0, 0.0]),     # zero norm -> kept (guard)
            (6, [0.5, 0.0, 0.0, 0.0]),     # == v1 but other cluster -> kept
            (7, [0.4, 0.003, 0.0, 0.0]),   # dup of BOTH 1 and 2 -> min id
        ],
        "vec_id long, embedding array<double>",
    )
    asg = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 0), (5, 0), (6, 1), (7, 0)],
        "vec_id long, cluster long",
    )
    out = {
        r["vec_id"]: r
        for r in D.semantic_dedup(emb, asg).collect()
    }
    D.release_persisted()
    assert out[1]["status"] == "kept" and out[1]["dup_of"] == -1
    assert out[2]["status"] == "semantic_dup" and out[2]["dup_of"] == 1
    assert out[3]["status"] == "kept"
    assert out[4]["status"] == "kept"
    assert out[5]["status"] == "kept" and out[5]["n_prior_matches"] == 0
    assert out[6]["status"] == "kept" and out[6]["cluster"] == 1
    assert out[7]["status"] == "semantic_dup" and out[7]["dup_of"] == 1
    assert out[7]["n_prior_matches"] == 2
