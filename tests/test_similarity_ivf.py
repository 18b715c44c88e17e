from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from sressentials_spark.operators import similarity as S


@pytest.fixture(scope="module")
def emb(spark):
    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], i % 3)
        for i in range(60)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


class TestSeedCentroids:
    def test_deterministic_and_partition_invariant(self, emb):
        ids1, m1 = S.ivf_seed_centroids(emb, n_cells=4)
        ids2, m2 = S.ivf_seed_centroids(emb.repartition(7), n_cells=4)
        assert ids1 == ids2
        assert (m1 == m2).all()
        assert len(ids1) == 4 and m1.shape == (4, 8)


class TestCellAssignment:
    def test_cells_are_seed_ids_and_partition_invariant(self, emb):
        from sressentials_spark.operators.linalg import ivf_cells_kernel

        ids, mat = S.ivf_seed_centroids(emb, n_cells=4)
        kern = ivf_cells_kernel(ids, mat, nprobe=2)
        out = emb.select(
            "vec_id", kern(F.col("embedding")).alias("nc")
        ).select("vec_id", "nc.norm", "nc.cells")
        rows = {r["vec_id"]: r for r in out.collect()}
        rows2 = {
            r["vec_id"]: r
            for r in emb.repartition(5)
            .select("vec_id", kern(F.col("embedding")).alias("nc"))
            .select("vec_id", "nc.norm", "nc.cells")
            .collect()
        }
        for vid, r in rows.items():
            assert len(r["cells"]) == 2
            assert set(r["cells"]) <= set(ids)
            assert r["cells"][0] != r["cells"][1]
            assert list(rows2[vid]["cells"]) == list(r["cells"])
            assert rows2[vid]["norm"] == r["norm"]
            assert r["norm"] > 0


class TestTopkIvf:
    def test_full_probe_equals_brute_force(self, emb):
        # nprobe == n_cells → every query scores the whole corpus, so
        # IVF must reproduce the exact brute-force top-k bit-for-bit.
        qids = [0, 1, 2]
        exact = S.cosine_topk(emb, qids, k=5, dim=8)
        ivf = S.cosine_topk_ivf(emb, qids, k=5, n_cells=4, nprobe=4, dim=8)
        ex = sorted(map(tuple, exact.collect()))
        iv = sorted(map(tuple, ivf.collect()))
        assert ex == iv

    def test_partial_probe_is_subset_of_corpus_scoring(self, emb):
        qids = [0, 1]
        out = S.cosine_topk_ivf(emb, qids, k=5, n_cells=4, nprobe=1, dim=8)
        rows = out.collect()
        assert {r["query_id"] for r in rows} <= set(qids)
        for r in rows:
            assert 1 <= r["rank"] <= 5
            assert -1.0001 <= r["cosine"] <= 1.0001


class TestTopkIvfFiltered:
    def test_filtered_results_share_query_label(self, emb):
        qids = [0, 1, 2]
        out = S.cosine_topk_ivf(
            emb, qids, k=5, n_cells=4, nprobe=4, dim=8, filter_col="label"
        )
        labels = {r["vec_id"]: r["label"] for r in emb.collect()}
        joined = out.collect()
        assert joined  # filtering must not empty the result
        for r in joined:
            assert labels[r["neighbor_id"]] == labels[r["query_id"]]

    def test_filtered_full_probe_equals_filtered_brute_force(self, emb):
        # With every cell probed, filtered IVF must equal brute force
        # restricted to the query's label.
        from pyspark.sql import functions as F

        qids = [0, 1]
        ivf = sorted(
            map(
                tuple,
                S.cosine_topk_ivf(
                    emb, qids, k=5, n_cells=4, nprobe=4, dim=8, filter_col="label"
                )
                .select("query_id", "neighbor_id", "cosine", "rank")
                .collect(),
            )
        )
        labels = {r["vec_id"]: r["label"] for r in emb.collect()}
        expect = []
        for q in qids:
            sub = emb.filter(F.col("label") == labels[q])
            exact = S.cosine_topk(sub, [q], k=5, dim=8)
            expect.extend(
                map(tuple, exact.select("query_id", "neighbor_id", "cosine", "rank").collect())
            )
        assert ivf == sorted(expect)


class TestAnnRecall:
    """Pin ANN quality properties that hold regardless of how the
    corpus clusters (the synthetic embeddings are near-random, so
    absolute recall is data-limited: measured IVF ~0.38 / LSH ~0.0 at
    sf0.001 with nprobe=4 of 16 cells -- documented, not asserted as a
    high floor)."""

    def _topk_sets(self, spark, fn):
        from sressentials_spark.sources.tables import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        out = {}
        for r in fn(emb, [0, 1, 2, 3, 4]).collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    def test_ivf_full_probe_degenerates_to_exact(self, spark):
        # Probing every cell must recover the exact top-k verbatim:
        # the pruning, and only the pruning, costs recall.
        from sressentials_spark.operators import similarity as S

        exact = self._topk_sets(spark, lambda e, q: S.cosine_topk(e, q, k=10))
        full = self._topk_sets(
            spark,
            lambda e, q: S.cosine_topk_ivf(e, q, k=10, nprobe=S.IVF_CELLS),
        )
        assert full == exact

    def test_ivf_default_probe_recall_floor(self, spark):
        # Regression floor at the measured-with-margin level: a banding
        # or cell-assignment bug reads as a cliff, not noise.
        from sressentials_spark.operators import similarity as S

        exact = self._topk_sets(spark, lambda e, q: S.cosine_topk(e, q, k=10))
        ivf = self._topk_sets(spark, lambda e, q: S.cosine_topk_ivf(e, q, k=10))
        hits = sum(len(exact[q] & ivf.get(q, set())) for q in exact)
        r = hits / sum(len(v) for v in exact.values())
        assert r >= 0.25, f"IVF recall {r:.2f} fell below the pinned floor"

    def test_ivf_results_are_exact_within_probed_cells(self, spark):
        # Every neighbor the pruned search DOES return must carry the
        # same cosine the exact scorer assigns (no score drift).
        from sressentials_spark.operators import similarity as S
        from sressentials_spark.sources.tables import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        qids = [0, 1, 2]
        exact = {
            (r["query_id"], r["neighbor_id"]): r["cosine"]
            for r in S.cosine_topk(emb, qids, k=10**6).collect()
        }
        for r in S.cosine_topk_ivf(emb, qids, k=10).collect():
            key = (r["query_id"], r["neighbor_id"])
            assert key in exact
            assert r["cosine"] == exact[key]


def test_cached_corpus_keyed_by_corpus_plan(spark):
    """The session artifact cache must key on the CORPUS plan: two
    different embedding tables queried back-to-back get independent
    annotations (a stale shared cache would leak neighbors across
    corpora)."""
    from sressentials_spark.operators.dedup import release_persisted
    from sressentials_spark.operators.similarity import cosine_topk

    release_persisted()
    a = spark.createDataFrame(
        [(i, [float(i == j) for j in range(8)]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    # b: vectors 1-3 all equal vector 0's direction => all cosine 1.0
    b = spark.createDataFrame(
        [(i, [1.0] + [0.0] * 7) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    got_a = cosine_topk(a, [0], k=3, dim=8).collect()
    got_b = cosine_topk(b, [0], k=3, dim=8).collect()
    # Orthogonal corpus: every neighbor of query 0 has cosine 0.
    assert all(abs(r["cosine"]) < 1e-12 for r in got_a)
    # Identical-direction corpus: every neighbor has cosine 1 — would
    # read 0 if the first corpus' cached annotation leaked.
    assert all(abs(r["cosine"] - 1.0) < 1e-12 for r in got_b)
    release_persisted()


def test_store_serve_runs_one_task_wave_per_request(spark, tmp_path):
    """A store whose probed cells span more file splits than the
    session has slots is scored in at most ``defaultParallelism``
    tasks per stage (the request's scans are coalesced to one wave),
    with the same rows as the in-session path."""
    from sressentials_spark import sinks
    from sressentials_spark.operators.dedup import release_persisted

    rng = random.Random(11)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(240)],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "ivf_many_files")
    # 24 writer partitions: each cell directory holds up to 24 files.
    sinks.write_partitioned(S.ivf_annotate(emb).repartition(24), path, ["cell"])
    qids = [0, 1, 2]
    slots = spark.sparkContext.defaultParallelism
    probed = sorted(
        {c for r in spark.read.parquet(path).filter(F.col("vec_id").isin(qids))
         .select("cells").collect() for c in r["cells"]}
    )
    assert (
        spark.read.parquet(path).filter(F.col("cell").isin(probed))
        .rdd.getNumPartitions() > slots
    )

    sc = spark.sparkContext
    sc.setJobGroup("ivf-one-wave", "store serve")
    try:
        served = sorted(
            S.cosine_topk_ivf_from_index(spark, path, qids, k=10, dim=8).collect()
        )
    finally:
        sc.setJobGroup("", "")
    tracker = sc.statusTracker()
    tasks = [
        tracker.getStageInfo(s).numTasks
        for j in tracker.getJobIdsForGroup("ivf-one-wave")
        for s in tracker.getJobInfo(j).stageIds
    ]
    assert tasks and max(tasks) <= slots, tasks

    in_session = sorted(S.cosine_topk_ivf(emb, qids, k=10, dim=8).collect())
    release_persisted()
    assert served == in_session and len(served) == 30


class TestIvfPq:
    def test_index_serves_pruned_and_matches_artifact_rederivation(
        self, spark, tmp_path
    ):
        """IVF-PQ contract (residual coding, trained coarse), served
        from v1 of the versioned store: (a) the candidate scan reads
        only the probed cells' files; (b) every returned pair is
        re-derivable from the manifest's artifacts alone — home cell
        in the query's probed cells (integer-L2 probes vs the frozen
        coarse centroids), ADC distance equal to an independent
        driver-side fold over the pair's stored code word, ranks dense
        and distance-sorted."""
        import re

        import numpy as np

        from sressentials_spark.operators import ivf_versioned as V
        from sressentials_spark.operators.cluster import QUANT_SCALE
        from sressentials_spark.operators.dedup import release_persisted
        from sressentials_spark.operators.linalg import quantize_exact
        from sressentials_spark.sources.tables import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        base = str(tmp_path / "ivfpq")
        V.build_ivfpq_index_versioned(emb, base)
        qids = [0, 1, 2]

        got = V.pq_adc_topk_ivfpq_versioned(spark, emb, base, qids, topk=10)
        scanned = {
            int(re.search(r"cellp=(-?\d+)/", f).group(1))
            for f in got.inputFiles()
        }
        got_pdf = got.toPandas()
        assert len(got_pdf) > 0

        man = V.read_ivf_manifest(base, 1)
        coarse = man["coarse"]
        fbooks = S.pq_books_float(V._books_from_json(man["books"]))
        lists = V.read_ivf_index_version(spark, base).toPandas()
        home = dict(zip(lists["vec_id"], lists["cell"]))
        codes = {
            int(r["vec_id"]): [int(r[f"code_{i}"]) for i in range(S.PQ_M)]
            for _, r in lists.iterrows()
        }
        qvec = {
            int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.filter(F.col("vec_id").isin(qids)).collect()
        }
        release_persisted()

        cids_c = sorted(coarse)
        Cc = np.array([coarse[c] for c in cids_c], dtype=np.int64)
        Cf = Cc.astype(np.float64) / float(QUANT_SCALE)
        dsub = fbooks[0][1].shape[1]
        cmap = {int(c): j for j, c in enumerate(cids_c)}

        all_probed: set[int] = set()
        for qid, grp in got_pdf.groupby("query_id"):
            qv = qvec[int(qid)]
            Q = quantize_exact(qv[None, :])[0]
            diff = Q[None, :] - Cc
            dist = np.einsum("kd,kd->k", diff, diff)
            probed = {
                int(cids_c[j])
                for j in np.argsort(dist, kind="stable")[: S.IVF_NPROBE]
            }
            all_probed |= probed
            g = grp.sort_values("rank").reset_index(drop=True)
            # ranks dense 1..n, distance-sorted with id tie-break
            assert list(g["rank"]) == list(range(1, len(g) + 1))
            key = list(zip(g["adc_dist"], g["neighbor_id"]))
            assert key == sorted(key)
            for _, r in g.iterrows():
                nid = int(r["neighbor_id"])
                cell = int(home[nid])
                assert cell in probed, (qid, nid, cell, probed)
                # independent ADC fold from the stored code word
                qr = qv - Cf[cmap[cell]]
                exp = 0.0
                for mi in range(S.PQ_M):
                    bcids, C = fbooks[mi]
                    crow = C[list(bcids).index(codes[nid][mi])]
                    acc = 0.0
                    for d in range(dsub):
                        t = qr[mi * dsub + d] - float(crow[d])
                        acc = acc + t * t
                    exp = exp + acc
                assert r["adc_dist"] == exp, (qid, nid)
        assert scanned == all_probed & {int(c) for c in home.values()}
        assert len(scanned) < len(coarse)


def test_quantize_exact_matches_duckdb_round():
    """quantize_exact's floor+frac HALF_UP must equal DuckDB ROUND
    (and hence Spark's BigDecimal HALF_UP) — including adversarial
    near-half values where the naive floor(x + 0.5) misrounds."""
    import random

    import duckdb
    import numpy as np

    from sressentials_spark.operators.cluster import QUANT_SCALE
    from sressentials_spark.operators.linalg import quantize_exact

    rng = random.Random(8)
    vals = [rng.uniform(-1.5, 1.5) for _ in range(500)]
    vals += [(k + 0.5) / QUANT_SCALE for k in range(-40, 40)]
    vals += [
        float(np.nextafter(k + 0.5, -np.inf)) / QUANT_SCALE
        for k in range(-40, 40)
    ]
    A = np.array(vals, dtype=np.float64)
    got = quantize_exact(A[None, :])[0]
    con = duckdb.connect()
    for v, g in zip(A.tolist(), got.tolist()):
        exp = con.execute(
            "SELECT CAST(ROUND(? * 1048576.0) AS BIGINT)", [v]
        ).fetchone()[0]
        assert g == exp, (v, g, exp)


def test_quantize_exact_matches_spark_round(spark):
    """Close the three-engine triangle: quantize_exact (numpy, used by
    the PQ kernels and driver-side training) must equal quantize_vec
    (Spark F.round, used by k-means/assignment) on the same doubles —
    including adversarial near-half grid values."""
    import random

    import numpy as np

    from sressentials_spark.operators.cluster import QUANT_SCALE, quantize_vec
    from sressentials_spark.operators.linalg import quantize_exact

    rng = random.Random(13)
    vals = [rng.uniform(-1.5, 1.5) for _ in range(300)]
    vals += [(k + 0.5) / QUANT_SCALE for k in range(-30, 30)]
    vals += [
        float(np.nextafter(k + 0.5, -np.inf)) / QUANT_SCALE
        for k in range(-30, 30)
    ]
    A = np.array(vals, dtype=np.float64)
    got = quantize_exact(A[None, :])[0].tolist()
    row = spark.createDataFrame(
        [( [float(x) for x in vals],)], "v array<double>"
    ).select(quantize_vec("v").alias("q")).first()
    assert row["q"] == got


def test_rerank_is_exact_cosine_over_the_adc_shortlist(spark, tmp_path):
    """Two-stage contract: the re-ranked top-k is contained in the ADC
    shortlist and ordered by exact cosine (ties to the lowest id)."""
    from sressentials_spark.operators import ivf_versioned as V
    from sressentials_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = str(tmp_path / "ivfpq")
    V.build_ivfpq_index_versioned(emb, base)
    qids = [0, 1, 2]
    short = {
        (r["query_id"], r["neighbor_id"])
        for r in V.pq_adc_topk_ivfpq_versioned(
            spark, emb, base, qids, topk=25
        ).collect()
    }
    got = S.pq_adc_rerank_topk(
        spark, emb, base, qids, topk=10, shortlist=25
    ).toPandas()
    assert set(zip(got["query_id"], got["neighbor_id"])) <= short
    for _, g in got.groupby("query_id"):
        g = g.sort_values("rank")
        key = list(zip(-g["cosine"], g["neighbor_id"]))
        assert key == sorted(key)
        assert list(g["rank"]) == list(range(1, len(g) + 1))


def test_rerank_tier_m8_index_layout_and_contract(spark, tmp_path):
    """The rerank tier's finer grid (PQ_RERANK_M=8, docs/ANN_EVAL.md M
    sweep): the index carries 8 code columns (8-dim subspaces), the
    manifest's books have 8 subspace groups, and the two-stage contract
    (shortlist containment + exact-cosine order) holds unchanged."""
    from sressentials_spark.operators import ivf_versioned as V
    from sressentials_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = str(tmp_path / "m8")
    V.build_ivfpq_index_versioned(emb, base, m=S.PQ_RERANK_M)
    cols = V.read_ivf_index_version(spark, base).columns
    assert [f"code_{i}" for i in range(8)] == [
        c for c in cols if c.startswith("code_")
    ]
    books = V._books_from_json(V.read_ivf_manifest(base, 1)["books"])
    assert len(books) == 8 and books[0][1].shape[1] == 8
    qids = [0, 1, 2]
    short = {
        (r["query_id"], r["neighbor_id"])
        for r in V.pq_adc_topk_ivfpq_versioned(
            spark, emb, base, qids, topk=25
        ).collect()
    }
    got = S.pq_adc_rerank_topk(
        spark, emb, base, qids, topk=10, shortlist=25
    ).toPandas()
    assert set(zip(got["query_id"], got["neighbor_id"])) <= short
    for _, g in got.groupby("query_id"):
        g = g.sort_values("rank")
        key = list(zip(-g["cosine"], g["neighbor_id"]))
        assert key == sorted(key)
