"""Crash-atomicity model tests for the manifest-versioned IVF index
(operators/ivf_versioned.py — the one mutation path for the ANN
indexes; the bare stores are build-and-serve only). The central test
kills the rebalance after EVERY mutation step and asserts a reader
always sees exactly the pre-split or the post-split index — never
retired lists, missing rows, or a centroid set that disagrees with
the lists."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from sressentials_spark.operators import ivf_versioned as V
from sressentials_spark.operators import maintenance as MT
from sressentials_spark.operators import similarity as S
from sressentials_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
QIDS = [0, 1, 2]


def _emb(spark):
    return load_table(spark, SF, "embeddings")


def _topk(spark, base, version=None):
    return (
        V.cosine_topk_ivf_versioned(spark, base, QIDS, k=10, version=version)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )


def _manifest_files_exist(base, version):
    man = V.read_ivf_manifest(base, version)
    return all(
        os.path.exists(os.path.join(base, "data", e["path"]))
        for e in man["files"]
    )


def test_build_matches_bare_index(spark, tmp_path):
    """v1 of the versioned index serves bit-identically to the bare
    cell-partitioned index (same seeds, same kernel, same plan), and
    its manifest carries exactly the hash-picked seed centroids."""
    emb = _emb(spark)
    bare = S.build_ivf_index(emb, str(tmp_path / "bare"))
    base = str(tmp_path / "ver")
    assert V.build_ivf_index_versioned(emb, base) == 1
    want = (
        S.cosine_topk_ivf_from_index(spark, bare, QIDS, k=10)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    got = _topk(spark, base)
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    # Manifest row counts == actual rows (the split decision's input).
    man = V.read_ivf_manifest(base, 1)
    assert sum(e["rows"] for e in man["files"]) == emb.count()
    # The inline centroid set round-trips the seeds (id -> vector).
    ids0, mat0 = S.ivf_seed_centroids(emb)
    assert {c: tuple(v) for c, v in man["centroids"].items()} == dict(
        zip(ids0, map(tuple, mat0))
    )


def _cells(spark, base, version):
    return {
        int(r["vec_id"]): int(r["cell"])
        for r in V.read_ivf_index_version(spark, base, version)
        .select("vec_id", "cell")
        .collect()
    }


def test_rebalance_matches_bare_rebalance_and_time_travels(spark, tmp_path):
    """The split decision is the 115% rule over v1's real row counts;
    v2's centroids are v1's minus the split cells plus two children
    per split (each a member of its parent cell, its vector that
    member's embedding); the rows are complete, unsplit cells keep
    their members and moved rows land in their parent's children; the
    pre-split version stays readable as committed."""
    from collections import Counter

    emb = _emb(spark)
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb, base)
    pre = _topk(spark, base, version=1)
    cells1 = _cells(spark, base, 1)
    threshold = len(cells1) * V.IVF_REBALANCE_PCT // (S.IVF_CELLS * 100)
    split = sorted(c for c, n in Counter(cells1.values()).items() if n > threshold)
    sv = V.rebalance_index_versioned(spark, base)
    assert sv["split_cells"] == split and sv["cells_split"] == len(split) >= 1
    assert sv["threshold"] == threshold
    assert MT.manifest_versions(base) == [1, 2]

    c1 = V.read_ivf_manifest(base, 1)["centroids"]
    c2 = V.read_ivf_manifest(base, 2)["centroids"]
    kept = {c: v for c, v in c1.items() if c not in split}
    assert all(c2.get(c) == v for c, v in kept.items())
    children = {c: v for c, v in c2.items() if c not in kept}
    assert Counter(cells1[c] for c in children) == {c: 2 for c in split}
    vecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(emb.vec_id.isin(list(children))).collect()
    }
    assert children == vecs
    assert sv["n_centroids"] == len(c2) == len(kept) + 2 * len(split)

    cells2 = _cells(spark, base, 2)
    assert set(cells2) == set(cells1)
    for v, c in cells1.items():
        if c in split:
            assert cells1[cells2[v]] == c  # re-pointed to one of c's children
        else:
            assert cells2[v] == c
    # Time travel: v1 still serves the exact pre-split answer.
    pd.testing.assert_frame_equal(
        _topk(spark, base, version=1), pre, check_exact=True
    )


def test_untouched_cells_files_never_rewritten(spark, tmp_path):
    """The rebalance cost model: files of cells that did not split are
    byte-untouched (size + mtime pinned) — O(oversized), not O(index)."""
    emb = _emb(spark)
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb, base)
    man = V.read_ivf_manifest(base, 1)
    stats = V.rebalance_index_versioned(spark, base)
    split = set(stats["split_cells"])
    assert split
    before = {
        e["path"]: os.stat(os.path.join(base, "data", e["path"]))
        for e in man["files"]
        if e["cell"] not in split
    }
    man2 = V.read_ivf_manifest(base, 2)
    kept = {e["path"] for e in man2["files"]} & set(before)
    assert kept == set(before)  # every untouched cell's file survives
    for p, st in before.items():
        now = os.stat(os.path.join(base, "data", p))
        assert (now.st_size, now.st_mtime_ns) == (st.st_size, st.st_mtime_ns)


def test_kill_between_steps_never_exposes_half_split(spark, tmp_path):
    """THE crash-atomicity model test: inject a kill after every
    mutation step of the rebalance; after each kill the latest
    committed version must read exactly as the pre-split index (kills
    before publish) or exactly as the post-split index (kill after
    publish) — and a plain re-run must recover to the post-split
    answer. No intermediate state is ever observable."""
    emb = _emb(spark)

    # Dry run on a reference copy: learn the step labels + expected
    # pre/post answers.
    ref = str(tmp_path / "ref")
    V.build_ivf_index_versioned(emb, ref)
    pre = _topk(spark, ref)
    steps: list[str] = []
    V.rebalance_index_versioned(spark, ref, fault=steps.append)
    post = _topk(spark, ref)
    assert steps and steps[-1] == "published" and "prepared" in steps

    class Kill(RuntimeError):
        pass

    for i, kill_at in enumerate(steps):
        base = str(tmp_path / f"kill{i}")
        V.build_ivf_index_versioned(emb, base)

        def fault(step, kill_at=kill_at):
            if step == kill_at:
                raise Kill(step)

        with pytest.raises(Kill):
            V.rebalance_index_versioned(spark, base, fault=fault)
        if kill_at == "published":
            # Crash after the atomic link: the new version is fully
            # committed and serves the post-split answer.
            assert MT.manifest_versions(base) == [1, 2]
            assert _manifest_files_exist(base, 2)
            pd.testing.assert_frame_equal(
                _topk(spark, base), post, check_exact=True
            )
            continue
        # Crash before the link: v1 is the latest, complete on disk,
        # and serves the exact pre-split answer.
        assert MT.manifest_versions(base) == [1]
        assert _manifest_files_exist(base, 1)
        pd.testing.assert_frame_equal(
            _topk(spark, base), pre, check_exact=True
        )
        # Recovery is a plain re-run (idempotent decision), after which
        # the post-split answer serves; orphans then vacuum away
        # without disturbing it.
        V.rebalance_index_versioned(spark, base)
        assert MT.manifest_versions(base) == [1, 2]
        pd.testing.assert_frame_equal(
            _topk(spark, base), post, check_exact=True
        )
        MT.vacuum(base, keep_last=1)
        pd.testing.assert_frame_equal(
            _topk(spark, base), post, check_exact=True
        )


def test_ingest_commits_a_version_matching_the_bare_twin(spark, tmp_path):
    """Build on the oldest 70%, ingest the newest 30%: v2's lists equal
    a fresh assignment of the FULL corpus under v1's manifest
    centroids (what a build over the merged corpus with the same seeds
    would store); the build version still time-travels; history files
    are byte-untouched (O(batch) cost)."""
    from pyspark.sql import functions as F

    emb = _emb(spark)
    split = int(emb.agg(F.max("vec_id")).first()[0] * 7 // 10)
    hist, batch = (
        emb.filter(F.col("vec_id") < split),
        emb.filter(F.col("vec_id") >= split),
    )
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(hist, base)
    pre = _topk(spark, base, version=1)
    man1 = V.read_ivf_manifest(base, 1)
    stats1 = {
        e["path"]: os.stat(os.path.join(base, "data", e["path"]))
        for e in man1["files"]
    }
    assert V.ingest_index_versioned(batch, base) == 2
    ids, mat = V._load_centroids(man1)
    want = (
        S.ivf_annotate_frozen(emb, ids, mat)
        .drop("cells")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    got = (
        V.read_ivf_index_version(spark, base, 2)
        .select(*want.columns)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    pd.testing.assert_frame_equal(
        _topk(spark, base, version=1), pre, check_exact=True
    )
    man2 = V.read_ivf_manifest(base, 2)
    assert man1["centroids"] == man2["centroids"]  # frozen quantizer
    assert set(stats1) < {e["path"] for e in man2["files"]}
    for p, st in stats1.items():
        now = os.stat(os.path.join(base, "data", p))
        assert (now.st_size, now.st_mtime_ns) == (st.st_size, st.st_mtime_ns)
    assert sum(e["rows"] for e in man2["files"]) == emb.count()


def test_ingest_retries_lost_race_reusing_staged_files(spark, tmp_path):
    """Optimistic concurrency RECOVERED, not just detected: ingest A
    stages its commit, ingest B wins the version race, and A's retry
    lands on top of B reusing its already-staged files (same centroid
    set -> the staged encode is still exactly right; no re-encode).
    All three row sets are visible at the final version."""
    import glob as globmod

    from pyspark.sql import functions as F

    emb = _emb(spark)
    ids = [r["vec_id"] for r in emb.select("vec_id").orderBy("vec_id").collect()]
    a, b, c = ids[: len(ids) // 2], ids[len(ids) // 2 : -5], ids[-5:]
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb.filter(F.col("vec_id").isin(a)), base)

    def racer(step):
        if step == "staged":
            V.ingest_index_versioned(
                emb.filter(F.col("vec_id").isin(c)), base
            )

    assert (
        V.ingest_index_versioned(
            emb.filter(F.col("vec_id").isin(b)), base, fault=racer
        )
        == 3
    )
    assert MT.manifest_versions(base) == [1, 2, 3]
    got = {
        r["vec_id"]
        for r in V.read_ivf_index_version(spark, base, 3)
        .select("vec_id")
        .collect()
    }
    assert got == set(a) | set(b) | set(c)
    # Exactly three commit dirs (build, B, A): A's staged files were
    # REUSED on retry, not re-encoded.
    assert len(globmod.glob(os.path.join(base, "data", "commit-*"))) == 3


def test_ingest_retry_reencodes_when_a_rebalance_wins(spark, tmp_path):
    """When the race winner was a REBALANCE, the loser's staged rows
    may reference retired cells — the retry must re-encode the batch
    under the post-split centroid set, and every visible row's cell
    must be explained by the final manifest's centroids."""
    from pyspark.sql import functions as F

    emb = _emb(spark)
    split = int(emb.agg(F.max("vec_id")).first()[0] * 6 // 10)
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb.filter(F.col("vec_id") < split), base)

    stats = {}

    def racer(step):
        if step == "staged":
            stats.update(V.rebalance_index_versioned(spark, base))

    v = V.ingest_index_versioned(
        emb.filter(F.col("vec_id") >= split), base, fault=racer
    )
    assert stats["cells_split"] >= 1 and v == 3
    man = V.read_ivf_manifest(base, 3)
    cells_seen = {e["cell"] for e in man["files"]}
    assert cells_seen <= set(man["centroids"])  # no orphaned cell ids
    got = {
        r["vec_id"]
        for r in V.read_ivf_index_version(spark, base, 3)
        .select("vec_id")
        .collect()
    }
    assert got == {r["vec_id"] for r in emb.select("vec_id").collect()}
    # The recovered commit serves: full top-k for every query, and
    # probes derived from the post-split centroid set can reach the
    # re-encoded batch rows (an ingested row ranks for some query).
    topk = _topk(spark, base, version=3)
    assert (topk.groupby("query_id")["rank"].count() == 10).all()
    assert (topk["neighbor_id"] >= split).any()


def test_racing_publisher_loses_cleanly(spark, tmp_path):
    """Optimistic concurrency: if another writer claims the next
    version between prepare and publish, the rebalance FAILS (atomic
    exclusive link) instead of clobbering — and the index stays exactly
    what the winning writer committed."""
    emb = _emb(spark)
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb, base)
    man1 = V.read_ivf_manifest(base, 1)

    fired = []

    def racer(step):
        if step == "prepared" and not fired:
            fired.append(step)
            MT.publish_manifest(
                base,
                2,
                {
                    "version": 2,
                    "centroids": {
                        str(c): v for c, v in man1["centroids"].items()
                    },
                    "schema": man1["schema"],
                    "files": man1["files"],
                },
            )

    # retries=0 pins the raw conflict semantics: the atomic exclusive
    # link refuses to clobber; the loser surfaces FileExistsError.
    with pytest.raises(FileExistsError):
        V.rebalance_index_versioned(spark, base, fault=racer, retries=0)
    assert MT.manifest_versions(base) == [1, 2]
    # v2 is the racer's (identical content to v1) — intact, readable.
    pd.testing.assert_frame_equal(
        _topk(spark, base, version=2),
        _topk(spark, base, version=1),
        check_exact=True,
    )
    # With retries, the same lost race RECOVERS: a fresh decision over
    # the new latest lands one version past the racer's and splits the
    # (unchanged) oversized cells of its file set.
    fired.clear()

    def racer2(step):
        if step == "prepared" and not fired:
            fired.append(step)
            v = MT.manifest_versions(base)[-1]
            m = V.read_ivf_manifest(base, v)
            MT.publish_manifest(
                base,
                v + 1,
                {
                    "version": v + 1,
                    "centroids": {
                        str(c): cv for c, cv in m["centroids"].items()
                    },
                    "schema": m["schema"],
                    "files": m["files"],
                },
            )

    stats = V.rebalance_index_versioned(spark, base, fault=racer2)
    assert stats["version"] == 4 and stats["cells_split"] >= 1
    assert MT.manifest_versions(base) == [1, 2, 3, 4]


def test_streaming_serve_snapshot_isolation_across_midstream_ingest(
    spark, tmp_path
):
    """Online serving against the versioned index while a WRITER lands
    an ingest commit mid-stream: each micro-batch resolves the latest
    manifest at batch start and is internally consistent against
    exactly that committed version — batch 0 serves the pre-ingest
    corpus, batch 1 the post-ingest corpus, and each batch's rows equal
    a batch-mode query pinned to that version. The isolation comes from
    the manifest itself (immutable files + atomic link), not from any
    coordination with the writer."""
    import glob as globmod
    import time

    from pyspark.sql import functions as F

    emb = _emb(spark)
    split = int(emb.agg(F.max("vec_id")).first()[0] * 7 // 10)
    hist, batch_df = (
        emb.filter(F.col("vec_id") < split),
        emb.filter(F.col("vec_id") >= split),
    )
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(hist, base)

    stage = str(tmp_path / "stage")
    (
        spark.createDataFrame([(q,) for q in [0, 1, 2, 3]], "query_id long")
        .repartitionByRange(2, "query_id")
        .write.mode("overwrite")
        .parquet(stage)
    )
    t0 = time.time() - 3600
    for i, p in enumerate(sorted(globmod.glob(f"{stage}/part-*.parquet"))):
        os.utime(p, (t0 + i, t0 + i))

    out = str(tmp_path / "out")
    seen: list[tuple[int, int, tuple[int, ...]]] = []

    def serve(b, bid):
        qids = sorted(int(r["query_id"]) for r in b.select("query_id").collect())
        if not qids:
            return
        v = MT.manifest_versions(base)[-1]
        seen.append((bid, v, tuple(qids)))
        (
            V.cosine_topk_ivf_versioned(spark, base, qids, k=5, version=v)
            .withColumn("ver", F.lit(v))
            .write.mode("append")
            .parquet(out)
        )
        if bid == 0:
            # The concurrent writer: an ingest commit lands between
            # micro-batches, with zero coordination with the reader.
            V.ingest_index_versioned(batch_df, base)

    q = (
        spark.readStream.schema("query_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
        .writeStream.foreachBatch(serve)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert [(b, v) for b, v, _ in sorted(seen)] == [(0, 1), (1, 2)]
    got = pd.read_parquet(out)
    for bid, v, qids in seen:
        part = (
            got[got["ver"] == v]
            .drop(columns=["ver"])
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        want = (
            V.cosine_topk_ivf_versioned(spark, base, list(qids), k=5, version=v)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(part, want, check_exact=True)


def test_random_lifecycle_model(spark, tmp_path):
    """Randomized lifecycle model (the snapshot tier's warranty, on the
    ANN index): a seeded interleaving of ingest / rebalance / compact /
    delete / vacuum / kill-injected ops. After EVERY step the latest
    committed version must expose exactly the model's id set (every op
    is all-or-nothing: a killed op changes nothing, a committed op
    changes everything it promised), manifest row counts must equal the
    real row count, every manifest-listed file must exist, versions
    only ever grow, AND the streaming high-water mark
    (``stream_batch_id``, stamped by every successful ingest) must
    survive every maintenance/vacuum interleaving — the exactly-once
    rider invariant: a dropped stamp re-opens double-ingest."""
    import random

    from pyspark.sql import functions as F

    from sressentials_spark.streaming.ann_ingest import committed_stream_batch

    emb = _emb(spark)
    all_ids = [
        r["vec_id"] for r in emb.select("vec_id").orderBy("vec_id").collect()
    ]
    slices = [all_ids[i::6] for i in range(6)]
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb.filter(F.col("vec_id").isin(slices[0])), base)
    model_ids = set(slices[0])
    next_batch = 1
    model_stamp = -1
    # Seed chosen so the 18-op draw covers every one of the 9 verb
    # kinds with 3 successful ingests — checked when written.
    rng = random.Random(5)

    class Kill(RuntimeError):
        pass

    def killer(step):
        raise Kill(step)

    def check() -> int:
        v = MT.manifest_versions(base)[-1]
        man = V.read_ivf_manifest(base, v)
        for e in man["files"]:
            assert os.path.exists(os.path.join(base, "data", e["path"]))
        assert sum(e["rows"] for e in man["files"]) == len(model_ids)
        got = {
            r["vec_id"]
            for r in V.read_ivf_index_version(spark, base, v)
            .select("vec_id")
            .collect()
        }
        assert got == model_ids
        assert committed_stream_batch(base) == model_stamp
        return v

    v_prev = check()
    for _ in range(18):
        op = rng.choice(
            [
                "ingest", "ingest_kill", "rebalance", "rebalance_kill",
                "vacuum", "delete", "delete_kill", "compact", "compact_kill",
            ]
        )
        if op.startswith("ingest"):
            if next_batch >= len(slices):
                continue
            batch = emb.filter(F.col("vec_id").isin(slices[next_batch]))
            stamp = {"stream_batch_id": next_batch}
            if op == "ingest_kill":
                with pytest.raises(Kill):
                    V.ingest_index_versioned(
                        batch, base, fault=killer, manifest_extra=stamp
                    )
            else:
                V.ingest_index_versioned(batch, base, manifest_extra=stamp)
                model_ids |= set(slices[next_batch])
                model_stamp = next_batch
                next_batch += 1
        elif op == "rebalance":
            V.rebalance_index_versioned(spark, base)
        elif op == "rebalance_kill":
            try:
                V.rebalance_index_versioned(spark, base, fault=killer)
            except Kill:
                pass  # killed mid-flight: the check proves nothing leaked
        elif op.startswith("delete"):
            victims = rng.sample(sorted(model_ids), k=min(3, len(model_ids) - 5))
            if op == "delete_kill":
                with pytest.raises(Kill):
                    V.delete_ivf_index_versioned(
                        spark, base, victims, fault=killer
                    )
            else:
                out = V.delete_ivf_index_versioned(spark, base, victims)
                assert out["deleted_rows"] == len(victims)
                model_ids -= set(victims)
        elif op == "compact":
            V.compact_ivf_index_versioned(spark, base)
        elif op == "compact_kill":
            try:
                V.compact_ivf_index_versioned(spark, base, fault=killer)
            except Kill:
                pass  # a no-op plan never reaches a fault point
        elif op == "vacuum":
            MT.vacuum(base, keep_last=1)
        v_now = check()
        assert v_now >= v_prev
        v_prev = v_now
    assert next_batch > 1  # the sequence actually grew the index


def _adc_topk(spark, emb, base, version=None):
    return (
        V.pq_adc_topk_ivfpq_versioned(spark, emb, base, QIDS, topk=10, version=version)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )


def test_ivfpq_versioned_build_matches_bare_index(spark, tmp_path):
    """v1 of the IVF-PQ store carries BOTH quantizers inline, equal to
    a direct ``train_ivfpq`` over the corpus, and serves exactly what
    the scoring core computes over the bare lists: the same corpus
    encoded in memory under those quantizers, no store involved."""
    emb = _emb(spark)
    base = str(tmp_path / "ver")
    assert V.build_ivfpq_index_versioned(emb, base) == 1
    coarse, books = S.train_ivfpq(emb)
    man = V.read_ivf_manifest(base, 1)
    assert man["coarse"] == coarse
    ver_books = V._books_from_json(man["books"])
    assert len(ver_books) == len(books)
    for (ac, aC), (bc, bC) in zip(ver_books, books):
        assert ac.tolist() == bc.tolist() and (aC == bC).all()
    bare = S._encode_ivfpq_lists(emb, coarse, books)
    want = (
        S._ivfpq_adc_search(
            spark,
            emb,
            coarse,
            books,
            lambda probed: bare.filter(bare["cell"].isin(probed)),
            QIDS,
            topk=10,
        )
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        _adc_topk(spark, emb, base), want, check_exact=True
    )


def test_ivfpq_versioned_ingest_frozen_and_atomic(spark, tmp_path):
    """70/30 build-then-ingest on the versioned IVF-PQ tier: v2's lists
    equal a one-shot encode of the full corpus under v1's manifest
    artifacts, quantizers are frozen across the commit, the pre-ingest
    version time-travels, history files are byte-untouched, and a kill
    before publish commits nothing."""
    from pyspark.sql import functions as F

    emb = _emb(spark)
    split = int(emb.agg(F.max("vec_id")).first()[0] * 7 // 10)
    hist, batch = (
        emb.filter(F.col("vec_id") < split),
        emb.filter(F.col("vec_id") >= split),
    )
    base = str(tmp_path / "ver")
    V.build_ivfpq_index_versioned(hist, base)
    pre = _adc_topk(spark, emb, base, version=1)
    man1 = V.read_ivf_manifest(base, 1)
    stats1 = {
        e["path"]: os.stat(os.path.join(base, "data", e["path"]))
        for e in man1["files"]
    }

    class Kill(RuntimeError):
        pass

    def killer(step):
        raise Kill(step)

    with pytest.raises(Kill):
        V.ingest_index_versioned(batch, base, fault=killer)
    assert MT.manifest_versions(base) == [1]
    pd.testing.assert_frame_equal(
        _adc_topk(spark, emb, base), pre, check_exact=True
    )

    assert V.ingest_index_versioned(batch, base) == 2
    expect = (
        S._encode_ivfpq_lists(emb, man1["coarse"], V._books_from_json(man1["books"]))
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    got = (
        V.read_ivf_index_version(spark, base, 2)
        .select(expect.columns.tolist())
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, expect.astype(got.dtypes), check_exact=True)
    want = _adc_topk(spark, emb, base)
    pd.testing.assert_frame_equal(
        _adc_topk(spark, emb, base, version=1), pre, check_exact=True
    )
    man2 = V.read_ivf_manifest(base, 2)
    assert man1["coarse"] == man2["coarse"]
    assert man1["books"] == man2["books"]
    for p, st in stats1.items():
        now = os.stat(os.path.join(base, "data", p))
        assert (now.st_size, now.st_mtime_ns) == (st.st_size, st.st_mtime_ns)
    MT.vacuum(base, keep_last=1)
    assert MT.manifest_versions(base) == [2]
    pd.testing.assert_frame_equal(_adc_topk(spark, emb, base), want, check_exact=True)


def test_empty_ingest_is_a_graceful_noop(spark, tmp_path):
    """Ingesting an empty batch commits nothing on either tier: same
    latest version, identical manifest, identical answers; the stray
    fileless commit dir (if any) is vacuum fodder, not a crash."""
    from pyspark.sql import functions as F

    emb = _emb(spark)
    empty = emb.filter(F.col("vec_id") < 0)
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb, base)
    pre = _topk(spark, base)
    assert V.ingest_index_versioned(empty, base) == 1
    assert MT.manifest_versions(base) == [1]
    pd.testing.assert_frame_equal(_topk(spark, base), pre, check_exact=True)

    pq = str(tmp_path / "pq")
    V.build_ivfpq_index_versioned(emb, pq)
    pre_pq = _adc_topk(spark, emb, pq)
    assert V.ingest_index_versioned(empty, pq) == 1
    assert MT.manifest_versions(pq) == [1]
    pd.testing.assert_frame_equal(_adc_topk(spark, emb, pq), pre_pq, check_exact=True)
    MT.vacuum(pq, keep_last=1)
    pd.testing.assert_frame_equal(_adc_topk(spark, emb, pq), pre_pq, check_exact=True)


def test_manifest_float_round_trip_is_lossless():
    """The IVF manifest stores float64 centroids as JSON: repr-based
    encoding must round-trip every double bit-for-bit (adversarial
    values: subnormals, huge/tiny magnitudes, ulp neighbors)."""
    import json
    import math
    import random
    import struct

    rng = random.Random(9)
    vals = [0.0, -0.0, 1e-308, -1e-308, 5e-324, 1e308, math.pi, -math.e]
    vals += [rng.uniform(-1, 1) for _ in range(200)]
    vals += [struct.unpack("<d", struct.pack("<Q", rng.getrandbits(63)))[0]
             for _ in range(200)]  # random finite bit patterns (sign off)
    vals = [v for v in vals if math.isfinite(v)]
    out = json.loads(json.dumps({"centroids": {"0": vals}}))
    got = out["centroids"]["0"]
    assert len(got) == len(vals)
    for a, b in zip(got, vals):
        assert struct.pack("<d", a) == struct.pack("<d", b)


def test_vacuum_grace_window_protects_inflight_staging(spark, tmp_path):
    """A killed (or merely slow) writer's staged commit is referenced
    by NO manifest — the default vacuum must leave it alone (it cannot
    distinguish dead from mid-commit), and only reclaim it once the
    grace window is explicitly waived."""
    import glob as globmod

    from pyspark.sql import functions as F

    emb = _emb(spark)
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb.filter(F.col("vec_id") < 25), base)
    before = set(globmod.glob(os.path.join(base, "data", "commit-*")))

    class Kill(RuntimeError):
        pass

    def killer(step):
        raise Kill(step)

    with pytest.raises(Kill):
        V.ingest_index_versioned(
            emb.filter(F.col("vec_id") >= 25), base, fault=killer
        )
    staged = set(globmod.glob(os.path.join(base, "data", "commit-*"))) - before
    assert len(staged) == 1
    pre = _topk(spark, base)
    out = MT.vacuum(base, keep_last=1)
    assert out["files_removed"] == 0  # grace window held
    assert all(os.path.isdir(d) for d in staged)
    out = MT.vacuum(base, keep_last=1, orphan_min_age_s=0)
    assert out["files_removed"] > 0
    assert not any(os.path.isdir(d) for d in staged)
    pd.testing.assert_frame_equal(_topk(spark, base), pre, check_exact=True)


def test_vacuum_reclaims_expired_versions_and_orphans(spark, tmp_path):
    emb = _emb(spark)
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb, base)
    V.rebalance_index_versioned(spark, base)
    post = _topk(spark, base)
    v1_only = {
        e["path"]
        for e in V.read_ivf_manifest(base, 1)["files"]
    } - {e["path"] for e in V.read_ivf_manifest(base, 2)["files"]}
    assert v1_only  # the split cells' original files
    out = MT.vacuum(base, keep_last=1)
    assert out["versions_kept"] == [2]
    assert out["versions_expired"] == 1
    assert out["files_removed"] >= len(v1_only)
    for p in v1_only:
        assert not os.path.exists(os.path.join(base, "data", p))
    assert MT.manifest_versions(base) == [2]
    pd.testing.assert_frame_equal(_topk(spark, base), post, check_exact=True)


def test_vacuum_rejects_keep_last_below_one(spark, tmp_path):
    """keep_last<1 would expire every manifest and leave an unreadable
    index — the shared vacuum refuses it up front on an index store
    too (the snapshot-table case is pinned by tests/test_snapshot.py)."""
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(_emb(spark), base)
    with pytest.raises(ValueError, match="keep_last"):
        MT.vacuum(base, keep_last=0)
    with pytest.raises(ValueError, match="keep_last"):
        MT.vacuum(base, keep_last=-1)
    assert MT.manifest_versions(base) == [1]


def test_vacuum_reclaims_quiesced_temporary_subtree(spark, tmp_path):
    """A writer killed mid-Spark-write leaves parquet under
    commit-*/_temporary/... — unreachable by the two-level data glob
    and, being parquet, formerly pinning the commit dir forever. Once
    the subtree is quiesced the vacuum reclaims it (and then the
    emptied commit dir), without disturbing the committed index."""
    import glob as globmod

    emb = _emb(spark)
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb, base)
    pre = _topk(spark, base)
    staged = os.path.join(
        base, "data", "commit-deadbeefdeadbeef",
        "_temporary", "0", "_temporary", "attempt_1", "cellp=0",
    )
    os.makedirs(staged)
    with open(os.path.join(staged, "part-00000.parquet"), "wb") as fh:
        fh.write(b"not really parquet")
    # Default grace: the maybe-live writer's staging survives.
    MT.vacuum(base, keep_last=1)
    assert os.path.isdir(staged)
    # Grace waived (writer provably dead): the whole commit dir goes.
    MT.vacuum(base, keep_last=1, orphan_min_age_s=0)
    assert not os.path.isdir(
        os.path.join(base, "data", "commit-deadbeefdeadbeef")
    )
    assert len(globmod.glob(os.path.join(base, "data", "commit-*"))) == 1
    pd.testing.assert_frame_equal(_topk(spark, base), pre, check_exact=True)


def test_vacuum_keeps_live_writers_empty_cell_dir(spark, tmp_path):
    """During a live writer's Spark job-commit the destination cellp=
    dirs exist momentarily EMPTY before task files move in; a racing
    default-grace vacuum must not rmdir them out from under the commit
    (it may only sweep empty dirs it emptied itself, or quiesced
    ones)."""
    emb = _emb(spark)
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb, base)
    fresh = os.path.join(base, "data", "commit-feedfacefeedface", "cellp=9")
    os.makedirs(fresh)
    MT.vacuum(base, keep_last=1)
    assert os.path.isdir(fresh)  # grace window held for the live commit
    MT.vacuum(base, keep_last=1, orphan_min_age_s=0)
    assert not os.path.isdir(os.path.dirname(fresh))


def test_vacuum_zero_grace_is_deterministic(spark, tmp_path):
    """Regression for the r9 flake: vacuum's own pass-1 unlinks bump
    staged-dir mtimes past a single entry-time ``now``, and the
    zero-grace sweep then intermittently skipped the rmtree. Ten
    back-to-back kill+vacuum cycles must each reclaim the staged
    commit on the first zero-grace pass."""
    import glob as globmod

    from pyspark.sql import functions as F

    emb = _emb(spark)
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb.filter(F.col("vec_id") < 25), base)

    class Kill(RuntimeError):
        pass

    def killer(step):
        raise Kill(step)

    for _ in range(10):
        before = set(globmod.glob(os.path.join(base, "data", "commit-*")))
        with pytest.raises(Kill):
            V.ingest_index_versioned(
                emb.filter(F.col("vec_id") >= 25), base, fault=killer
            )
        staged = (
            set(globmod.glob(os.path.join(base, "data", "commit-*"))) - before
        )
        assert len(staged) == 1
        out = MT.vacuum(base, keep_last=1, orphan_min_age_s=0)
        assert out["files_removed"] > 0
        assert not any(os.path.isdir(d) for d in staged)


def test_query_src_lookup_matches_index_scan_fallback(spark, tmp_path):
    """Query vectors fetched from the source table (the O(queries)
    path every caller should use) serve bit-identically to the
    self-contained O(index) fallback scan — same rows, same kernel."""
    emb = _emb(spark)
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb, base)
    via_fallback = _topk(spark, base)
    via_src = (
        V.cosine_topk_ivf_versioned(spark, base, QIDS, k=10, query_src=emb)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(via_src, via_fallback, check_exact=True)


def test_build_crash_before_publish_leaves_no_version(spark, tmp_path, monkeypatch):
    """A kill anywhere before the v1 manifest link leaves NO committed
    version — readers see an empty store, never a partial build; the
    staged commit is vacuum fodder."""
    import glob as globmod

    class Kill(RuntimeError):
        pass

    emb = _emb(spark)
    base = str(tmp_path / "ver")

    def boom(base_path, version, payload):
        raise Kill("publish")

    monkeypatch.setattr(V, "publish_manifest", boom)
    with pytest.raises(Kill):
        V.build_ivfpq_index_versioned(emb, base)
    assert MT.manifest_versions(base) == []
    staged = globmod.glob(os.path.join(base, "data", "commit-*"))
    assert len(staged) == 1  # orphaned, reclaimed by vacuum once quiesced
    monkeypatch.undo()
    assert V.build_ivfpq_index_versioned(emb, base) == 1


def test_every_version_reads_with_the_schema_v1_recorded(spark, tmp_path):
    """v1 records its list schema; an ingest whose batch encodes to
    other columns (a v1 built with ``label`` against a batch of
    ``(vec_id, embedding)``) raises before it stages anything, and a
    read whose cells are pruned to nothing returns that schema."""
    import glob as globmod

    from pyspark.sql import functions as F

    emb = _emb(spark)
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb.filter(F.col("vec_id") < 30), base)
    schema = V.read_ivf_manifest(base, 1)["schema"]
    assert "`label` int" in schema
    with pytest.raises(ValueError, match="encodes to"):
        V.ingest_index_versioned(
            emb.filter(F.col("vec_id") >= 30).select("vec_id", "embedding"), base
        )
    assert MT.manifest_versions(base) == [1]
    assert len(globmod.glob(os.path.join(base, "data", "commit-*"))) == 1
    assert V.ingest_index_versioned(emb.filter(F.col("vec_id") >= 30), base) == 2
    assert V.read_ivf_manifest(base, 2)["schema"] == schema
    full = V.read_ivf_index_version(spark, base, 2)
    empty = V.read_ivf_index_version(spark, base, 2, cells=[-1])
    assert empty.count() == 0
    assert [(f.name, f.dataType) for f in empty.schema] == [
        (f.name, f.dataType) for f in full.schema
    ]
    assert V._ddl(empty) == schema


def test_refresh_retrains_and_swaps_quantizers_atomically(spark, tmp_path):
    """The drift-scheduled refresh verb: build on the history slice,
    ingest the newest rows under the stale artifacts, REFRESH on the
    full corpus — the new version's quantizers equal a from-scratch
    full-corpus build's (training is deterministic), serving from it
    equals the full-build index bit-for-bit, the pre-refresh version
    still time-travels, and a crash before publish leaves the stale
    quantizers fully live."""
    from pyspark.sql import functions as F

    emb = _emb(spark)
    hist = emb.filter(F.col("vec_id") < 25)
    batch = emb.filter(F.col("vec_id") >= 25)
    base = str(tmp_path / "ver")
    V.build_ivfpq_index_versioned(hist, base)
    V.ingest_index_versioned(batch, base)
    pre = _adc_topk(spark, emb, base)  # stale-artifact serving (v2)

    class Kill(RuntimeError):
        pass

    def killer(step):
        if step == "staged":
            raise Kill(step)

    with pytest.raises(Kill):
        V.refresh_ivfpq_index_versioned(emb, base, fault=killer)
    assert MT.manifest_versions(base) == [1, 2]  # old quantizers live
    pd.testing.assert_frame_equal(
        _adc_topk(spark, emb, base), pre, check_exact=True
    )

    assert V.refresh_ivfpq_index_versioned(emb, base) == 3
    full = str(tmp_path / "full")
    V.build_ivfpq_index_versioned(emb, full)
    man_r = V.read_ivf_manifest(base, 3)
    man_f = V.read_ivf_manifest(full, 1)
    assert man_r["coarse"] == man_f["coarse"]
    assert man_r["books"] == man_f["books"]
    pd.testing.assert_frame_equal(
        _adc_topk(spark, emb, base), _adc_topk(spark, emb, full),
        check_exact=True,
    )
    # Pre-refresh state still reads exactly as committed.
    pd.testing.assert_frame_equal(
        _adc_topk(spark, emb, base, version=2), pre, check_exact=True
    )


def test_refresh_decision_gauge_is_exact_and_scale_free(spark, tmp_path):
    """ivfpq_refresh_decision over a versioned 70/30 build-then-ingest
    index: counts partition the corpus exactly, errors are positive
    integers, and the permille ratio obeys its own integer identity
    (bit-reproducibility vs DuckDB is pinned by the registered
    query's oracle; this pins the operator's internal consistency)."""
    from pyspark.sql import functions as F

    emb = _emb(spark)
    max_id = emb.agg(F.max("vec_id")).first()[0]
    split = (max_id + 1) * 7 // 10
    base = str(tmp_path / "ver")
    V.build_ivfpq_index_versioned(emb.filter(F.col("vec_id") < split), base)
    V.ingest_index_versioned(emb.filter(F.col("vec_id") >= split), base)
    row = V.ivfpq_refresh_decision(spark, emb, base, split).first()
    n = emb.count()
    assert row["hist_n"] + row["batch_n"] == n
    assert row["hist_err"] > 0 and row["batch_err"] > 0
    want = (1000 * row["batch_err"] * row["hist_n"]) // (
        row["hist_err"] * row["batch_n"]
    )
    assert row["drift_permille"] == want
    assert row["decision"] == (
        "refresh" if want > V.IVFPQ_REFRESH_DRIFT_PERMILLE else "keep"
    )


def test_ivfpq_rebalance_splits_reencode_and_commit_atomically(spark, tmp_path):
    """The PQ-tier rebalance: oversized cells split into two
    hash-picked children and the members' codes are RE-ENCODED against
    the child centroids under the frozen books (residual basis moved).
    Pins: the manifest swap is exact (split cells gone, children
    present, books byte-identical, row population preserved), the
    child lists equal an independent re-encode, the pre-split version
    still time-travels bit-equal, and post-split serving works."""
    from pyspark.sql import functions as F

    emb = _emb(spark)
    base = str(tmp_path / "ver")
    V.build_ivfpq_index_versioned(emb, base)
    man1 = V.read_ivf_manifest(base, 1)
    pre = _adc_topk(spark, emb, base)

    stats = V.rebalance_index_versioned(spark, base, emb)
    assert stats["cells_split"] >= 1
    assert MT.manifest_versions(base) == [1, 2]
    man2 = V.read_ivf_manifest(base, 2)
    assert man2["books"] == man1["books"]  # books never retrain here
    split = set(stats["split_cells"])
    cells2 = {e["cell"] for e in man2["files"]}
    assert not (split & cells2)  # split cells retired
    children = {c for c in man2["coarse"] if c >= V.IVFPQ_CHILD_ID_BASE}
    assert len(children) == 2 * len(split)
    assert children <= cells2
    # Population preserved: same vec_ids, same total rows.
    ids1 = {
        r["vec_id"]
        for r in V.read_ivf_index_version(spark, base, 1).select("vec_id").collect()
    }
    ids2 = {
        r["vec_id"]
        for r in V.read_ivf_index_version(spark, base, 2).select("vec_id").collect()
    }
    assert ids1 == ids2
    assert sum(e["rows"] for e in man2["files"]) == len(ids1)
    # Child lists are exactly an independent PER-CELL re-encode: each
    # split cell's members are re-pointed to the nearer of ITS OWN two
    # child seeds (the cosine-tier split semantics), never to another
    # cell's children, under the frozen books.
    books = V._books_from_json(man2["books"])
    wants = []
    for c in sorted(split):
        cm_ids = V.read_ivf_index_version(
            spark, base, 1, cells=[c]
        ).select("vec_id")
        cm = emb.join(cm_ids, "vec_id").select("vec_id", "embedding")
        cm_set = {r["vec_id"] for r in cm_ids.collect()}
        ch_coarse = {
            cid: man2["coarse"][cid]
            for cid in children
            if cid - V.IVFPQ_CHILD_ID_BASE in cm_set
        }
        assert len(ch_coarse) == 2
        wants.append(
            S._encode_ivfpq_lists(cm, ch_coarse, books, m=len(books)).toPandas()
        )
    want = (
        pd.concat(wants, ignore_index=True)
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    got = (
        V.read_ivf_index_version(spark, base, 2, cells=sorted(children))
        .select(*want.columns)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    # Pre-split version reads exactly as committed; post-split serves.
    pd.testing.assert_frame_equal(
        _adc_topk(spark, emb, base, version=1), pre, check_exact=True
    )
    post = _adc_topk(spark, emb, base)
    assert (post.groupby("query_id")["rank"].max() == 10).all()


def test_ivfpq_rebalance_kill_between_steps_never_partial(spark, tmp_path):
    """Kill the PQ rebalance after every mutation step: a reader must
    always see exactly the pre-split index (no manifest advance, serve
    bit-equal), and the eventual clean run must commit the same split
    a never-killed run would."""
    emb = _emb(spark)
    base = str(tmp_path / "ver")
    V.build_ivfpq_index_versioned(emb, base)
    pre = _adc_topk(spark, emb, base)

    class Kill(RuntimeError):
        pass

    steps: list[str] = []

    def count_steps(step):
        steps.append(step)

    ref = str(tmp_path / "ref")
    V.build_ivfpq_index_versioned(emb, ref)
    V.rebalance_index_versioned(spark, ref, emb, fault=count_steps)
    assert steps and steps[-1] == "published"

    for k in range(len(steps) - 1):  # kill at every pre-publish step

        def killer(step, _k=k, _seen=[]):
            _seen.append(step)
            if len(_seen) == _k + 1:
                raise Kill(step)

        with pytest.raises(Kill):
            V.rebalance_index_versioned(spark, base, emb, fault=killer)
        assert MT.manifest_versions(base) == [1]
        pd.testing.assert_frame_equal(
            _adc_topk(spark, emb, base), pre, check_exact=True
        )
    out = V.rebalance_index_versioned(spark, base, emb)
    assert out["version"] == 2
    man = V.read_ivf_manifest(base, 2)
    man_ref = V.read_ivf_manifest(ref, 2)
    assert man["coarse"] == man_ref["coarse"]
    assert {(e["cell"], e["rows"]) for e in man["files"]} == {
        (e["cell"], e["rows"]) for e in man_ref["files"]
    }
    pd.testing.assert_frame_equal(
        _adc_topk(spark, emb, base),
        _adc_topk(spark, emb, ref),
        check_exact=True,
    )


def test_random_lifecycle_model_ivfpq(spark, tmp_path):
    """Randomized lifecycle model for the PQ tier — the full verb set
    (ingest / rebalance / refresh / vacuum, each with kill-injected
    twins) interleaved by a seeded RNG. After EVERY step the latest
    committed version must expose exactly the model's id set, manifest
    row counts must equal the real population, every listed file must
    exist, the quantizers must be internally consistent (every file's
    cell exists in the coarse set), versions only grow, and the
    streaming high-water mark stamped by every ingest survives every
    maintenance/vacuum interleaving (the exactly-once rider
    invariant)."""
    import random

    from pyspark.sql import functions as F

    emb = _emb(spark)
    all_ids = [
        r["vec_id"] for r in emb.select("vec_id").orderBy("vec_id").collect()
    ]
    slices = [all_ids[i::5] for i in range(5)]
    base = str(tmp_path / "pq")
    V.build_ivfpq_index_versioned(
        emb.filter(F.col("vec_id").isin(slices[0])), base
    )
    model_ids = set(slices[0])
    next_batch = 1
    model_stamp = -1
    # Seed chosen so the 16-op draw covers every verb kind (2 ingests,
    # rebalance, refresh, deletes, compacts, a vacuum, and kills of
    # several kinds) — checked when written.
    rng = random.Random(5)

    from sressentials_spark.streaming.ann_ingest import committed_stream_batch

    class Kill(RuntimeError):
        pass

    def killer(step):
        raise Kill(step)

    def corpus():
        return emb.filter(F.col("vec_id").isin(sorted(model_ids)))

    def check() -> int:
        v = MT.manifest_versions(base)[-1]
        man = V.read_ivf_manifest(base, v)
        cells = {int(c) for c in man["coarse"]}
        for e in man["files"]:
            assert os.path.exists(os.path.join(base, "data", e["path"]))
            assert e["cell"] in cells  # lists never orphan their cell
        assert sum(e["rows"] for e in man["files"]) == len(model_ids)
        got = {
            r["vec_id"]
            for r in V.read_ivf_index_version(spark, base, v)
            .select("vec_id")
            .collect()
        }
        assert got == model_ids
        # The exactly-once rider invariant, PQ tier: the stamp
        # survives every maintenance/vacuum interleaving.
        assert committed_stream_batch(base) == model_stamp
        return v

    v_prev = check()
    for _ in range(16):
        op = rng.choice(
            [
                "ingest", "ingest_kill", "rebalance", "rebalance_kill",
                "refresh", "refresh_kill", "vacuum", "delete",
                "delete_kill", "compact", "compact_kill",
            ]
        )
        if op.startswith("ingest"):
            if next_batch >= len(slices):
                continue
            batch = emb.filter(F.col("vec_id").isin(slices[next_batch]))
            stamp = {"stream_batch_id": next_batch}
            if op == "ingest_kill":
                with pytest.raises(Kill):
                    V.ingest_index_versioned(
                        batch, base, fault=killer, manifest_extra=stamp
                    )
            else:
                V.ingest_index_versioned(
                    batch, base, manifest_extra=stamp
                )
                model_ids |= set(slices[next_batch])
                model_stamp = next_batch
                next_batch += 1
        elif op == "rebalance":
            V.rebalance_index_versioned(spark, base, corpus())
        elif op == "rebalance_kill":
            try:
                V.rebalance_index_versioned(
                    spark, base, corpus(), fault=killer
                )
            except Kill:
                pass
        elif op == "refresh":
            V.refresh_ivfpq_index_versioned(corpus(), base)
        elif op == "refresh_kill":
            with pytest.raises(Kill):
                V.refresh_ivfpq_index_versioned(corpus(), base, fault=killer)
        elif op.startswith("delete"):
            victims = rng.sample(sorted(model_ids), k=min(3, len(model_ids) - 5))
            if op == "delete_kill":
                with pytest.raises(Kill):
                    V.delete_ivf_index_versioned(
                        spark, base, victims, fault=killer
                    )
            else:
                out = V.delete_ivf_index_versioned(spark, base, victims)
                assert out["deleted_rows"] == len(victims)
                model_ids -= set(victims)
        elif op == "compact":
            V.compact_ivf_index_versioned(spark, base)
        elif op == "compact_kill":
            try:
                V.compact_ivf_index_versioned(spark, base, fault=killer)
            except Kill:
                pass  # a no-op plan never reaches a fault point
        elif op == "vacuum":
            MT.vacuum(base, keep_last=1)
        v_now = check()
        assert v_now >= v_prev
        v_prev = v_now
    assert next_batch > 1  # the sequence actually grew the index


def test_delete_rewrites_only_affected_files_both_tiers(spark, tmp_path):
    """Copy-on-write delete: only the files containing target ids are
    rewritten (every other file byte-untouched), the deleted rows
    vanish from serving, the PRE-delete version still time-travels
    (the compliance story: data is provably gone when vacuum expires
    it), quantizers are untouched, and a no-op delete commits
    nothing. Both tiers share the verb."""
    from pyspark.sql import functions as F

    emb = _emb(spark)
    # --- cosine tier ---
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb, base)
    pre = _topk(spark, base)
    victims = [int(r["neighbor_id"]) for r in pre.head(3).to_dict("records")]
    stats_before = {
        os.path.join(base, "data", e["path"]): os.stat(
            os.path.join(base, "data", e["path"])
        )
        for e in V.read_ivf_manifest(base, 1)["files"]
    }
    out = V.delete_ivf_index_versioned(spark, base, victims)
    assert out["deleted_rows"] == len(set(victims))
    assert out["version"] == 2
    man2 = V.read_ivf_manifest(base, 2)
    assert man2["centroids"] == V.read_ivf_manifest(base, 1)["centroids"]
    kept = {os.path.join(base, "data", e["path"]) for e in man2["files"]}
    for p in kept & set(stats_before):  # carried-over files byte-untouched
        now = os.stat(p)
        assert (now.st_size, now.st_mtime_ns) == (
            stats_before[p].st_size,
            stats_before[p].st_mtime_ns,
        )
    post = _topk(spark, base)
    assert not set(victims) & set(post["neighbor_id"])
    assert (post.groupby("query_id")["rank"].max() == 10).all()
    ids2 = {
        r["vec_id"]
        for r in V.read_ivf_index_version(spark, base, 2).select("vec_id").collect()
    }
    assert not set(victims) & ids2
    assert sum(e["rows"] for e in man2["files"]) == len(ids2)
    # Pre-delete version still reads exactly as committed.
    pd.testing.assert_frame_equal(_topk(spark, base, version=1), pre, check_exact=True)
    # No-op delete: absent ids commit nothing.
    out2 = V.delete_ivf_index_versioned(spark, base, [10_000_000])
    assert (out2["deleted_rows"], out2["files_rewritten"], out2["version"]) == (0, 0, 2)
    assert out2["files_scanned"] == 0  # stats-pruned: no file can hold the id
    # Vacuum expires the pre-delete version; serving is undisturbed.
    MT.vacuum(base, keep_last=1, orphan_min_age_s=0)
    assert MT.manifest_versions(base) == [2]
    pd.testing.assert_frame_equal(_topk(spark, base), post, check_exact=True)

    # --- PQ tier ---
    pq = str(tmp_path / "pq")
    V.build_ivfpq_index_versioned(emb, pq)
    pre_pq = _adc_topk(spark, emb, pq)
    v_pq = [int(r["neighbor_id"]) for r in pre_pq.head(2).to_dict("records")]
    out = V.delete_ivf_index_versioned(spark, pq, v_pq)
    assert out["deleted_rows"] == len(set(v_pq)) and out["version"] == 2
    man = V.read_ivf_manifest(pq, 2)
    man1 = V.read_ivf_manifest(pq, 1)
    assert man["coarse"] == man1["coarse"] and man["books"] == man1["books"]
    post_pq = _adc_topk(spark, emb, pq)
    assert not set(v_pq) & set(post_pq["neighbor_id"])
    pd.testing.assert_frame_equal(
        _adc_topk(spark, emb, pq, version=1), pre_pq, check_exact=True
    )


def test_delete_crash_before_publish_changes_nothing(spark, tmp_path):
    """A kill after the rewrite staged but before the manifest link:
    readers still see every row; the staged rewrite is vacuum fodder."""
    emb = _emb(spark)
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb, base)
    pre = _topk(spark, base)

    class Kill(RuntimeError):
        pass

    def killer(step):
        if step == "staged":
            raise Kill(step)

    victims = [int(pre["neighbor_id"].iloc[0])]
    with pytest.raises(Kill):
        V.delete_ivf_index_versioned(spark, base, victims, fault=killer)
    assert MT.manifest_versions(base) == [1]
    pd.testing.assert_frame_equal(_topk(spark, base), pre, check_exact=True)
    out = V.delete_ivf_index_versioned(spark, base, victims)
    assert out["version"] == 2
    assert victims[0] not in set(_topk(spark, base)["neighbor_id"])


def test_delete_locate_prunes_on_manifest_id_stats(spark, tmp_path):
    """Every commit's manifest entries carry footer-derived per-file
    id min/max, and delete's locate pass prunes on them driver-side:
    deleting ids that live only in the ingest batch must scan ONLY the
    batch commit's files — the history commit (disjoint id range) is
    never opened. The same warranty the snapshot tier's manifest
    stats give its scans."""
    from pyspark.sql import functions as F

    emb = _emb(spark)
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb.filter(F.col("vec_id") < 30), base)
    V.ingest_index_versioned(emb.filter(F.col("vec_id") >= 30), base)
    man = V.read_ivf_manifest(base, 2)
    assert all("min_id" in e and "max_id" in e for e in man["files"])
    assert all(e["min_id"] <= e["max_id"] for e in man["files"])
    batch_files = [e for e in man["files"] if e["min_id"] >= 30]
    hist_files = [e for e in man["files"] if e["max_id"] < 30]
    assert batch_files and hist_files
    assert len(batch_files) + len(hist_files) == len(man["files"])
    victims = sorted(
        r["vec_id"]
        for r in emb.filter(F.col("vec_id") >= 30).select("vec_id").head(2)
    )
    out = V.delete_ivf_index_versioned(spark, base, victims)
    assert out["deleted_rows"] == len(victims)
    # Locate opened at most the batch commit's files, never history's.
    assert 0 < out["files_scanned"] <= len(batch_files)


def test_compact_merges_fragmented_cells_bit_equal_serving(spark, tmp_path):
    """Compaction: several small ingests fragment hot cells into many
    tiny files; compact rewrites exactly the fragmented cells into
    size-targeted files — file count drops, rows/cells/quantizers are
    untouched, serving is bit-equal, the fragmented version still
    time-travels, and a second compact is a no-op. Both tiers."""
    from pyspark.sql import functions as F

    emb = _emb(spark)
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb.filter(F.col("vec_id") < 20), base)
    for lo in range(20, 50, 10):
        V.ingest_index_versioned(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 10)),
            base,
        )
    man = V.read_ivf_manifest(base, MT.manifest_versions(base)[-1])
    assert len(man["files"]) > len({e["cell"] for e in man["files"]})
    pre = _topk(spark, base)
    pre_rows = sum(e["rows"] for e in man["files"])

    out = V.compact_ivf_index_versioned(spark, base)
    assert out["cells_compacted"] >= 1
    assert out["files_after"] < out["files_before"]
    man2 = V.read_ivf_manifest(base, out["version"])
    assert len(man2["files"]) == out["files_after"]
    assert sum(e["rows"] for e in man2["files"]) == pre_rows
    assert man2["centroids"] == man["centroids"]
    assert {e["cell"] for e in man2["files"]} == {e["cell"] for e in man["files"]}
    pd.testing.assert_frame_equal(_topk(spark, base), pre, check_exact=True)
    pd.testing.assert_frame_equal(
        _topk(spark, base, version=out["version"] - 1), pre, check_exact=True
    )
    again = V.compact_ivf_index_versioned(spark, base)
    assert again["cells_compacted"] == 0
    assert again["version"] == out["version"]

    # PQ tier: fragment by ingest, compact, ADC serving bit-equal.
    pq = str(tmp_path / "pq")
    V.build_ivfpq_index_versioned(emb.filter(F.col("vec_id") < 25), pq)
    V.ingest_index_versioned(
        emb.filter((F.col("vec_id") >= 25) & (F.col("vec_id") < 40)), pq
    )
    V.ingest_index_versioned(emb.filter(F.col("vec_id") >= 40), pq)
    sub = emb.filter(F.col("vec_id") >= 0)
    pre_pq = _adc_topk(spark, sub, pq)
    man_pq = V.read_ivf_manifest(pq, MT.manifest_versions(pq)[-1])
    out = V.compact_ivf_index_versioned(spark, pq)
    assert out["cells_compacted"] >= 1 and out["files_after"] < out["files_before"]
    man_pq2 = V.read_ivf_manifest(pq, out["version"])
    assert man_pq2["coarse"] == man_pq["coarse"]
    assert man_pq2["books"] == man_pq["books"]
    pd.testing.assert_frame_equal(_adc_topk(spark, sub, pq), pre_pq, check_exact=True)


def test_compact_crash_before_publish_changes_nothing(spark, tmp_path):
    """A kill after staging rewrites but before the manifest link:
    readers still see the fragmented version; staged rewrites are
    vacuum fodder, and vacuum's grace window protects them until
    waived."""
    from pyspark.sql import functions as F

    emb = _emb(spark)
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb.filter(F.col("vec_id") < 25), base)
    V.ingest_index_versioned(emb.filter(F.col("vec_id") >= 25), base)
    pre = _topk(spark, base)
    v0 = MT.manifest_versions(base)[-1]

    class Kill(RuntimeError):
        pass

    def killer(step):
        if step == "prepared":
            raise Kill(step)

    with pytest.raises(Kill):
        V.compact_ivf_index_versioned(spark, base, fault=killer)
    assert MT.manifest_versions(base)[-1] == v0
    pd.testing.assert_frame_equal(_topk(spark, base), pre, check_exact=True)
    out = V.compact_ivf_index_versioned(spark, base)
    assert out["version"] == v0 + 1
    pd.testing.assert_frame_equal(_topk(spark, base), pre, check_exact=True)
    MT.vacuum(base, keep_last=1, orphan_min_age_s=0)
    pd.testing.assert_frame_equal(_topk(spark, base), pre, check_exact=True)


def test_maintenance_publishes_carry_stream_stamp(spark, tmp_path):
    """Every descendant publish — plain ingest, compact, delete,
    rebalance, refresh — carries a transactional rider
    (``stream_batch_id``) forward from its parent manifest, and a
    newer ingest stamp overrides it. The hazard this pins: a
    maintenance verb that dropped the stamp would, after vacuum
    expires the stamped version, reset the streaming high-water mark
    to -1 and let a redelivered in-flight micro-batch re-ingest its
    rows (duplicates with no error). Both tiers."""
    from pyspark.sql import functions as F

    from sressentials_spark.streaming.ann_ingest import committed_stream_batch

    emb = _emb(spark)
    # --- cosine tier: stamp via ingest, then every maintenance verb ---
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb.filter(F.col("vec_id") < 20), base)
    V.ingest_index_versioned(
        emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 35)),
        base,
        manifest_extra={"stream_batch_id": 7},
    )
    assert committed_stream_batch(base) == 7
    # A PLAIN batch ingest (no stamp of its own) must not drop it.
    V.ingest_index_versioned(emb.filter(F.col("vec_id") >= 35), base)
    assert V.read_ivf_manifest(base, 3)["stream_batch_id"] == 7
    out = V.compact_ivf_index_versioned(spark, base)
    assert out["cells_compacted"] >= 1
    assert V.read_ivf_manifest(base, out["version"])["stream_batch_id"] == 7
    victim = int(
        V.read_ivf_index_version(spark, base).agg(F.max("vec_id")).first()[0]
    )
    out = V.delete_ivf_index_versioned(spark, base, [victim])
    assert V.read_ivf_manifest(base, out["version"])["stream_batch_id"] == 7
    stats = V.rebalance_index_versioned(spark, base)
    if stats["cells_split"]:
        assert (
            V.read_ivf_manifest(base, stats["version"])["stream_batch_id"] == 7
        )
    # After maintenance + vacuum(keep_last=1) the mark MUST survive
    # (the exactly-once guarantee's failure mode otherwise).
    MT.vacuum(base, keep_last=1, orphan_min_age_s=0)
    assert len(MT.manifest_versions(base)) == 1
    assert committed_stream_batch(base) == 7
    # A newer ingest stamp overrides the carried one (the row carries
    # the columns v1 recorded, or the ingest is refused).
    V.ingest_index_versioned(
        spark.createDataFrame(
            [(10_000, [0.5] + [0.0] * (V.DEFAULT_DIM - 1), 0)],
            "vec_id long, embedding array<float>, label int",
        ),
        base,
        manifest_extra={"stream_batch_id": 8},
    )
    assert committed_stream_batch(base) == 8

    # --- PQ tier: ingest stamp, then rebalance + refresh carry it ---
    pq = str(tmp_path / "pq")
    V.build_ivfpq_index_versioned(emb.filter(F.col("vec_id") < 25), pq)
    V.ingest_index_versioned(
        emb.filter(F.col("vec_id") >= 25),
        pq,
        manifest_extra={"stream_batch_id": 3},
    )
    stats = V.rebalance_index_versioned(spark, pq, emb)
    if stats["cells_split"]:
        assert (
            V.read_ivf_manifest(pq, stats["version"])["stream_batch_id"] == 3
        )
    v = V.refresh_ivfpq_index_versioned(emb, pq)
    assert V.read_ivf_manifest(pq, v)["stream_batch_id"] == 3
    MT.vacuum(pq, keep_last=1, orphan_min_age_s=0)
    assert committed_stream_batch(pq) == 3


def test_ivfpq_rebalance_refuses_stale_corpus(spark, tmp_path):
    """The PQ rebalance re-encodes split members from the caller's raw
    corpus; if that corpus is missing manifest member ids (e.g. read
    before a concurrent ingest committed, or stale across a
    lost-publish-race retry), the inner join would silently drop those
    rows from the rewritten child lists — permanent loss. The verb must
    verify and refuse instead, leaving the index untouched."""
    from pyspark.sql import functions as F

    emb = _emb(spark)
    base = str(tmp_path / "ver")
    V.build_ivfpq_index_versioned(emb, base)
    pre = _adc_topk(spark, emb, base)
    with pytest.raises(ValueError, match="stale"):
        V.rebalance_index_versioned(
            spark, base, emb.filter(F.col("vec_id") % 2 == 0)
        )
    assert MT.manifest_versions(base) == [1]
    pd.testing.assert_frame_equal(
        _adc_topk(spark, emb, base), pre, check_exact=True
    )
    # The complete corpus still rebalances normally afterwards.
    stats = V.rebalance_index_versioned(spark, base, emb)
    assert stats["cells_split"] >= 1 and stats["version"] == 2


def test_rebalance_checks_emb_against_the_manifest_tier(spark, tmp_path):
    """The latest manifest names the tier, so ``emb`` is checked, never
    ignored: a cosine store's lists hold the vectors (``emb`` passed is
    an error), an IVF-PQ store re-encodes from the raw corpus (``emb``
    missing is an error). Either mismatch raises before anything is
    staged: no new commit dir, no new version."""
    import glob

    emb = _emb(spark)
    cos, pq = str(tmp_path / "cos"), str(tmp_path / "pq")
    V.build_ivf_index_versioned(emb, cos)
    V.build_ivfpq_index_versioned(emb, pq)
    for base, arg, match in ((cos, emb, "pass no emb"), (pq, None, "pass emb")):
        commits = sorted(glob.glob(os.path.join(base, "data", "commit-*")))
        with pytest.raises(ValueError, match=match):
            V.rebalance_index_versioned(spark, base, arg)
        assert sorted(glob.glob(os.path.join(base, "data", "commit-*"))) == commits
        assert MT.manifest_versions(base) == [1]


def test_compacted_files_stay_id_clustered_for_pruning(spark, tmp_path):
    """Compaction must range-partition on the id column so each
    rewritten file covers a disjoint id interval: round-robin would
    give every compacted file the cell's full id span in its footer
    min/max, and one compaction pass would degrade delete's
    driver-side manifest-stats pruning to scanning every compacted
    file."""
    from pyspark.sql import functions as F

    emb = _emb(spark)
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb.filter(F.col("vec_id") < 10), base)
    for lo in range(10, 60, 10):
        V.ingest_index_versioned(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 10)),
            base,
        )
    man = V.read_ivf_manifest(base, MT.manifest_versions(base)[-1])
    by_cell: dict[int, list[dict]] = {}
    for e in man["files"]:
        by_cell.setdefault(e["cell"], []).append(e)
    cell, es = max(by_cell.items(), key=lambda kv: len(kv[1]))
    assert len(es) >= 4
    total = sum(
        os.path.getsize(os.path.join(base, "data", e["path"])) for e in es
    )
    # Target ~1/3 of the hot cell's bytes: forces k in [2, len(es)).
    out = V.compact_ivf_index_versioned(spark, base, target_bytes=total // 3)
    assert out["cells_compacted"] >= 1
    man2 = V.read_ivf_manifest(base, out["version"])
    old_paths = {e["path"] for e in man["files"]}
    new_by_cell: dict[int, list[dict]] = {}
    for e in man2["files"]:
        if e["path"] not in old_paths:
            new_by_cell.setdefault(e["cell"], []).append(e)
    multi = {c: es for c, es in new_by_cell.items() if len(es) >= 2}
    assert multi, "expected at least one cell compacted into >=2 files"
    for c, es in multi.items():
        spans = sorted((e["min_id"], e["max_id"]) for e in es)
        for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
            assert hi1 < lo2, (
                f"cell {c}: compacted files overlap on id ranges "
                f"({lo1},{hi1}) vs ({lo2},{hi2}) — pruning degraded"
            )
    # End to end: deleting one id scans only the files whose manifest
    # range contains it — strictly fewer than the whole index.
    victim = int(
        V.read_ivf_index_version(spark, base).agg(F.max("vec_id")).first()[0]
    )
    res = V.delete_ivf_index_versioned(spark, base, [victim])
    contains = [
        e
        for e in man2["files"]
        if e["min_id"] <= victim <= e["max_id"]
    ]
    assert res["files_scanned"] == len(contains) < len(man2["files"])


def test_refresh_decision_guards_degenerate_splits(spark, tmp_path):
    """A split_id outside the corpus id range leaves one side of the
    drift gauge empty — the ratio is undefined and must be a clear
    ValueError, not int(None)/ZeroDivisionError from the guts."""
    from pyspark.sql import functions as F

    emb = _emb(spark)
    max_id = int(emb.agg(F.max("vec_id")).first()[0])
    base = str(tmp_path / "ver")
    V.build_ivfpq_index_versioned(emb, base)
    with pytest.raises(ValueError, match="empty batch"):
        V.ivfpq_refresh_decision(spark, emb, base, max_id + 1)
    with pytest.raises(ValueError, match="empty history"):
        V.ivfpq_refresh_decision(spark, emb, base, 0)


def test_ivf_index_history_catalog(spark, tmp_path):
    """The version-history metadata surface (Iceberg's ``snapshots``
    table, on the ANN store): one row per LIVE manifest, logical stats
    straight from the manifests (no data-file scan), the streaming
    stamp column as the exactly-once ledger, and vacuum shrinking the
    catalog to the surviving versions."""
    from pyspark.sql import functions as F

    emb = _emb(spark)
    n_all = emb.count()
    n_hist = emb.filter(F.col("vec_id") < 25).count()
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb.filter(F.col("vec_id") < 25), base)
    V.ingest_index_versioned(
        emb.filter(F.col("vec_id") >= 25),
        base,
        manifest_extra={"stream_batch_id": 5},
    )
    stats = V.rebalance_index_versioned(spark, base)
    assert stats["cells_split"] >= 1
    victims = [int(r["vec_id"]) for r in emb.select("vec_id").head(2)]
    V.delete_ivf_index_versioned(spark, base, victims)

    hist = {r["version"]: r for r in V.ivf_index_history(spark, base).collect()}
    assert sorted(hist) == [1, 2, 3, 4]
    assert hist[1]["n_rows"] == n_hist and hist[1]["stream_batch_id"] is None
    assert hist[2]["n_rows"] == n_all and hist[2]["stream_batch_id"] == 5
    assert hist[3]["n_rows"] == n_all
    assert hist[3]["n_cells"] == hist[2]["n_cells"] + stats["cells_split"]
    assert hist[4]["n_rows"] == n_all - len(victims)
    # Riders survive maintenance (the carry-forward rule, visible here
    # as the ledger column).
    assert hist[3]["stream_batch_id"] == hist[4]["stream_batch_id"] == 5
    # The catalog never scans data: history of a store whose data dir
    # is unreadable would still resolve — approximate that by checking
    # the call's plan-free shape (bounded local rows).
    assert V.ivf_index_history(spark, base).count() == 4
    # Vacuum shrinks the catalog to the survivors.
    MT.vacuum(base, keep_last=2, orphan_min_age_s=0)
    assert [
        r["version"] for r in V.ivf_index_history(spark, base).collect()
    ] == [3, 4]
