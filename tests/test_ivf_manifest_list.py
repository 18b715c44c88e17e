"""Two-level manifest-list layout for the versioned ANN index
(operators/ivf_versioned.py::promote_ivf_manifest_list) — the r11
SCALING.md promotion recipe turned into tested code: each immutable
``commit-<id>`` dir's entry block becomes its own manifest FILE and the
published version shrinks to a pointer LIST, so publish cost drops to
O(commits touched) while reads, serving, riders, crash atomicity and
vacuum transfer unchanged. These tests pin: bit-equal serving across
the promotion, pointer REUSE by every descendant verb, kill-injection
mid-promotion (reader never sees a partial layout), vacuum correctness
across both layouts including shared-block liveness, the streaming
exactly-once recipe on a promoted store, and a randomized lifecycle
model with promotion in the interleaving."""

from __future__ import annotations

import glob as globmod
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sressentials_spark.operators import ivf_versioned as V
from sressentials_spark.operators import maintenance as MT
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


def _pointer_paths(base, version):
    return {p["path"] for p in V._read_manifest_raw(base, version)["manifest_list"]}


def _lifecycle_store(spark, tmp_path, name="ver"):
    """build <25 -> ingest >=25 -> rebalance: a multi-commit store."""
    emb = _emb(spark)
    base = str(tmp_path / name)
    V.build_ivf_index_versioned(emb.filter(F.col("vec_id") < 25), base)
    V.ingest_index_versioned(emb.filter(F.col("vec_id") >= 25), base)
    stats = V.rebalance_index_versioned(spark, base)
    assert stats["cells_split"] >= 1
    return base


def test_promote_is_bit_equal_and_idempotent(spark, tmp_path):
    base = _lifecycle_store(spark, tmp_path)
    v_flat = MT.manifest_versions(base)[-1]
    pre = _topk(spark, base)
    flat_entries = V.read_ivf_manifest(base, v_flat)["files"]
    n_commits = len({e["path"].split("/", 1)[0] for e in flat_entries})

    out = V.promote_ivf_manifest_list(base)
    assert out["promoted"] and out["version"] == v_flat + 1
    assert out["n_manifests"] == n_commits
    assert out["n_files"] == len(flat_entries)

    raw = V._read_manifest_raw(base, v_flat + 1)
    assert "manifest_list" in raw and "files" not in raw
    # Pointer rollups agree with the blocks they summarize.
    for ptr in raw["manifest_list"]:
        block = MT.read_manifest_block(base, ptr)
        assert ptr["n_files"] == len(block)
        assert ptr["n_rows"] == sum(e["rows"] for e in block)
        assert ptr["cells"] == sorted({e["cell"] for e in block})
    # The transparent read flattens to the SAME entry set, and serving
    # is bit-equal (promotion never touches a data file).
    resolved = V.read_ivf_manifest(base, v_flat + 1)
    assert {e["path"] for e in resolved["files"]} == {
        e["path"] for e in flat_entries
    }
    pd.testing.assert_frame_equal(_topk(spark, base), pre, check_exact=True)
    # Time travel to the flat parent still works.
    pd.testing.assert_frame_equal(
        _topk(spark, base, version=v_flat), pre, check_exact=True
    )
    # History reads both layouts from the version JSON alone: the
    # promoted version's logical stats equal its flat parent's.
    hist = {
        r["version"]: r
        for r in V.ivf_index_history(spark, base).collect()
    }
    assert hist[v_flat + 1]["n_files"] == hist[v_flat]["n_files"]
    assert hist[v_flat + 1]["n_rows"] == hist[v_flat]["n_rows"]
    assert hist[v_flat + 1]["n_cells"] == hist[v_flat]["n_cells"]

    again = V.promote_ivf_manifest_list(base)
    assert again == {
        "promoted": False,
        "version": v_flat + 1,
        "n_manifests": n_commits,
    }


def test_two_level_ingest_reuses_parent_blocks(spark, tmp_path):
    """The publish-cost claim, observed: an ingest on a promoted store
    writes exactly ONE new block and re-points every parent block
    untouched — O(commits touched), not O(index files)."""
    emb = _emb(spark)
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb.filter(F.col("vec_id") < 20), base)
    V.promote_ivf_manifest_list(base)
    ptrs_v2 = _pointer_paths(base, 2)

    V.ingest_index_versioned(
        emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 35)), base
    )
    ptrs_v3 = _pointer_paths(base, 3)
    assert ptrs_v2 < ptrs_v3 and len(ptrs_v3) == len(ptrs_v2) + 1

    V.ingest_index_versioned(emb.filter(F.col("vec_id") >= 35), base)
    ptrs_v4 = _pointer_paths(base, 4)
    assert ptrs_v3 < ptrs_v4 and len(ptrs_v4) == len(ptrs_v3) + 1

    # Bit-equal to the never-promoted twin of the same lifecycle.
    ref = str(tmp_path / "ref")
    V.build_ivf_index_versioned(emb.filter(F.col("vec_id") < 20), ref)
    V.ingest_index_versioned(
        emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 35)), ref
    )
    V.ingest_index_versioned(emb.filter(F.col("vec_id") >= 35), ref)
    pd.testing.assert_frame_equal(
        _topk(spark, base), _topk(spark, ref), check_exact=True
    )


def test_two_level_maintenance_verbs_preserve_layout_and_values(
    spark, tmp_path
):
    """rebalance / delete / compact on a promoted store: every verb
    stays two-level, reuses untouched blocks by pointer, rewrites only
    shrunk blocks, and serves bit-equal to the flat twin running the
    same verbs."""
    emb = _emb(spark)
    base = str(tmp_path / "ver")
    ref = str(tmp_path / "ref")
    for p in (base, ref):
        V.build_ivf_index_versioned(emb.filter(F.col("vec_id") < 25), p)
        V.ingest_index_versioned(emb.filter(F.col("vec_id") >= 25), p)
    V.promote_ivf_manifest_list(base)  # base: v3 two-level; ref: v2 flat
    parent_ptrs = _pointer_paths(base, 3)

    stats = V.rebalance_index_versioned(spark, base)
    ref_stats = V.rebalance_index_versioned(spark, ref)
    assert stats["cells_split"] == ref_stats["cells_split"] >= 1
    v = MT.manifest_versions(base)[-1]
    raw = V._read_manifest_raw(base, v)
    assert "manifest_list" in raw
    # Here BOTH parent blocks (one build commit, one ingest commit)
    # span the split cells, so both legitimately shrink — the file set
    # changed, and reuse is asserted below on the delete, where most
    # blocks are untouched.
    assert _pointer_paths(base, v) != parent_ptrs
    pd.testing.assert_frame_equal(
        _topk(spark, base), _topk(spark, ref), check_exact=True
    )

    pre = _topk(spark, base)
    victims = [
        int(r["neighbor_id"])
        for r in pre[(pre["query_id"] == 0) & (pre["rank"] <= 3)].to_dict(
            "records"
        )
    ]
    ptrs_before = _pointer_paths(base, v)
    out = V.delete_ivf_index_versioned(spark, base, victims)
    ref_out = V.delete_ivf_index_versioned(spark, ref, victims)
    assert out["deleted_rows"] == ref_out["deleted_rows"] == len(victims)
    v = MT.manifest_versions(base)[-1]
    assert "manifest_list" in V._read_manifest_raw(base, v)
    # COW delete rewrote only the victim-bearing files; every block
    # with no affected file is re-pointed verbatim.
    assert out["files_rewritten"] < sum(
        p["n_files"] for p in V._read_manifest_raw(base, v)["manifest_list"]
    )
    assert _pointer_paths(base, v) & ptrs_before
    pd.testing.assert_frame_equal(
        _topk(spark, base), _topk(spark, ref), check_exact=True
    )

    out = V.compact_ivf_index_versioned(spark, base)
    ref_out = V.compact_ivf_index_versioned(spark, ref)
    assert out["cells_compacted"] >= 1 and ref_out["cells_compacted"] >= 1
    assert "manifest_list" in V._read_manifest_raw(
        base, MT.manifest_versions(base)[-1]
    )
    pd.testing.assert_frame_equal(
        _topk(spark, base), _topk(spark, ref), check_exact=True
    )


def test_promotion_kill_injection_never_partial(spark, tmp_path):
    """Kill the promotion after EVERY mutation step: the flat latest
    stays fully live and bit-equal, no version appears, and the staged
    blocks of killed attempts reclaim as vacuum orphans."""
    base = _lifecycle_store(spark, tmp_path)
    v_flat = MT.manifest_versions(base)[-1]
    pre = _topk(spark, base)

    steps: list[str] = []
    twin = _lifecycle_store(spark, tmp_path, name="twin")
    V.promote_ivf_manifest_list(twin, fault=steps.append)
    assert steps[-1] == "published" and "prepared" in steps
    assert any(s.startswith("staged:") for s in steps)

    class Kill(RuntimeError):
        pass

    # Step LABELS embed writer-unique commit ids, so kill by POSITION:
    # the twin's trace fixes how many fault points a promotion has.
    for kill_at in range(len(steps) - 1):  # every step before "published"
        seen = {"n": 0}

        def fault(step, kill_at=kill_at, seen=seen):
            if seen["n"] >= kill_at:
                raise Kill(step)
            seen["n"] += 1

        with pytest.raises(Kill):
            V.promote_ivf_manifest_list(base, fault=fault)
        assert MT.manifest_versions(base)[-1] == v_flat
        pd.testing.assert_frame_equal(_topk(spark, base), pre, check_exact=True)

    orphans = set(globmod.glob(os.path.join(base, "manifests", "*.json")))
    assert orphans  # the killed attempts really staged blocks
    out = V.promote_ivf_manifest_list(base)
    assert out["promoted"]
    live = {os.path.join(base, p) for p in _pointer_paths(base, v_flat + 1)}
    MT.vacuum(base, keep_last=1, orphan_min_age_s=0)
    left = set(globmod.glob(os.path.join(base, "manifests", "*.json")))
    assert left == live  # orphan blocks reclaimed, live blocks kept
    pd.testing.assert_frame_equal(_topk(spark, base), pre, check_exact=True)


def test_vacuum_across_layouts_keeps_shared_blocks(spark, tmp_path):
    emb = _emb(spark)
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb.filter(F.col("vec_id") < 25), base)
    V.ingest_index_versioned(
        emb.filter((F.col("vec_id") >= 25) & (F.col("vec_id") < 40)), base
    )
    V.promote_ivf_manifest_list(base)  # v3
    V.ingest_index_versioned(emb.filter(F.col("vec_id") >= 40), base)  # v4
    pre = _topk(spark, base)

    # Expiring v1..v3 (flat, flat, two-level) must keep every block the
    # kept v4 re-points — v3's blocks are ALL shared into v4.
    out = MT.vacuum(base, keep_last=1, orphan_min_age_s=0)
    assert out["versions_kept"] == [4]
    assert out["manifest_files_removed"] == 0
    pd.testing.assert_frame_equal(_topk(spark, base), pre, check_exact=True)

    # A delete rewrites the victim's block; vacuuming the pre-delete
    # version then reclaims the replaced block file (and only it).
    victims = [int(pre["neighbor_id"].iloc[0])]
    V.delete_ivf_index_versioned(spark, base, victims)
    ptrs_v5 = _pointer_paths(base, 5)
    out = MT.vacuum(base, keep_last=1, orphan_min_age_s=0)
    assert out["manifest_files_removed"] >= 1
    left = {
        os.path.relpath(p, base)
        for p in globmod.glob(os.path.join(base, "manifests", "*.json"))
    }
    assert left == ptrs_v5
    got = {
        r["vec_id"]
        for r in V.read_ivf_index_version(spark, base)
        .select("vec_id")
        .collect()
    }
    want = {r["vec_id"] for r in emb.select("vec_id").collect()} - set(victims)
    assert got == want


def test_streaming_exactly_once_on_promoted_store(spark, tmp_path):
    """The foreachBatch exactly-once recipe on a two-level store: each
    micro-batch publish is O(commits touched), the stamp rides the
    version JSON (raw read), redelivery commits nothing, and the final
    state is bit-equal to the flat twin."""
    import time

    from sressentials_spark.streaming import ann_ingest as AI

    # The arrivals carry (vec_id, embedding), and an ingest must match
    # the list schema v1 recorded, so v1 is built on those columns too.
    emb = _emb(spark).select("vec_id", "embedding")
    arrivals = str(tmp_path / "arrivals")
    (
        emb.filter(F.col("vec_id") >= 25)
        .repartitionByRange(3, "vec_id")
        .write.mode("overwrite")
        .parquet(arrivals)
    )
    t0 = time.time() - 3600
    for i, p in enumerate(sorted(globmod.glob(f"{arrivals}/part-*.parquet"))):
        os.utime(p, (t0 + i, t0 + i))

    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb.filter(F.col("vec_id") < 25), base)
    V.promote_ivf_manifest_list(base)  # v2, two-level
    AI.run_versioned_ingest_stream(spark, arrivals, base, str(tmp_path / "c1"))
    assert MT.manifest_versions(base) == [1, 2, 3, 4, 5]
    assert AI.committed_stream_batch(base) == 2
    assert "manifest_list" in V._read_manifest_raw(base, 5)

    ref = str(tmp_path / "ref")
    V.build_ivf_index_versioned(emb.filter(F.col("vec_id") < 25), ref)
    V.ingest_index_versioned(emb.filter(F.col("vec_id") >= 25), ref)
    pd.testing.assert_frame_equal(
        _topk(spark, base), _topk(spark, ref), check_exact=True
    )

    before = set(globmod.glob(os.path.join(base, "data", "commit-*")))
    AI.run_versioned_ingest_stream(spark, arrivals, base, str(tmp_path / "c2"))
    assert MT.manifest_versions(base) == [1, 2, 3, 4, 5]
    assert set(globmod.glob(os.path.join(base, "data", "commit-*"))) == before


def test_list_level_pruning_skips_unprobed_blocks(spark, tmp_path, monkeypatch):
    """The pointer rollup is a real pruning surface, not decoration: a
    cells-narrowed read loads ONLY the blocks whose rolled-up cell set
    intersects the probe — blocks of other cells are never opened
    (the driver-side twin of partition pruning, one level up)."""
    emb = _emb(spark)
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb, base)
    V.promote_ivf_manifest_list(base)
    raw = V._read_manifest_raw(base, 2)
    # Split the single build commit's block into per-cell blocks so
    # cells really live in distinct blocks (the shape many ingests or
    # a compaction produce naturally).
    by_cell: dict[int, list[dict]] = {}
    for ptr in raw["manifest_list"]:
        for e in MT.read_manifest_block(base, ptr):
            by_cell.setdefault(int(e["cell"]), []).append(e)
    assert len(by_cell) > 2
    pointers = [
        V._write_manifest_file(base, block)
        for _, block in sorted(by_cell.items())
    ]
    payload = {"version": 3, "manifest_list": pointers}
    payload["centroids"] = {
        str(c): v for c, v in sorted(raw["centroids"].items())
    }
    payload["schema"] = raw["schema"]
    MT.publish_manifest(base, 3, payload)

    loads: list[str] = []
    real = MT.read_manifest_block

    def counting(base_path, pointer):
        loads.append(pointer["path"])
        return real(base_path, pointer)

    monkeypatch.setattr(V, "read_manifest_block", counting)
    want_cells = sorted(by_cell)[:2]
    df = V.read_ivf_index_version(spark, base, 3, cells=want_cells)
    got_cells = {int(r["cell"]) for r in df.select("cell").distinct().collect()}
    assert got_cells == set(want_cells)
    assert len(loads) == 2  # exactly the probed cells' blocks
    # Unpruned read still sees everything.
    loads.clear()
    n = V.read_ivf_index_version(spark, base, 3).count()
    assert n == emb.count()
    assert len(loads) == len(pointers)


def test_pq_tier_promotes_bit_equal(spark, tmp_path):
    emb = _emb(spark)
    base = str(tmp_path / "pq")
    V.build_ivfpq_index_versioned(emb.filter(F.col("vec_id") < 25), base)
    V.ingest_index_versioned(emb.filter(F.col("vec_id") >= 25), base)

    def _serve():
        return (
            V.pq_adc_topk_ivfpq_versioned(spark, emb, base, QIDS, topk=10)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )

    pre = _serve()
    man_flat = V.read_ivf_manifest(base, 2)
    out = V.promote_ivf_manifest_list(base)
    assert out["promoted"] and out["version"] == 3
    man = V.read_ivf_manifest(base, 3)
    assert man["coarse"] == man_flat["coarse"]  # quantizers ride along
    assert man["books"] == man_flat["books"]
    pd.testing.assert_frame_equal(_serve(), pre, check_exact=True)
    # And the PQ ingest stays layout-preserving on top of it.
    V.ingest_index_versioned(emb.filter(F.col("vec_id") < 5), base)
    assert "manifest_list" in V._read_manifest_raw(base, 4)


def test_random_lifecycle_model_two_level(spark, tmp_path):
    """The randomized kill-injection lifecycle model, on a PROMOTED
    store with promotion itself in the op draw: after every step the
    latest version exposes exactly the model's id set, row counts
    match, every listed file exists, the layout never silently
    demotes, and the stream stamp survives — the same warranty as the
    flat-layout model test, across the two-level publish paths."""
    import random

    from sressentials_spark.streaming.ann_ingest import committed_stream_batch

    emb = _emb(spark)
    all_ids = [
        r["vec_id"] for r in emb.select("vec_id").orderBy("vec_id").collect()
    ]
    slices = [all_ids[i::6] for i in range(6)]
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(
        emb.filter(F.col("vec_id").isin(slices[0])), base
    )
    V.promote_ivf_manifest_list(base)
    model_ids = set(slices[0])
    next_batch = 1
    model_stamp = -1
    # Seed chosen so the 18-op draw covers every verb kind including a
    # killed promotion attempt and >=2 successful ingests — checked
    # when written.
    rng = random.Random(7)

    class Kill(RuntimeError):
        pass

    def killer(step):
        raise Kill(step)

    def check() -> int:
        v = MT.manifest_versions(base)[-1]
        assert "manifest_list" in V._read_manifest_raw(base, v)
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
    ops_seen = set()
    for _ in range(18):
        op = rng.choice(
            [
                "ingest", "ingest_kill", "rebalance", "rebalance_kill",
                "vacuum", "delete", "delete_kill", "compact", "compact_kill",
                "promote",
            ]
        )
        ops_seen.add(op)
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
                pass
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
                pass
        elif op == "promote":
            # Idempotent on an already-two-level store.
            assert V.promote_ivf_manifest_list(base)["promoted"] is False
        elif op == "vacuum":
            MT.vacuum(base, keep_last=1)
        v_now = check()
        assert v_now >= v_prev
        v_prev = v_now
    assert next_batch > 1  # the sequence actually grew the index
