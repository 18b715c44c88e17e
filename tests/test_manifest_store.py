"""The commit protocol both versioned tiers share (operators/maintenance.py):
one publish-and-retry loop, key carry-forward, and one vacuum."""

from __future__ import annotations

import glob as globmod
import os
import random
import time

import pytest
from pyspark.sql import functions as F

from sressentials_spark.operators import ivf_versioned as V
from sressentials_spark.operators import maintenance as MT


def _emb(spark, n: int = 60, dim: int = 64):
    rng = random.Random(7)
    return spark.createDataFrame(
        [(i, [rng.uniform(-1.0, 1.0) for _ in range(dim)]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )


def test_retry_exhaustion_reraises_and_publishes_nothing(spark, tmp_path):
    """A plan that loses every race is called ``retries + 1`` times,
    then the FileExistsError surfaces and none of its children is
    published — through the bare loop and through an ingest verb."""
    store = str(tmp_path / "store")
    os.makedirs(store)
    MT.publish_manifest(store, 1, {"version": 1, "files": []})
    calls: list[int] = []

    def losing_plan(parent):
        calls.append(parent["version"])
        # A racer claims the next version while this plan is staging.
        v = parent["version"] + 1
        MT.publish_manifest(store, v, {"version": v, "files": [], "racer": True})
        return {"files": [{"path": "mine"}]}

    with pytest.raises(FileExistsError):
        MT.publish_next(store, losing_plan, retries=2)
    assert calls == [1, 2, 3]
    assert MT.manifest_versions(store) == [1, 2, 3, 4]
    assert all(
        MT.read_manifest(store, v)["files"] == [] for v in (1, 2, 3, 4)
    )

    emb = _emb(spark)
    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb.filter(F.col("vec_id") < 25), base)
    steps: list[str] = []

    def racer(step):
        steps.append(step)
        if step == "prepared":
            v = MT.manifest_versions(base)[-1]
            clone = {**MT.read_manifest(base, v), "version": v + 1}
            MT.publish_manifest(base, v + 1, clone)

    with pytest.raises(FileExistsError):
        V.ingest_index_versioned(
            emb.filter(F.col("vec_id") >= 25), base, fault=racer, retries=2
        )
    assert steps.count("prepared") == 3 and steps.count("retrying") == 2
    assert "published" not in steps
    assert MT.manifest_versions(base) == [1, 2, 3, 4]
    assert all(
        MT.read_manifest(base, v)["files"] == MT.read_manifest(base, 1)["files"]
        for v in (2, 3, 4)
    )
    # The staged batch was encoded once and reused by every re-plan.
    assert len(globmod.glob(os.path.join(base, "data", "commit-*"))) == 2


def test_child_carries_quantizers_and_riders_it_does_not_restate(spark, tmp_path):
    store = str(tmp_path / "store")
    os.makedirs(store)
    parent = {
        "version": 1,
        "coarse": {"0": [1, 2], "7": [3, 4]},
        "books": [[[0, [5, 6]]]],
        "stream_batch_id": 7,
        "files": [{"path": "commit-old/f"}],
    }
    MT.publish_manifest(store, 1, parent)
    assert MT.publish_next(
        store, lambda p: {"files": [{"path": "commit-a/f"}]}, retries=0
    ) == 2
    child = MT.read_manifest(store, 2)
    assert child == {
        "version": 2,
        "coarse": parent["coarse"],
        "books": parent["books"],
        "stream_batch_id": 7,
        "files": [{"path": "commit-a/f"}],
    }

    # The snapshot tier runs the same loop: an append restates only its
    # mode and files, and a rider on the parent survives it.
    table = str(tmp_path / "tbl")
    os.makedirs(table)
    MT.publish_manifest(
        table,
        1,
        {"version": 1, "mode": "replace", "files": [], "stream_batch_id": 3},
    )
    assert MT.snapshot_write(spark, spark.range(0, 4), table, mode="append") == 2
    assert MT.read_manifest(table, 2)["stream_batch_id"] == 3
    assert MT.read_snapshot(spark, table, 2).count() == 4


def test_vacuum_refuses_a_store_with_no_versions(tmp_path):
    """With nothing committed every file looks like an orphan, so the
    vacuum raises before deleting anything — even with the grace
    window waived and every file long quiesced."""
    store = str(tmp_path / "store")
    commit = os.path.join(store, "data", "commit-0123456789abcdef")
    files = [
        os.path.join(commit, "cellp=0", "part-0.parquet"),
        os.path.join(commit, "part-1.parquet"),
        os.path.join(store, "manifests", "manifest-0123456789abcdef.json"),
        os.path.join(store, "manifest-v1.json.tmp-0123456789ab"),
    ]
    old = time.time() - 7200
    for f in files:
        os.makedirs(os.path.dirname(f), exist_ok=True)
        with open(f, "wb") as fh:
            fh.write(b"x")
        os.utime(f, (old, old))
    with pytest.raises(ValueError, match="no versions"):
        MT.vacuum(store, keep_last=1, orphan_min_age_s=0)
    assert all(os.path.exists(f) for f in files)
