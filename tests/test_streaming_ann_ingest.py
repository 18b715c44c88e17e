"""Exactly-once streaming ingest into the versioned IVF index
(streaming/ann_ingest.py): each micro-batch commits one stamped
manifest version, the final state is bit-equal to a one-shot
build-then-ingest over the same rows (frozen-centroid encoding is
batch-invariant), and a FULL redelivery (fresh checkpoint, same
arrival files) commits nothing — the manifest doubles as the
transaction log, so the stamp and the rows are one atomic publish."""

from __future__ import annotations

import glob as globmod
import os
import time

import pandas as pd
from pyspark.sql import functions as F

from sressentials_spark.operators import ivf_versioned as V
from sressentials_spark.operators import maintenance as MT
from sressentials_spark.sources.tables import load_table
from sressentials_spark.streaming import ann_ingest as AI
from sressentials_spark.streaming import stage_arrivals

SF = "/root/testdata/sf0.001"
QIDS = [0, 1, 2]


def _stage_arrivals(spark, emb, tmp_path, n_files=3):
    d = stage_arrivals(
        emb.filter(F.col("vec_id") >= 25).select("vec_id", "embedding"),
        n_files,
        "vec_id",
        out_dir=str(tmp_path / "stage"),
    )
    return f"{d}/arrivals"


def _emb(spark):
    # The arrivals carry (vec_id, embedding), and an ingest must match
    # the list schema v1 recorded, so v1 is built on those columns too.
    return load_table(spark, SF, "embeddings").select("vec_id", "embedding")


def _topk(spark, base):
    return (
        V.cosine_topk_ivf_versioned(spark, base, QIDS, k=10)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )


def test_streamed_ingest_is_exactly_once_and_batch_invariant(spark, tmp_path):
    emb = _emb(spark)
    arrivals = _stage_arrivals(spark, emb, tmp_path)

    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb.filter(F.col("vec_id") < 25), base)
    AI.run_versioned_ingest_stream(
        spark, arrivals, base, str(tmp_path / "ckpt1")
    )
    # One stamped version per non-empty micro-batch, in order.
    versions = MT.manifest_versions(base)
    assert versions == [1, 2, 3, 4]
    assert AI.committed_stream_batch(base) == 2
    ids = {
        r["vec_id"]
        for r in V.read_ivf_index_version(spark, base).select("vec_id").collect()
    }
    assert ids == {r["vec_id"] for r in emb.select("vec_id").collect()}

    # Batch-invariance: bit-equal to the one-shot build-then-ingest.
    ref = str(tmp_path / "ref")
    V.build_ivf_index_versioned(emb.filter(F.col("vec_id") < 25), ref)
    V.ingest_index_versioned(emb.filter(F.col("vec_id") >= 25), ref)
    pd.testing.assert_frame_equal(
        _topk(spark, base), _topk(spark, ref), check_exact=True
    )

    # FULL redelivery: fresh checkpoint, same files — every batch id is
    # already stamped, so nothing commits and nothing is even staged.
    before = set(globmod.glob(os.path.join(base, "data", "commit-*")))
    AI.run_versioned_ingest_stream(
        spark, arrivals, base, str(tmp_path / "ckpt2")
    )
    assert MT.manifest_versions(base) == [1, 2, 3, 4]
    assert set(globmod.glob(os.path.join(base, "data", "commit-*"))) == before

    # A maintenance commit in between must not reset the high-water
    # mark: its publish carries the stamp forward from the parent
    # manifest (the rider rule), so the mark survives even after
    # vacuum expires every stamped-by-ingest version — the window
    # where a dropped stamp would re-open double-ingest on a
    # redelivered in-flight batch.
    V.delete_ivf_index_versioned(spark, base, [int(min(ids - set(QIDS)))])
    assert MT.manifest_versions(base)[-1] == 5
    assert V.read_ivf_manifest(base, 5)["stream_batch_id"] == 2
    assert AI.committed_stream_batch(base) == 2
    MT.vacuum(base, keep_last=1, orphan_min_age_s=0)
    assert MT.manifest_versions(base) == [5]
    assert AI.committed_stream_batch(base) == 2
    AI.run_versioned_ingest_stream(
        spark, arrivals, base, str(tmp_path / "ckpt3")
    )
    assert MT.manifest_versions(base)[-1] == 5  # still nothing to redo


def test_empty_batch_skips_stamp_and_redelivery_is_noop(spark, tmp_path):
    """An EMPTY arrival micro-batch never publishes its stamp (the
    ingest verbs early-return before staging), so the high-water mark
    stops at the last non-empty batch. The r11-ADVICE hazard pinned:
    exactly-once still holds BECAUSE redelivering an unstamped empty
    batch re-ingests zero rows — the empty batch is staged LAST here so
    its redelivery is NOT skipped by the stamp check and must flow
    through the verb's early-return without committing anything. If the
    verbs' empty-batch early-return ever changes, this test trips."""
    emb = _emb(spark)
    arrivals = _stage_arrivals(spark, emb, tmp_path, n_files=2)
    empty_dir = str(tmp_path / "empty")
    (
        emb.filter(F.col("vec_id") < 0)
        .select("vec_id", "embedding")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(empty_dir)
    )
    (empty_part,) = globmod.glob(f"{empty_dir}/part-*.parquet")
    dst = os.path.join(arrivals, "part-zz-empty.parquet")
    os.replace(empty_part, dst)
    os.utime(dst, (time.time() - 1800,) * 2)  # newest => last batch id

    base = str(tmp_path / "ver")
    V.build_ivf_index_versioned(emb.filter(F.col("vec_id") < 25), base)
    AI.run_versioned_ingest_stream(spark, arrivals, base, str(tmp_path / "c1"))
    # Two non-empty batches committed; the trailing empty batch (id 2)
    # left no version and no stamp.
    assert MT.manifest_versions(base) == [1, 2, 3]
    assert AI.committed_stream_batch(base) == 1
    ids = {
        r["vec_id"]
        for r in V.read_ivf_index_version(spark, base).select("vec_id").collect()
    }
    assert ids == {r["vec_id"] for r in emb.select("vec_id").collect()}

    # Redelivery: batch 2 (empty) is NOT stamp-skipped — it runs the
    # verb and must commit nothing; batches 0/1 are stamp-skipped. The
    # verb's staging pass may leave an EMPTY commit dir behind (vacuum
    # fodder), so compare data files, not dir names.
    def _files():
        return set(
            globmod.glob(
                os.path.join(base, "data", "commit-*", "**", "*.parquet"),
                recursive=True,
            )
        )

    before = _files()
    AI.run_versioned_ingest_stream(spark, arrivals, base, str(tmp_path / "c2"))
    assert MT.manifest_versions(base) == [1, 2, 3]
    assert AI.committed_stream_batch(base) == 1
    assert _files() == before
    # And vacuum reclaims the quiesced empty staging dir residue.
    MT.vacuum(base, keep_last=1, orphan_min_age_s=0)
    assert _files() == before


def test_streamed_ivfpq_ingest_is_exactly_once_and_batch_invariant(
    spark, tmp_path
):
    """The PQ-tier streaming twin: micro-batches encode under the
    frozen v1 quantizers and commit with the same stamp discipline, so
    the streamed store is bit-equal to the one-shot build-then-ingest
    (frozen-artifact encoding is batch-invariant) and a full
    redelivery commits nothing — including after a maintenance commit
    plus vacuum, since every descendant publish carries the stamp."""
    emb = _emb(spark)
    arrivals = _stage_arrivals(spark, emb, tmp_path)

    base = str(tmp_path / "pq")
    V.build_ivfpq_index_versioned(emb.filter(F.col("vec_id") < 25), base)
    AI.run_versioned_ingest_stream(
        spark, arrivals, base, str(tmp_path / "ckpt1")
    )
    assert MT.manifest_versions(base) == [1, 2, 3, 4]
    assert AI.committed_stream_batch(base) == 2
    man = V.read_ivf_manifest(base, 4)
    man1 = V.read_ivf_manifest(base, 1)
    assert man["coarse"] == man1["coarse"]  # quantizers frozen
    assert man["books"] == man1["books"]

    ref = str(tmp_path / "ref")
    V.build_ivfpq_index_versioned(emb.filter(F.col("vec_id") < 25), ref)
    V.ingest_index_versioned(emb.filter(F.col("vec_id") >= 25), ref)

    def _serve(path):
        return (
            V.pq_adc_topk_ivfpq_versioned(spark, emb, path, QIDS, topk=10)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )

    pd.testing.assert_frame_equal(_serve(base), _serve(ref), check_exact=True)

    # Redelivery (fresh checkpoint, same files) commits nothing.
    import glob as globmod
    import os

    before = set(globmod.glob(os.path.join(base, "data", "commit-*")))
    AI.run_versioned_ingest_stream(
        spark, arrivals, base, str(tmp_path / "ckpt2")
    )
    assert MT.manifest_versions(base) == [1, 2, 3, 4]
    assert set(globmod.glob(os.path.join(base, "data", "commit-*"))) == before
