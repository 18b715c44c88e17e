"""Incremental rollup-MV maintenance (streaming/rollup_mv.py):
additive merge correctness and retry idempotence."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from sressentials_spark.sources.tables import load_table
from sressentials_spark.streaming.rollup_mv import (
    RollupMvWriter,
    _merge_rollup,
    _partials,
)

SF = "/root/testdata/sf0.001"


def test_merge_adds_shared_keys_and_appends_new(spark):
    mv = spark.createDataFrame(
        [("2024-01-01", "view", 5, 100), ("2024-01-01", "click", 2, 40)],
        "day string, event_type string, n_events long, value_cents long",
    ).withColumn("day", F.to_date("day"))
    partial = spark.createDataFrame(
        [("2024-01-01", "view", 3, 60), ("2024-01-02", "view", 1, 10)],
        "day string, event_type string, n_events long, value_cents long",
    ).withColumn("day", F.to_date("day"))
    got = {
        (str(r["day"]), r["event_type"]): (r["n_events"], r["value_cents"])
        for r in _merge_rollup(mv, partial).collect()
    }
    assert got[("2024-01-01", "view")] == (8, 160)
    assert got[("2024-01-01", "click")] == (2, 40)
    assert got[("2024-01-02", "view")] == (1, 10)


def test_retried_batch_is_a_noop(spark, tmp_path):
    """The additive-merge retry hazard: foreachBatch may re-run a
    batch after a failure; the committed-batch high-water mark must
    make the duplicate merge a no-op instead of double-counting."""
    events = load_table(spark, SF, "events")
    half = events.limit(200)
    writer = RollupMvWriter(str(tmp_path))

    writer(half, 0)
    first = spark.read.parquet(writer.state).toPandas()
    writer(half, 0)  # simulated retry of the SAME batch id
    again = spark.read.parquet(writer.state).toPandas()
    key = ["day", "event_type"]
    pd.testing.assert_frame_equal(
        first.sort_values(key).reset_index(drop=True),
        again.sort_values(key).reset_index(drop=True),
    )
    # A genuinely NEW batch does merge.
    writer(half, 1)
    doubled = spark.read.parquet(writer.state).toPandas()
    assert doubled["n_events"].sum() == 2 * first["n_events"].sum()
    assert writer.committed_batch() == 1


def test_replay_equals_one_shot_rollup(spark):
    from sressentials_spark.artifacts import (  # noqa: F401 (artifact reuse path)
        get_or_build,
    )
    from sressentials_spark.streaming.rollup_mv import (
        run_rollup_mv_foreachbatch,
    )

    got = (
        run_rollup_mv_foreachbatch(spark, SF)
        .toPandas()
        .sort_values(["day", "event_type"])
        .reset_index(drop=True)
    )
    exp = (
        _partials(load_table(spark, SF, "events"))
        .toPandas()
        .sort_values(["day", "event_type"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)
    assert len(got) > 1


def test_cdc_snapshot_merge_commits_versioned_history(spark):
    """The snapshot-committed CDC stream must (a) agree exactly with
    the pointer-swap foreachBatch twin, and (b) leave one
    time-travelable version per micro-batch, with every version
    readable after the replay (nothing vacuumed)."""
    from sressentials_spark.catalog import QUERIES
    from sressentials_spark.operators import maintenance as MT
    from sressentials_spark.artifacts import _DISK, release_persisted
    from sressentials_spark.streaming.enrich import MULTIBATCH_FILES

    snap = (
        QUERIES["streaming_cdc_snapshot_merge"](spark, SF)
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    twin = (
        QUERIES["streaming_cdc_upsert_foreachbatch"](spark, SF)
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    release_persisted()
    pd.testing.assert_frame_equal(snap, twin, check_like=True)

    table = next(
        v
        for k, (v, _frames) in _DISK.items()
        if "cdc_snapshot_merge" in str(k)
    )
    versions = MT.manifest_versions(table)
    assert len(versions) == MULTIBATCH_FILES
    # every intermediate version still reads (snapshot isolation)
    sizes = [MT.read_snapshot(spark, table, v).count() for v in versions]
    assert sizes == sorted(sizes)  # keys only accumulate
