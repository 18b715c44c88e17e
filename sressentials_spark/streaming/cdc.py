"""Streaming CDC current-state: latest event per key as a live table.

The streaming face of the batch CDC pair (``cdc_upsert_documents`` /
``cdc_scd2_documents`` in catalog.py): a changelog arriving as files
is folded into the "current state per key" table every micro-batch —
the materialized-view shape behind feature stores and serving caches.

The aggregate is ``max(struct(ts, event_id, payload...))`` per key:
struct ordering compares field-by-field, and (ts, event_id) is unique
per row, so the winner is TOTAL-ordered — no ``max_by`` tie
nondeterminism — and the oracle can restate it as a ROW_NUMBER window
with the identical (ts DESC, event_id DESC) order. State is one struct
per key in the state store (RocksDB-backed at production scale),
updated in place; the stateful shuffle keys on the uniform user_id.

HARNESS-ONLY MODE CHOICE: the bounded replay runs ``complete`` mode
into a memory sink because the OUTPUT is the small current-state
aggregate (one row per key — 1.5k rows at sf0.1), the same
small-aggregate class as the sketch and session_window replays. A
production deployment emits the changed rows per micro-batch
(``update`` mode) into an upsert-capable sink (Delta/Iceberg MERGE or
a keyed KV store) — complete-mode re-emission is what the bounded
harness wants, not what a 100 TB/day changelog gets.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sressentials_spark.artifacts import get_or_build
from sressentials_spark.operators import maintenance as MT
from sressentials_spark.scratch import scratch_dir
from sressentials_spark.streaming import (
    drain_foreach_batch,
    drain_to_memory,
    file_source,
)
from sressentials_spark.streaming.enrich import ordered_arrivals


def latest_state_stream(
    spark: SparkSession, sf_dir: str, glob: str = "events.parquet"
) -> DataFrame:
    """Per-user latest-event state as a streaming aggregation."""
    events = file_source(spark, sf_dir, glob=glob).select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        "event_type",
    )
    # Total order: (ts, event_id) is unique per row, so the struct max
    # is deterministic — the whole reason this is max(struct) and not
    # max_by, whose ties are engine-arbitrary.
    return (
        events.groupBy("user_id")
        .agg(
            F.max(F.struct("ts", "event_id", "event_type")).alias("m")
        )
        .select(
            "user_id",
            F.col("m.ts").alias("last_ts"),
            F.col("m.event_id").alias("last_event_id"),
            F.col("m.event_type").alias("last_event_type"),
        )
    )


def run_latest_state_batch(
    spark: SparkSession, sf_dir: str, glob: str = "events.parquet"
) -> DataFrame:
    """Replay the changelog to completion; return the state table."""
    return drain_to_memory(
        latest_state_stream(spark, sf_dir, glob),
        "stream_latest_state_",
        f"{sf_dir}|{glob}",
    )


def _latest_wins(df: DataFrame) -> DataFrame:
    """Collapse a (user_id, last_ts, last_event_id, last_event_type)
    changelog to one latest row per key via the same total-ordered
    struct max as the streaming aggregate."""
    return (
        df.groupBy("user_id")
        .agg(
            F.max(
                F.struct("last_ts", "last_event_id", "last_event_type")
            ).alias("m")
        )
        .select(
            "user_id",
            F.col("m.last_ts").alias("last_ts"),
            F.col("m.last_event_id").alias("last_event_id"),
            F.col("m.last_event_type").alias("last_event_type"),
        )
    )


def _run_merge_replay(spark: SparkSession, arrivals_dir: str) -> str:
    """Replay staged arrivals one file per micro-batch through a
    ``foreachBatch`` MERGE into an on-disk keyed state table; return
    the final state path. The replay's commit log stays beside the
    state (``ckpt/``), the record of how many batches were merged."""
    d = scratch_dir("sressentials_cdc_state_")
    state = os.path.join(d, "state")

    def merge(batch: DataFrame, batch_id: int) -> None:
        b = _latest_wins(
            batch.select(
                "user_id",
                F.col("ts").cast("timestamp").alias("last_ts"),
                F.col("event_id").alias("last_event_id"),
                F.col("event_type").alias("last_event_type"),
            )
        )
        sess = batch.sparkSession
        if os.path.exists(state):
            b = _latest_wins(sess.read.parquet(state).unionByName(b))
        tmp = os.path.join(d, f"state_b{batch_id}")
        b.write.mode("overwrite").parquet(tmp)
        # Pointer swap. NOT atomic at the filesystem level — a real
        # deployment gets this from the table format's snapshot commit
        # (Delta/Iceberg MERGE); the replay harness only needs
        # batch-sequential consistency, which foreachBatch guarantees.
        shutil.rmtree(state, ignore_errors=True)
        os.replace(tmp, state)

    drain_foreach_batch(
        file_source(spark, arrivals_dir, max_files_per_trigger=1),
        merge,
        checkpoint=os.path.join(d, "ckpt"),
    )
    return state


def run_latest_state_foreachbatch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PRODUCTION face of the CDC current-state table: instead of a
    complete-mode aggregate re-emitted per batch, each micro-batch is
    folded into an on-disk keyed state table by a ``foreachBatch``
    MERGE — read current state, latest-wins against the batch's own
    per-key winners, rewrite — the upsert pattern a Delta/Iceberg
    MERGE executes with snapshot isolation at scale. The replay is
    genuinely multi-batch (the staged event-time-ordered arrival files
    from the enrich twin, one file per trigger), so the merge must be
    correct ACROSS batch boundaries, and the per-batch work is
    O(batch + |keys|), never O(history of events). Must agree exactly
    with the single-pass streaming aggregate and the relational
    oracle."""
    arrivals = ordered_arrivals(spark, sf_dir)
    final = get_or_build(
        spark,
        ("cdc_foreachbatch", sf_dir),
        lambda: _run_merge_replay(spark, arrivals),
        tier="disk",
    )
    return spark.read.parquet(final)


def run_latest_state_snapshot_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The CDC current-state table maintained with REAL snapshot
    isolation — the upgrade the pointer-swap harness above explicitly
    defers to "the table format's snapshot commit": every micro-batch
    lands as a copy-on-write MERGE version
    (operators/maintenance.py:snapshot_merge) on a manifest-snapshot
    table, so each batch is an atomic, time-travelable commit (a
    crashed batch leaves an orphaned commit dir, never a half-written
    state table) and only files whose per-file key stats intersect the
    batch's keys are rewritten.

    Latest-wins is resolved BEFORE the merge: the batch's per-key
    winners are folded against the head version's rows for those keys
    (a key-envelope-pruned read), so correctness does not depend on
    arrival order. Per-batch cost: O(batch + affected files), never
    O(event history). Must agree exactly with both the complete-mode
    aggregate twin and the pointer-swap foreachBatch twin — all three
    share one relational oracle."""
    arrivals = ordered_arrivals(spark, sf_dir)

    def _replay() -> str:
        table = os.path.join(scratch_dir("sressentials_cdc_snapmerge_"), "state_table")

        def merge(batch: DataFrame, batch_id: int) -> None:
            sess = batch.sparkSession
            b = _latest_wins(
                batch.select(
                    "user_id",
                    F.col("ts").cast("timestamp").alias("last_ts"),
                    F.col("event_id").alias("last_event_id"),
                    F.col("event_type").alias("last_event_type"),
                )
            )
            versions = MT.manifest_versions(table)
            if not versions:
                MT.snapshot_write(
                    sess, b, table, mode="replace", stats_cols=["user_id"]
                )
                return
            lo, hi = b.agg(F.min("user_id"), F.max("user_id")).first()
            cur = MT.read_snapshot(
                sess, table, versions[-1], prune=("user_id", lo, hi)
            )
            contested = cur.join(
                b.select("user_id").distinct(), "user_id", "left_semi"
            )
            upserts = _latest_wins(contested.unionByName(b))
            MT.snapshot_merge(
                sess, table, upserts, key_col="user_id"
            )

        drain_foreach_batch(
            file_source(spark, arrivals, max_files_per_trigger=1), merge
        )
        # One committed version per micro-batch: a genuinely
        # multi-batch replay must leave a multi-version history.
        if len(MT.manifest_versions(table)) < 2:
            raise ValueError("replay committed fewer than 2 versions")
        return table

    table = get_or_build(spark, ("cdc_snapshot_merge", sf_dir), _replay, tier="disk")
    return MT.read_snapshot(spark, table, MT.manifest_versions(table)[-1])
