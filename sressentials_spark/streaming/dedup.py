"""Streaming exact deduplication: first-seen content hashes.

The streaming face of ``operators.text.exact_dedup_groups`` — a corpus
arriving as files (the 100 TB ingest shape: object-store drops picked
up by the file source) is deduplicated on content hash as it streams,
emitting each distinct hash once. ``dropDuplicates`` keeps per-key
state in the state store; for an unbounded hash space at production
scale that store would be RocksDB-backed and, if the stream carried
event time, watermarked so state for closed windows ages out. For a
bounded corpus replay (availableNow) the state IS the dedup set —
exactly the semantics wanted.

Only the hash column rides the stream after the projection, so the
stateful shuffle carries 32 bytes per row, not documents.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sressentials_spark.artifacts import free, get_or_build, tracking
from sressentials_spark.scratch import scratch_dir
from sressentials_spark.sources.tables import history_split, load_table
from sressentials_spark.streaming import (
    drain_foreach_batch,
    dropped_by_watermark,
    file_source,
    replay_to_parquet,
    stage_arrivals,
    stage_source,
)


def exact_dedup_stream(
    spark: SparkSession, sf_dir: str, glob: str = "documents.parquet"
) -> DataFrame:
    """Streaming distinct content hashes over a parquet file source."""
    return file_source(spark, sf_dir, glob=glob).select(
        F.md5(F.col("text").cast("binary")).alias("content_hash")
    ).dropDuplicates(["content_hash"])


def run_exact_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the dedup stream to completion (availableNow) and return the
    distinct-hash result table."""
    out, _ = replay_to_parquet(spark, exact_dedup_stream(spark, sf_dir), "dedup")
    return out


#: State TTL for the native watermark-scoped dedup: an event's id stays
#: in the state store until the watermark passes ``ts + DUP_DELAY``, so
#: re-deliveries within this window are suppressed and older state ages
#: out. The production contract this models: "at-least-once upstream
#: re-delivers within 48 h" — the window bounds STATE, which is what
#: makes the operator viable on an unbounded 100 TB stream (the custom
#: ``dropDuplicates`` replay above keeps state forever; fine for a
#: bounded corpus, fatal for an endless one).
DUP_DELAY = "2 days"
_DUP_DELAY_US = 2 * 24 * 3600 * 1_000_000

_EVENT_COLS = ["event_id", "user_id", "ts", "event_type", "value"]


def stage_duplicate_arrivals(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> str:
    """Stage the events table as an at-least-once delivery sequence:
    two ts-ranged arrival files, then a RE-DELIVERY file duplicating
    every event from the trailing ``DUP_DELAY`` window — the rows whose
    first delivery is still inside the dedup state's TTL when the
    re-delivery batch arrives (``ts >= max_ts - delay`` also keeps them
    ahead of the watermark, so they reach the state store and are
    suppressed there, not silently late-filtered). Returns the stage
    dir."""
    e = load_table(spark, sf_dir, "events").select(*_EVENT_COLS)
    max_ts = e.agg(F.max("ts")).first()[0]
    redelivery = e.filter(
        F.col("ts") >= F.lit(max_ts) - F.expr(f"INTERVAL {DUP_DELAY}")
    )
    return stage_arrivals(
        e, 2, "ts", tails={"redelivery": redelivery}, out_dir=out_dir
    )


def run_dedup_within_watermark_batch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spark's NATIVE ``dropDuplicatesWithinWatermark`` over the staged
    at-least-once arrival (one file per micro-batch): each event emits
    on first delivery, the re-delivered tail is suppressed by state
    that the watermark then evicts. The declarative twin of
    :func:`exact_dedup_stream` with the state-bound the 100 TB shape
    needs; output lands on a parquet sink (executors write, the driver
    tracks only the commit log) and must equal the events table
    exactly."""
    stage_dir = get_or_build(
        spark,
        ("dup_arrivals", sf_dir),
        lambda: stage_duplicate_arrivals(spark, sf_dir),
        tier="disk",
    )
    schema = (
        "event_id long, user_id long, ts timestamp, "
        "event_type string, value double"
    )
    deduped = (
        stage_source(spark, stage_dir, schema)
        .withWatermark("ts", DUP_DELAY)
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    out, progress = replay_to_parquet(spark, deduped, "dedup_within_wm")
    dropped = dropped_by_watermark(progress)
    if dropped:
        raise ValueError(
            f"watermark-scoped dedup replay late-dropped {dropped} rows: "
            "a re-delivery arrived outside the state TTL window"
        )
    return out


def run_minhash_ingest_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming near-dup triage at ingest: documents arrive as files,
    each micro-batch is MinHash-triaged against the PERSISTED bucketed
    dedup index inside ``foreachBatch`` (history-only verdicts —
    batching-invariant by construction, see
    ``operators.dedup.minhash_triage``), and verdicts append
    to a parquet sink (executors write their own files; the driver
    tracks only the commit log). Per micro-batch the cost is the
    batch's own shingles/signatures plus one bucket-aligned band join
    whose history side never shuffles — O(batch), never O(corpus) —
    which is exactly what lets this run synchronously in the ingest
    path at 100 TB/day. New-vs-new dups within the arrival window are
    the nightly compaction's job (`dedup_incremental_ingest`)."""
    from sressentials_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    split = history_split(docs, "doc_id")
    index = D.dedup_index_tables(spark, sf_dir, docs, split)

    def _replay() -> str:
        # The new-split documents as 4 id-ranged arrival files.
        stage = get_or_build(
            spark,
            ("dedup_ingest_stage", sf_dir, split),
            lambda: stage_arrivals(
                docs.filter(F.col("doc_id") >= split), 4, "doc_id"
            ),
            tier="disk",
        )
        out = os.path.join(scratch_dir("sressentials_dedup_ingest_out_"), "verdicts")

        def triage(batch: DataFrame, batch_id: int) -> None:
            # Free only the batch's own shingle/signature frames: a
            # global release here would drop every other query's
            # shared frames mid-pass.
            with tracking() as frames:
                try:
                    D.minhash_triage(
                        index.side(batch.sparkSession), batch, batch_quadrant=False
                    ).write.mode("append").parquet(out)
                finally:
                    free(frames, blocking=True)

        drain_foreach_batch(
            file_source(spark, f"{stage}/arrivals", max_files_per_trigger=1),
            triage,
        )
        return out

    final = get_or_build(
        spark, ("dedup_ingest_stream", sf_dir, split), _replay, tier="disk"
    )
    return spark.read.parquet(final)
