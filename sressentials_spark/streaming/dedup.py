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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sressentials_spark.artifacts import free, get_or_build, tracking


def exact_dedup_stream(
    spark: SparkSession, sf_dir: str, glob: str = "documents.parquet"
) -> DataFrame:
    """Streaming distinct content hashes over a parquet file source."""
    schema = spark.read.parquet(f"{sf_dir}/{glob}").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", glob)
        .parquet(sf_dir)
    )
    return stream.select(
        F.md5(F.col("text").cast("binary")).alias("content_hash")
    ).dropDuplicates(["content_hash"])


def run_exact_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the dedup stream to completion (availableNow) and return the
    distinct-hash result table."""
    from sressentials_spark.streaming import (
        DEFAULT_STATE_PARTITIONS,
        state_partitions,
    )

    from sressentials_spark.streaming import replay_to_parquet

    with state_partitions(spark, DEFAULT_STATE_PARTITIONS):
        out, _ = replay_to_parquet(
            spark, exact_dedup_stream(spark, sf_dir), "dedup"
        )
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


def stage_duplicate_arrivals(spark: SparkSession, sf_dir: str, out_dir: str) -> int:
    """Stage the events table as an at-least-once delivery sequence:
    two ts-ranged, mtime-ordered arrival files, then a RE-DELIVERY file
    duplicating every event from the trailing ``DUP_DELAY`` window —
    the rows whose first delivery is still inside the dedup state's TTL
    when the re-delivery batch arrives (``ts >= max_ts - delay`` also
    keeps them ahead of the watermark, so they reach the state store
    and are suppressed there, not silently late-filtered). Returns the
    number of staged files."""
    import glob as globmod
    import os
    import time

    from sressentials_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events").select(*_EVENT_COLS)
    (
        e.repartitionByRange(2, "ts")
        .write.mode("overwrite")
        .parquet(f"{out_dir}/arrivals")
    )
    parts = sorted(globmod.glob(f"{out_dir}/arrivals/part-*.parquet"))
    base = time.time() - 3600
    for i, p in enumerate(parts):
        os.utime(p, (base + i, base + i))

    max_ts = e.agg(F.max("ts")).first()[0]
    (
        e.filter(
            F.col("ts")
            >= F.lit(max_ts) - F.expr(f"INTERVAL {DUP_DELAY}")
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{out_dir}/redelivery")
    )
    redel = sorted(globmod.glob(f"{out_dir}/redelivery/part-*.parquet"))
    for i, p in enumerate(redel):
        os.utime(p, (base + 900 + i, base + 900 + i))
    return len(parts) + len(redel)


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
    from sressentials_spark.scratch import scratch_dir
    from sressentials_spark.streaming import (
        DEFAULT_STATE_PARTITIONS,
        dropped_by_watermark,
        replay_to_parquet,
        state_partitions,
    )

    def _stage() -> str:
        d = scratch_dir("sressentials_dup_arrivals_")
        stage_duplicate_arrivals(spark, sf_dir, d)
        return d

    stage_dir = get_or_build(spark, ("dup_arrivals", sf_dir), _stage, tier="disk")
    with state_partitions(spark, DEFAULT_STATE_PARTITIONS):
        schema = (
            "event_id long, user_id long, ts timestamp, "
            "event_type string, value double"
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "part-*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(stage_dir)
        )
        deduped = stream.withWatermark("ts", DUP_DELAY).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        out, progress = replay_to_parquet(spark, deduped, "dedup_within_wm")
    dropped = dropped_by_watermark(progress)
    if dropped:
        raise ValueError(
            f"watermark-scoped dedup replay late-dropped {dropped} rows: "
            "a re-delivery arrived outside the state TTL window"
        )
    return out


def _stage_document_arrivals(
    spark: SparkSession, sf_dir: str, split: int, n_files: int = 4
) -> str:
    """Write the new-split documents as ``n_files`` id-ranged,
    mtime-ordered arrival files for a rate-limited replay."""
    import glob as globmod
    import os
    import time

    from sressentials_spark.scratch import scratch_dir
    from sressentials_spark.sources.tables import load_table

    d = scratch_dir("sressentials_dedup_ingest_stage_")
    (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") >= split)
        .repartitionByRange(n_files, "doc_id")
        .write.mode("overwrite")
        .parquet(f"{d}/arrivals")
    )
    base = time.time() - 3600
    for i, p in enumerate(sorted(globmod.glob(f"{d}/arrivals/part-*.parquet"))):
        os.utime(p, (base + i, base + i))
    return d


def run_minhash_ingest_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming near-dup triage at ingest: documents arrive as files,
    each micro-batch is MinHash-triaged against the PERSISTED bucketed
    dedup index inside ``foreachBatch`` (history-only verdicts —
    batching-invariant by construction, see
    ``operators.dedup.minhash_history_triage``), and verdicts append
    to a parquet sink (executors write their own files; the driver
    tracks only the commit log). Per micro-batch the cost is the
    batch's own shingles/signatures plus one bucket-aligned band join
    whose history side never shuffles — O(batch), never O(corpus) —
    which is exactly what lets this run synchronously in the ingest
    path at 100 TB/day. New-vs-new dups within the arrival window are
    the nightly compaction's job (`dedup_incremental_ingest`)."""
    import os

    from sressentials_spark.operators import dedup as D
    from sressentials_spark.scratch import scratch_dir
    from sressentials_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    max_id = docs.agg(F.max("doc_id")).first()[0]
    split = (max_id + 1) * 7 // 10

    def _build_index() -> D.DedupIndexTables:
        import re as _re

        from sressentials_spark.scratch import register_scratch

        app = _re.sub(r"\W", "_", spark.sparkContext.applicationId)
        tag = _re.sub(
            r"\W", "_", os.path.basename(os.path.normpath(sf_dir))
        )
        base = f"/tmp/sressentials_dedup_index/{app}/{tag}_{split}"
        prefix = f"ssk_dedup_idx_{app}_{tag}_{split}"
        register_scratch(f"/tmp/sressentials_dedup_index/{app}")
        return D.build_dedup_index(
            docs.filter(F.col("doc_id") < split), base, prefix
        )

    index = get_or_build(
        spark, ("dedup_index", sf_dir, split), _build_index, tier="disk"
    )

    def _replay() -> str:
        stage = get_or_build(
            spark,
            ("dedup_ingest_stage", sf_dir, split),
            lambda: _stage_document_arrivals(spark, sf_dir, split),
            tier="disk",
        )
        d = scratch_dir("sressentials_dedup_ingest_out_")
        out = os.path.join(d, "verdicts")
        schema = spark.read.parquet(f"{stage}/arrivals").schema

        def triage(batch: DataFrame, batch_id: int) -> None:
            # Free only the batch's own shingle/signature frames: a
            # global release here would drop every other query's
            # shared frames mid-pass.
            with tracking() as frames:
                try:
                    D.minhash_history_triage(
                        batch.sparkSession, batch, index, split
                    ).write.mode("append").parquet(out)
                finally:
                    free(frames, blocking=True)

        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{stage}/arrivals")
            .writeStream.foreachBatch(triage)
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return out

    final = get_or_build(
        spark, ("dedup_ingest_stream", sf_dir, split), _replay, tier="disk"
    )
    return spark.read.parquet(final)
