"""Stream-static enrichment join: streaming events against a static
dimension, then a tumbling-window rollup.

This is the canonical production streaming shape the engine had not
yet covered: a fact STREAM joined per-micro-batch against slowly-
changing dimension TABLES (customer → nation here), with the join
small-side broadcast so each batch pays a map-side hash join and no
stateful join state at all (stream-static joins are stateless in
Structured Streaming — the static side is simply re-planned per
batch). The windowed aggregate's state is per
``(window, nation, event_type)`` — tiny and bounded by the watermark.

At 100 TB/day the identical plan runs continuously: the dimension
snapshot is refreshed by re-planning (or a Delta/lakehouse read per
batch), the broadcast is a few MB, and the only shuffle is the final
windowed partial aggregation on a low-cardinality composite key.

Money is integer cents end-to-end (``round(value*100)`` per event,
summed as BIGINT) so the DuckDB oracle restates the rollup exactly.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sressentials_spark.artifacts import get_or_build


def enriched_event_rollup_stream(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
    stream_dir: str | None = None,
) -> DataFrame:
    """Streaming purchases per (hour, nation, event_type) with revenue.

    The static side (customer ⋈ nation, projected to the two columns
    the join needs) is built ONCE from the batch reader and broadcast
    into every micro-batch's hash join. ``stream_dir`` points the
    STREAM side somewhere other than ``sf_dir`` (a staged arrival
    sequence) while the dimensions still load from ``sf_dir``.
    """
    dim = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_custkey", "c_nationkey")
        .join(
            spark.read.parquet(f"{sf_dir}/nation.parquet").select(
                "n_nationkey", "n_name"
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("c_custkey").alias("user_id"), F.col("n_name").alias("nation"))
    )
    src = stream_dir if stream_dir is not None else sf_dir
    schema = spark.read.option("pathGlobFilter", glob).parquet(src).schema
    reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        # Bounds each micro-batch to N files: tests use it to prove the
        # complete-mode rollup merges partial counts across batches.
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(src)
    events = stream.select(
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    joined = events.join(F.broadcast(dim), "user_id")
    return (
        joined.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "nation", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value_cents").alias("revenue_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "nation",
            "event_type",
            "n_events",
            "revenue_cents",
        )
    )


def run_enriched_rollup_batch(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
    stream_dir: str | None = None,
) -> DataFrame:
    """Replay the stream to completion (availableNow) and return the
    settled rollup."""
    from sressentials_spark.streaming import (
        ephemeral_checkpoint,
        DEFAULT_STATE_PARTITIONS,
        state_partitions,
    )

    run_key = f"{sf_dir}|{window}|{glob}|{max_files_per_trigger}|{stream_dir}"
    name = "enrich_" + hashlib.md5(run_key.encode()).hexdigest()[:10]
    with state_partitions(spark, DEFAULT_STATE_PARTITIONS):
        q = (
            enriched_event_rollup_stream(
                spark,
                sf_dir,
                window,
                glob=glob,
                max_files_per_trigger=max_files_per_trigger,
                stream_dir=stream_dir,
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", ephemeral_checkpoint())
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


#: Arrival files for the rate-limited multi-batch replay.
MULTIBATCH_FILES = 4


def _stage_ordered_arrivals(spark: SparkSession, sf_dir: str) -> str:
    """Write the events table as ``MULTIBATCH_FILES`` arrival files,
    range-partitioned AND mtime-stamped in event-time order, so an
    availableNow replay with ``maxFilesPerTrigger=1`` becomes a
    genuine multi-batch run with in-order arrivals (no late data —
    this twin isolates BATCH-BOUNDARY correctness of the windowed
    aggregate's state, the way the sessionize tests do for user
    state)."""
    import glob as globmod
    import os
    import time

    from sressentials_spark.scratch import scratch_dir
    from sressentials_spark.sources.tables import load_table

    d = scratch_dir("sressentials_enrich_stage_")
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    (
        e.repartitionByRange(MULTIBATCH_FILES, "ts")
        .write.mode("overwrite")
        .parquet(f"{d}/arrivals")
    )
    # File-stream sources process oldest-modified first; range output
    # part files sort in range (= event-time) order.
    base = time.time() - 3600
    for i, p in enumerate(sorted(globmod.glob(f"{d}/arrivals/part-*.parquet"))):
        os.utime(p, (base + i, base + i))
    return d


def run_enriched_rollup_multibatch(
    spark: SparkSession, sf_dir: str, window: str = "1 hour"
) -> DataFrame:
    """The enrich rollup replayed RATE-LIMITED: one staged arrival file
    per micro-batch (``maxFilesPerTrigger=1``), so the windowed
    aggregation state must merge partial counts across real batch
    boundaries — and the per-batch broadcast of the static dimension
    side is re-planned every batch, as in production. Must agree with
    the single-batch replay and the relational oracle exactly."""
    stage = get_or_build(
        spark,
        ("enrich_stage", sf_dir),
        lambda: _stage_ordered_arrivals(spark, sf_dir),
        tier="disk",
    )
    return run_enriched_rollup_batch(
        spark,
        sf_dir,
        window,
        glob="part-*.parquet",
        max_files_per_trigger=1,
        stream_dir=f"{stage}/arrivals",
    )
