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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sressentials_spark.artifacts import get_or_build
from sressentials_spark.sources.tables import load_table
from sressentials_spark.streaming import drain_to_memory, file_source, stage_arrivals


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
    # max_files_per_trigger bounds each micro-batch to N files: tests
    # use it to prove the complete-mode rollup merges partial counts
    # across batches.
    stream = file_source(
        spark,
        stream_dir if stream_dir is not None else sf_dir,
        glob=glob,
        max_files_per_trigger=max_files_per_trigger,
    )
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
    stream = enriched_event_rollup_stream(
        spark,
        sf_dir,
        window,
        glob=glob,
        max_files_per_trigger=max_files_per_trigger,
        stream_dir=stream_dir,
    )
    run_key = f"{sf_dir}|{window}|{glob}|{max_files_per_trigger}|{stream_dir}"
    return drain_to_memory(stream, "enrich_", run_key)


#: Arrival files for the rate-limited multi-batch replay.
MULTIBATCH_FILES = 4


def ordered_arrivals(spark: SparkSession, sf_dir: str) -> str:
    """The events table staged as ``MULTIBATCH_FILES`` event-time-
    ranged arrival files, once per session (disk artifact shared by
    the enrich, CDC and rollup-MV replays), so a replay with
    ``maxFilesPerTrigger=1`` becomes a genuine multi-batch run with
    in-order arrivals (no late data — this twin isolates
    BATCH-BOUNDARY correctness of the windowed aggregate's state, the
    way the sessionize tests do for user state). Returns the
    ``arrivals`` dir."""

    def _stage() -> str:
        e = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "ts", "value"
        )
        return stage_arrivals(e, MULTIBATCH_FILES, "ts")

    stage = get_or_build(spark, ("enrich_stage", sf_dir), _stage, tier="disk")
    return f"{stage}/arrivals"


def run_enriched_rollup_multibatch(
    spark: SparkSession, sf_dir: str, window: str = "1 hour"
) -> DataFrame:
    """The enrich rollup replayed RATE-LIMITED: one staged arrival file
    per micro-batch (``maxFilesPerTrigger=1``), so the windowed
    aggregation state must merge partial counts across real batch
    boundaries — and the per-batch broadcast of the static dimension
    side is re-planned every batch, as in production. Must agree with
    the single-batch replay and the relational oracle exactly."""
    return run_enriched_rollup_batch(
        spark,
        sf_dir,
        window,
        glob="part-*.parquet",
        max_files_per_trigger=1,
        stream_dir=ordered_arrivals(spark, sf_dir),
    )
