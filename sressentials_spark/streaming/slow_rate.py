"""Structured Streaming twin of the Mongo slow-query pipeline.

The reference is batch-only (whole-file materialization,
``Mongo/mongo_parser.py:216``); its natural streaming extension is a
file-source stream over arriving log files with a tumbling-window
slow-query rate. The batch semantics are the degenerate one-window
case, so the same parse/filter/project expressions are reused from the
batch plan modules.

Late data: ``withWatermark`` bounds state (events later than the
watermark horizon are dropped from their window); at 100 TB/day scale
the windowed count is a streaming partial aggregation whose state is
per-(window, collection) — small and bounded.

``run_slow_rate_batch`` executes the stream with an ``availableNow``
trigger into a memory sink and returns the settled result — streaming
execution, batch-shaped output, so the driver's DuckDB oracle can
check a Structured Streaming query like any other.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sressentials_spark.schemas import CORRUPT_COL, MONGO_ENVELOPE
from sressentials_spark.streaming import drain_to_memory

#: Timestamp format written by the log generator (ISO-8601, µs, Z).
TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"


def slow_rate_stream(
    spark: SparkSession,
    path: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming DataFrame: slow queries per (tumbling window, collection).

    ``path`` may be a log file (its directory is watched) or a directory.
    ``max_files_per_trigger`` bounds each micro-batch to N files — tests
    use it to force multi-batch replays that advance the watermark
    between batches (the late-data drop is unobservable single-batch).
    """
    import os

    if os.path.isfile(path):
        path = os.path.dirname(path)
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    lines = reader.text(path)
    parsed = F.from_json(
        F.col("value"),
        MONGO_ENVELOPE,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
    )
    ns = F.coalesce(F.col("parsed").getField("attr").getField("ns"), F.lit(""))
    ns_parts = F.split(ns, r"\.", -1)
    slow = (
        lines.withColumn("parsed", parsed)
        .filter(
            F.col("parsed").isNotNull()
            & F.col(f"parsed.{CORRUPT_COL}").isNull()
            & F.col("value").contains("Slow query")
        )
        .select(
            F.to_timestamp(
                F.col("parsed").getField("t").getField("$date"), TS_FORMAT
            ).alias("ts"),
            F.when(F.size(ns_parts) > 1, F.element_at(ns_parts, 2))
            .otherwise("N/A")
            .alias("collection"),
            F.coalesce(
                F.col("parsed").getField("attr").getField("durationMillis"), F.lit(0)
            ).alias("duration_ms"),
        )
    )
    return (
        slow.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("collection"))
        .agg(
            F.count(F.lit(1)).alias("n_slow"),
            F.max("duration_ms").alias("max_duration_ms"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "collection",
            "n_slow",
            "max_duration_ms",
        )
    )


def run_slow_rate_batch(
    spark: SparkSession, path: str, window: str = "1 hour"
) -> DataFrame:
    """Run the stream to completion (availableNow) and return the result."""
    return drain_to_memory(slow_rate_stream(spark, path, window), "slow_rate_", path)
