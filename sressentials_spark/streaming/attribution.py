"""Stream-stream event-time interval join: view→purchase attribution.

The last uncovered Structured Streaming join shape: BOTH sides are
streams, so the join must buffer each side's rows in state until the
other side can no longer produce matches. That is exactly what the
event-time range condition + watermarks give the engine: a view can
only match purchases within [view.ts, view.ts + window], so once the
purchase-side watermark passes ``view.ts + window`` the buffered view
row is provably dead and the state store evicts it. Without the range
condition (or with unbounded intervals) stream-stream join state grows
forever — the condition is not an optimization, it is the contract
that makes the join runnable at 100 TB/day.

State size: views buffered for the attribution window (1 h of views
per user) + purchases until their watermark expires — both bounded by
(ingest rate × window), independent of stream lifetime. The join keys
on ``user_id`` (uniform), so the stateful shuffle is well distributed.

Executed with ``availableNow`` through a parquet sink (distributed
write + read-back — per-event output never materializes on the
driver) for oracle parity: the batch restatement is a plain self-join
with the same predicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sressentials_spark.artifacts import get_or_build


def _typed_stream(
    spark: SparkSession,
    sf_dir: str,
    event_type: str,
    prefix: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    schema = (
        spark.read.option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .parquet(sf_dir)
        .schema
    )
    reader = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger is not None:
        # Bounds each micro-batch to N files: tests use it to force a
        # multi-batch replay where one side's rows must be BUFFERED in
        # join state across the batch boundary to match the other.
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(sf_dir)
    return stream.filter(F.col("event_type") == event_type).select(
        F.col("user_id").alias(f"{prefix}_user_id"),
        F.col("event_id").alias(f"{prefix}_event_id"),
        F.col("ts").cast("timestamp").alias(f"{prefix}_ts"),
    )


def attribution_stream(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """(view, purchase) pairs for the same user with the purchase
    inside ``[view_ts, view_ts + window]`` — each side watermarked so
    join state is evictable."""
    views = _typed_stream(
        spark, sf_dir, "view", "view", glob, max_files_per_trigger
    ).withWatermark("view_ts", watermark)
    purchases = _typed_stream(
        spark, sf_dir, "purchase", "p", glob, max_files_per_trigger
    ).withWatermark("p_ts", watermark)
    joined = views.join(
        purchases,
        (F.col("view_user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("view_ts"))
        & (F.col("p_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {window}")),
    )
    return joined.select(
        F.col("view_user_id").alias("user_id"),
        F.col("view_event_id").alias("view_event_id"),
        F.col("p_event_id").alias("purchase_event_id"),
        F.col("view_ts").alias("view_ts"),
        F.col("p_ts").alias("purchase_ts"),
    )


def run_attribution_batch(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Replay both streams to completion (availableNow) and return the
    settled attribution pairs."""
    from sressentials_spark.streaming import (
        DEFAULT_STATE_PARTITIONS,
        replay_to_parquet,
        state_partitions,
    )

    with state_partitions(spark, DEFAULT_STATE_PARTITIONS):
        out, _ = replay_to_parquet(
            spark,
            attribution_stream(
                spark,
                sf_dir,
                window,
                glob=glob,
                max_files_per_trigger=max_files_per_trigger,
            ),
            "attr",
        )
    return out


def _stage_with_sentinels(spark: SparkSession, sf_dir: str) -> str:
    """Copy the events table plus one far-future sentinel per join side
    (a 'view' and a 'purchase' for user -1) into a staging dir. The
    sentinels' only job is to push BOTH streams' watermarks past every
    real event at the end of an availableNow replay, so the OUTER
    join's null-padded rows (emitted only once state provably expires)
    all flush. Disk artifact — staged once per session, removed at
    process exit."""
    from sressentials_spark.scratch import scratch_dir
    from sressentials_spark.sources.tables import load_table

    d = scratch_dir("sressentials_attr_outer_")
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    e.write.mode("overwrite").parquet(f"{d}/arrivals")
    max_ts = e.agg(F.max("ts")).first()[0]
    import pandas as pd

    sentinel_ts = (pd.Timestamp(max_ts) + pd.Timedelta(hours=6)).to_pydatetime()
    spark.createDataFrame(
        [(-1, -1, "view", sentinel_ts), (-2, -1, "purchase", sentinel_ts)],
        "event_id long, user_id long, event_type string, ts timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/sentinel")
    # sentinel must be the LAST file the source picks up
    import glob as globmod
    import os
    import time

    base = time.time() - 3600
    for i, p in enumerate(sorted(globmod.glob(f"{d}/arrivals/part-*.parquet"))):
        os.utime(p, (base + i, base + i))
    for p in globmod.glob(f"{d}/sentinel/part-*.parquet"):
        os.utime(p, (base + 900, base + 900))
    return d


def run_attribution_outer_batch(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER stream-stream attribution: every view emits — joined
    to its in-window purchases, or null-padded once the purchase-side
    watermark proves no match can still arrive. The null-padded rows
    are the part an inner join cannot give you ("views that never
    converted"), and they only exist because watermarked state expiry
    makes the non-match PROVABLE — the 100 TB contract is the same as
    the inner join's, plus the guarantee that left state is held until
    expiry. Sentinel rows (user -1) drive the final watermark and are
    filtered from the result."""
    from sressentials_spark.streaming import (
        DEFAULT_STATE_PARTITIONS,
        replay_to_parquet,
        state_partitions,
    )

    stage = get_or_build(
        spark,
        ("attr_outer_stage", sf_dir),
        lambda: _stage_with_sentinels(spark, sf_dir),
        tier="disk",
    )
    with state_partitions(spark, DEFAULT_STATE_PARTITIONS):
        views = _typed_stream(
            spark, stage, "view", "view", glob="part-*.parquet"
        ).withWatermark("view_ts", watermark)
        purchases = _typed_stream(
            spark, stage, "purchase", "p", glob="part-*.parquet"
        ).withWatermark("p_ts", watermark)
        joined = views.join(
            purchases,
            (F.col("view_user_id") == F.col("p_user_id"))
            & (F.col("p_ts") >= F.col("view_ts"))
            & (F.col("p_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {window}")),
            "leftOuter",
        ).select(
            F.col("view_user_id").alias("user_id"),
            F.col("view_event_id").alias("view_event_id"),
            F.col("p_event_id").alias("purchase_event_id"),
            F.col("view_ts").alias("view_ts"),
            F.col("p_ts").alias("purchase_ts"),
        )
        out, _ = replay_to_parquet(spark, joined, "attr_outer")
    return out.filter(F.col("user_id") >= 0)


def run_attribution_full_outer_batch(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """FULL OUTER stream-stream attribution — the last join type in the
    family: every view emits (matched or never-converted) AND every
    purchase emits (matched or organic, with a null view side). Both
    directions of non-match are provable only through watermarked
    state expiry, so state management is identical to the left-outer
    replay; the emitted key is the COALESCE of the two sides' user
    ids. Shares the sentinel-staged arrival artifact with the
    left-outer replay."""
    from sressentials_spark.streaming import (
        DEFAULT_STATE_PARTITIONS,
        replay_to_parquet,
        state_partitions,
    )

    stage = get_or_build(
        spark,
        ("attr_outer_stage", sf_dir),
        lambda: _stage_with_sentinels(spark, sf_dir),
        tier="disk",
    )
    with state_partitions(spark, DEFAULT_STATE_PARTITIONS):
        views = _typed_stream(
            spark, stage, "view", "view", glob="part-*.parquet"
        ).withWatermark("view_ts", watermark)
        purchases = _typed_stream(
            spark, stage, "purchase", "p", glob="part-*.parquet"
        ).withWatermark("p_ts", watermark)
        joined = views.join(
            purchases,
            (F.col("view_user_id") == F.col("p_user_id"))
            & (F.col("p_ts") >= F.col("view_ts"))
            & (F.col("p_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {window}")),
            "fullOuter",
        ).select(
            F.coalesce(F.col("view_user_id"), F.col("p_user_id")).alias("user_id"),
            F.col("view_event_id").alias("view_event_id"),
            F.col("p_event_id").alias("purchase_event_id"),
            F.col("view_ts").alias("view_ts"),
            F.col("p_ts").alias("purchase_ts"),
        )
        out, _ = replay_to_parquet(spark, joined, "attr_full")
    return out.filter(F.col("user_id") >= 0)
