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

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sressentials_spark.artifacts import get_or_build
from sressentials_spark.sources.tables import load_table
from sressentials_spark.streaming import file_source, replay_to_parquet, stage_arrivals


def _typed_stream(
    spark: SparkSession,
    sf_dir: str,
    event_type: str,
    prefix: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    # max_files_per_trigger bounds each micro-batch to N files: tests
    # use it to force a multi-batch replay where one side's rows must
    # be BUFFERED in join state across the batch boundary to match the
    # other.
    stream = file_source(
        spark,
        sf_dir,
        glob=glob,
        recursive=True,
        max_files_per_trigger=max_files_per_trigger,
    )
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
    how: str = "inner",
) -> DataFrame:
    """(view, purchase) pairs for the same user with the purchase
    inside ``[view_ts, view_ts + window]`` — each side watermarked so
    join state is evictable. ``how`` is the join type; the emitted key
    is the COALESCE of the two sides' user ids, so a full outer join's
    organic purchases keep theirs."""
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
        how,
    )
    return joined.select(
        F.coalesce(F.col("view_user_id"), F.col("p_user_id")).alias("user_id"),
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


def _sentinel_stage(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events table plus one far-future sentinel per join
    side (a 'view' and a 'purchase' for user -1), the sentinels the
    LAST file the source picks up. Their only job is to push BOTH
    streams' watermarks past every real event at the end of an
    availableNow replay, so the OUTER join's null-padded rows (emitted
    only once state provably expires) all flush. Disk artifact —
    staged once per session, removed at process exit."""

    def _stage() -> str:
        e = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "ts"
        )
        max_ts = e.agg(F.max("ts")).first()[0]
        sentinel_ts = (pd.Timestamp(max_ts) + pd.Timedelta(hours=6)).to_pydatetime()
        sentinel = spark.createDataFrame(
            [(-1, -1, "view", sentinel_ts), (-2, -1, "purchase", sentinel_ts)],
            "event_id long, user_id long, event_type string, ts timestamp",
        )
        return stage_arrivals(e, tails={"sentinel": sentinel})

    return get_or_build(spark, ("attr_outer_stage", sf_dir), _stage, tier="disk")


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
    out, _ = replay_to_parquet(
        spark,
        attribution_stream(
            spark,
            _sentinel_stage(spark, sf_dir),
            window,
            watermark,
            glob="part-*.parquet",
            how="leftOuter",
        ),
        "attr_outer",
    )
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
    out, _ = replay_to_parquet(
        spark,
        attribution_stream(
            spark,
            _sentinel_stage(spark, sf_dir),
            window,
            watermark,
            glob="part-*.parquet",
            how="fullOuter",
        ),
        "attr_full",
    )
    return out.filter(F.col("user_id") >= 0)
