"""Streaming sketches: one replay for every mergeable sketch.

Each sketch in :mod:`sressentials_spark.operators.sketch` and
:mod:`sressentials_spark.operators.drift` is a
:class:`~sressentials_spark.operators.sketch.Sketch` — a state stage
and a fold. The state stage (HLL ``max`` per bucket, CMS and histogram
counts, drift cohort counts) is a streaming-supported stateful
aggregation whose state is sketch-bounded however long the stream
runs: each micro-batch's partials merge into state, which IS the
sketch-union property, live. Two chained stateful aggregations are not
allowed in one streaming query, so the fold runs as a batch step over
the settled state — at production scale that is the pattern anyway:
the stream maintains the state continuously and any reader folds it on
demand. The fold is the batch operator's own, so the stream and batch
answers agree by construction and share one oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from sressentials_spark.localrel import local_df
from sressentials_spark.streaming import drain_to_memory, file_source


def run_sketch_stream(
    spark: SparkSession,
    sf_dir: str,
    state: Callable[[DataFrame], DataFrame],
    fold: Callable[[DataFrame, DataFrame], DataFrame],
    glob: str = "events.parquet",
) -> DataFrame:
    """Replay ``sf_dir``'s ``glob`` files one file per micro-batch
    through ``state`` (availableNow, complete mode), then apply
    ``fold`` to the settled state. ``fold``'s source argument is the
    batch read of the same files (only the F2 fold reads it)."""
    src = spark.read.option("pathGlobFilter", glob).parquet(sf_dir)
    settled = drain_to_memory(
        state(
            file_source(
                spark, sf_dir, schema=src.schema, glob=glob, max_files_per_trigger=1
            )
        ),
        "stream_sketch_",
        f"{sf_dir}|{glob}",
    )
    # The settled state is sketch-bounded, so rematerializing it on the
    # driver is O(sketch), not O(corpus), and gives every fold a fresh
    # leaf plan: the drift fold self-joins its count table (bin grid +
    # totals), and DeduplicateRelations does not resolve a self-join
    # over a streaming MemorySink view ("Conflicting attributes"
    # analyzer error on Spark 4.1).
    return fold(local_df(spark, settled.collect(), settled.schema), src)
