"""Structured Streaming operators and the one replay harness they share.

Every streaming query in this engine is a bounded REPLAY of a parquet
file source: open the source (:func:`file_source`), optionally over
arrival files staged in key order (:func:`stage_arrivals`), and drain
it to completion with an ``availableNow`` trigger through one of three
sinks — a complete-mode memory table for small aggregates
(:func:`drain_to_memory`), a parquet sink for per-event output
(:func:`replay_to_parquet`), or a ``foreachBatch`` callback
(:func:`drain_foreach_batch`). Operator modules build only the query
between source and sink.

Shared sizing rule: a streaming STATE partition count is baked into
the query at planning time from ``spark.sql.shuffle.partitions``, and
every state store instance pays fixed per-micro-batch maintenance
(load, commit, delta file, output part file) regardless of how little
state it holds. Unlike batch shuffles — where AQE coalesces
over-partitioning away — streaming state cannot coalesce after the
fact, so the count must be right at planning. The replays here hold
KBs of state, so the rule is ONE WAVE of task slots: every stateful
drain plans with ``min(DEFAULT_STATE_PARTITIONS, defaultParallelism)``
state partitions (:func:`state_partitions`) and restores the batch
default afterwards. More partitions than task slots run each
micro-batch's state tasks in several waves, each paying the fixed cost
again: on ``local[2]`` (4-core box, warm, median of 3) the sessionize
replay took 10.0 s with 8 state partitions and 4.75 s with 2, with
identical output. The cap of 8 keeps a many-core box from multiplying
the same fixed cost (the stream-stream attribution replay runs 8.8 s
with 32 state partitions and 2.9 s with 8). Production-scale state
would size the count from state bytes (≈ state_bytes / 200 MB)
instead; see SCALING.md.
"""

from __future__ import annotations

import glob as globmod
import hashlib
import json
import os
import time
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType

from sressentials_spark.scratch import scratch_dir

#: Ceiling on the state partition count of the availableNow replays in
#: this engine: test-scale state is KBs, so one wave of at most this
#: many task slots suffices (:func:`state_partitions`).
DEFAULT_STATE_PARTITIONS = 8


@contextmanager
def state_partitions(spark: SparkSession):
    """Temporarily pin ``spark.sql.shuffle.partitions`` (which fixes
    the streaming state partition count at query planning) to one wave
    of the session's task slots, capped at
    :data:`DEFAULT_STATE_PARTITIONS`."""
    n = min(DEFAULT_STATE_PARTITIONS, spark.sparkContext.defaultParallelism)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def ephemeral_checkpoint() -> str:
    """Explicit checkpoint dir for an availableNow replay.

    Without it Spark creates a temporary checkpoint under
    ``java.io.tmpdir`` — on this sandbox that is ext4 at 5-9 ms/fsync,
    and the commit/offset/state files fsync per micro-batch per state
    partition. Routing through :func:`scratch_dir` keeps every replay's
    checkpoint on the engine's fast scratch base (tmpfs here), removed
    at process exit exactly like the auto-created one."""
    return os.path.join(scratch_dir("sressentials_ckpt_"), "ckpt")


def stage_arrivals(
    frame: DataFrame,
    n_files: int | None = None,
    by: str | Column | None = None,
    tails: dict[str, DataFrame] | None = None,
    out_dir: str | None = None,
) -> str:
    """Stage a replay's input as arrival files and return the stage dir
    (``out_dir``, or a fresh scratch dir).

    ``frame`` lands in ``arrivals/`` — range-partitioned on ``by`` into
    ``n_files`` part files, or as written when ``n_files`` is None.
    Each tail frame (a sentinel row, a re-delivery) lands as ONE file
    in its own sub-dir, named by its key in ``tails``. A file source
    processes the oldest-modified file first, so the part files get
    strictly increasing mtimes in part (= key range) order and the
    tails are stamped after every part, in the order given: a replay
    at one file per trigger sees the ranges in key order, then the
    tails."""
    if out_dir is None:
        out_dir = scratch_dir("sressentials_arrivals_")
    if n_files is not None:
        frame = frame.repartitionByRange(n_files, by)
    frame.write.mode("overwrite").parquet(f"{out_dir}/arrivals")
    tails = tails or {}
    for name, tail in tails.items():
        tail.coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/{name}")
    base = time.time() - 3600
    parts = sorted(globmod.glob(f"{out_dir}/arrivals/part-*.parquet"))
    for i, p in enumerate(parts):
        os.utime(p, (base + i, base + i))
    tail_files = [
        p
        for name in tails
        for p in sorted(globmod.glob(f"{out_dir}/{name}/part-*.parquet"))
    ]
    for i, p in enumerate(tail_files):
        os.utime(p, (base + 900 + i, base + 900 + i))
    return out_dir


def file_source(
    spark: SparkSession,
    path: str,
    *,
    schema: str | StructType | None = None,
    glob: str | None = None,
    recursive: bool = False,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Open ``path`` as a streaming parquet file source.

    ``schema`` is a DDL string or a StructType; by default it is
    inferred by ``spark.read`` over the same files (``glob`` →
    ``pathGlobFilter``, ``recursive`` → ``recursiveFileLookup``).
    ``max_files_per_trigger`` bounds each micro-batch to N files —
    ``1`` replays staged arrivals one file per batch."""
    opts = {}
    if glob is not None:
        opts["pathGlobFilter"] = glob
    if recursive:
        opts["recursiveFileLookup"] = "true"
    if schema is None:
        schema = spark.read.options(**opts).parquet(path).schema
    if max_files_per_trigger is not None:
        opts["maxFilesPerTrigger"] = str(max_files_per_trigger)
    return spark.readStream.schema(schema).options(**opts).parquet(path)


def stage_source(spark: SparkSession, stage_dir: str, schema: str) -> DataFrame:
    """A :func:`stage_arrivals` dir as a file source: every part and
    tail file, one file per micro-batch, in stamped order."""
    return file_source(
        spark,
        stage_dir,
        schema=schema,
        glob="part-*.parquet",
        recursive=True,
        max_files_per_trigger=1,
    )


def _run(writer: DataStreamWriter, checkpoint: str) -> list[dict]:
    """Start a replay, wait for it to drain, return its progress."""
    q = (
        writer.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    q.awaitTermination()
    return [json.loads(p) if isinstance(p, str) else p for p in q.recentProgress]


def drain_to_memory(stream: DataFrame, prefix: str, run_key: str) -> DataFrame:
    """Run a stateful aggregate stream to completion in ``complete``
    mode into a memory table and return that table.

    The table is named ``prefix`` + a hash of ``run_key``, so re-running
    one replay overwrites its table: the driver holds at most one
    table per distinct replay. Only for small outputs — the memory
    sink keeps every output row on the driver."""
    spark = stream.sparkSession
    name = prefix + hashlib.md5(run_key.encode()).hexdigest()[:10]
    with state_partitions(spark):
        _run(
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete"),
            ephemeral_checkpoint(),
        )
    return spark.table(name)


def drain_foreach_batch(
    stream: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str | None = None,
) -> None:
    """Run ``stream`` to completion, handing each micro-batch to
    ``fn(batch, batch_id)``.

    ``checkpoint`` defaults to a fresh one (a fresh checkpoint over
    already-replayed files re-delivers them); pass a path to resume a
    replay from it, or to keep its commit log beside its output.
    The session's shuffle-partition setting is left alone: the batch
    jobs ``fn`` runs plan with it."""
    _run(stream.writeStream.foreachBatch(fn), checkpoint or ephemeral_checkpoint())


def replay_to_parquet(
    spark: SparkSession, stream_df: DataFrame, name: str
) -> tuple[DataFrame, list[dict]]:
    """Run an append-mode streaming DataFrame to completion
    (``availableNow``) through a PARQUET sink and read the result back
    as a batch DataFrame; also returns the query's progress records.

    The per-event replay harnesses (sessionize / dedup / attribution)
    previously used ``format("memory")``, which materializes every
    output row into DRIVER memory — fine for few-row aggregate
    streams, but an O(events) driver bottleneck for per-event outputs
    at scale. A parquet sink keeps the pipeline distributed end to
    end: executors write their own files, the driver tracks only the
    ``_spark_metadata`` commit log, and the read-back is an ordinary
    distributed scan — the exact shape of a production streaming job
    landing on object storage. Output + checkpoint live in a fresh
    temp dir per replay (no cross-run state bleed) and are removed at
    process exit.

    Progress records are returned so callers can surface watermark
    observability (``numRowsDroppedByWatermark``) — see
    :func:`sressentials_spark.streaming.sessionize.run_sessionize_ooo_batch`.
    """
    out = scratch_dir(f"sressentials_replay_{name}_")
    data_dir = os.path.join(out, "data")
    os.makedirs(data_dir, exist_ok=True)
    with state_partitions(spark):
        progress = _run(
            stream_df.writeStream.format("parquet")
            .option("path", data_dir)
            .outputMode("append"),
            os.path.join(out, "ckpt"),
        )
    # Explicit schema: a replay with zero output rows leaves no data
    # files, and schema inference over an empty dir would fail.
    return spark.read.schema(stream_df.schema).parquet(data_dir), progress


def dropped_by_watermark(progress: list[dict]) -> int:
    """Total rows Spark's late-data filter silently discarded across a
    replay, summed from the per-batch state-operator metrics. Nonzero
    means arrival disorder exceeded the watermark delay — the output
    is missing rows, and a production job should alert on it."""
    return sum(
        int(op.get("numRowsDroppedByWatermark", 0))
        for p in progress
        for op in p.get("stateOperators", [])
    )
