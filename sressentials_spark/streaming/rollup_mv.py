"""Incrementally-maintained rollup (streaming materialized view).

The third member of the foreachBatch family: where the CDC merge is
LATEST-WINS (cdc.py — naturally idempotent, re-merging a batch cannot
change the winner) this maintains an ADDITIVE aggregate — the daily ×
event-type rollup every analytics serving layer keeps warm — by
folding each micro-batch's partial aggregate into an on-disk MV:
read current MV, union the batch's partials, re-aggregate by key,
rewrite. Per-batch work is O(batch + |MV keys|), never O(event
history) — the incremental-view-maintenance property that makes a
100 TB/day rollup affordable.

Additive merges have the retry hazard latest-wins merges don't:
``foreachBatch`` guarantees batch-sequential execution but a batch MAY
RE-RUN after a failure, and re-adding a batch double-counts. The
standard recipe is an idempotence high-water mark — the MV commit
records the batch id it includes, and a merge for a batch id at or
below the mark is a no-op (pinned by tests/test_streaming_mv.py,
which replays a duplicate batch id by hand). A lakehouse table format
gets the same effect from ``txnAppId``/``txnVersion`` on the MERGE
commit; the marker file is that contract reduced to the filesystem.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sressentials_spark.artifacts import get_or_build
from sressentials_spark.scratch import scratch_dir
from sressentials_spark.streaming import drain_foreach_batch, file_source
from sressentials_spark.streaming.enrich import ordered_arrivals

#: MV key + additive measure columns.
_KEYS = ["day", "event_type"]


def _partials(batch: DataFrame) -> DataFrame:
    """A batch's partial aggregate in MV schema (integer cents so the
    additive merge is hash-exact)."""
    return (
        batch.select(
            F.to_date(F.col("ts").cast("timestamp")).alias("day"),
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy(*_KEYS)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("value_cents"),
        )
    )


def _merge_rollup(mv: DataFrame, partial: DataFrame) -> DataFrame:
    """Additive merge: existing MV rows + the batch's partials,
    re-summed per key (absent keys appear, shared keys add)."""
    return (
        mv.unionByName(partial)
        .groupBy(*_KEYS)
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("value_cents").cast("long").alias("value_cents"),
        )
    )


class RollupMvWriter:
    """foreachBatch sink maintaining the MV under ``base_dir`` with a
    committed-batch high-water mark for retry idempotence."""

    def __init__(self, base_dir: str):
        self.base = base_dir
        self.state = os.path.join(base_dir, "mv")
        self._marker = os.path.join(base_dir, "_committed_batch")

    def committed_batch(self) -> int:
        # ValueError too: a truncated/garbled marker (crash mid-write)
        # must read as "nothing committed" — the batch re-merges, which
        # the double-count window below already documents — rather than
        # kill the stream with an unhandled parse error.
        try:
            with open(self._marker) as fh:
                return int(fh.read().strip())
        except (OSError, ValueError):
            return -1

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        if batch_id <= self.committed_batch():
            # A retried (already-merged) batch: re-adding would
            # double-count the additive measures, so skip — the
            # idempotence contract a lakehouse MERGE expresses with
            # txnAppId/txnVersion.
            return
        partial = _partials(batch)
        sess = batch.sparkSession
        if os.path.exists(self.state):
            merged = _merge_rollup(sess.read.parquet(self.state), partial)
        else:
            merged = partial
        tmp = os.path.join(self.base, f"mv_b{batch_id}")
        merged.write.mode("overwrite").parquet(tmp)
        # Pointer swap then marker write. Not filesystem-atomic — a
        # real deployment gets snapshot-commit atomicity from the
        # table format; the replay harness needs only the
        # batch-sequential consistency foreachBatch guarantees.
        shutil.rmtree(self.state, ignore_errors=True)
        os.replace(tmp, self.state)
        with open(self._marker, "w") as fh:
            fh.write(str(batch_id))


def run_rollup_mv_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the staged event-time-ordered arrivals one file per
    micro-batch through the additive MV writer; return the final MV."""
    arrivals = ordered_arrivals(spark, sf_dir)

    def _run() -> str:
        writer = RollupMvWriter(scratch_dir("sressentials_rollup_mv_"))
        drain_foreach_batch(
            file_source(spark, arrivals, max_files_per_trigger=1), writer
        )
        assert writer.committed_batch() >= 1, (
            "rollup-MV replay must be genuinely multi-batch"
        )
        return writer.state

    final = get_or_build(spark, ("rollup_mv", sf_dir), _run, tier="disk")
    return spark.read.parquet(final)
