"""Micro-batch ingest INTO the manifest-versioned ANN index —
exactly-once via the manifest as the transaction log.

The batch lifecycle already has crash-atomic ingest
(operators/ivf_versioned.py): every batch commits one atomically
published manifest version. This module puts an ARRIVAL STREAM in
front of it: embedding batches land as files, and each Structured
Streaming micro-batch appends into the index inside ``foreachBatch``.

The hazard ``foreachBatch`` adds is REDELIVERY: Spark's contract is
at-least-once per batch id, and a blind replay of an append verb
would double-ingest the batch's rows. The recipe (the classic
transactional-sink pattern) is to make the sink itself remember the
batch id: every ingest stamps ``stream_batch_id`` into the manifest
it publishes (``manifest_extra``), and a redelivered batch whose id
is already committed — by ANY live or expired-but-visible version —
is skipped before any work is staged. Because the stamp and the rows
land in ONE atomic manifest publish, there is no window where the
rows committed but the stamp did not (or vice versa): the manifest IS
the transaction log, and ingest becomes exactly-once end to end.

Frozen-quantizer encoding is batch-invariant (each batch is encoded
under the same v1 quantizers, on either tier), so the streamed
index's final state is bit-equal to a one-shot build-then-ingest over
the same rows — which is what lets ``streaming_ann_ingest_recall``
share the batch ingest oracle. Pinned row-for-row in tests/test_streaming_ann_ingest.py,
including a full-redelivery replay (fresh checkpoint, same files)
committing nothing.

At 100 TB this is the online index-maintenance tier: arrival batches
are O(batch) encode + append jobs, the manifest publish is O(files)
JSON, and readers never block on the writer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sressentials_spark.operators import ivf_versioned as V
from sressentials_spark.operators.maintenance import manifest_versions, read_manifest
from sressentials_spark.streaming import drain_foreach_batch, file_source

_STAMP = "stream_batch_id"


def committed_stream_batch(base_path: str) -> int:
    """The newest committed micro-batch id, or -1: scan versions
    descending for the latest manifest carrying the stamp. Every
    descendant publish — ingest, rebalance, refresh, compact, delete —
    carries riders forward (``maintenance.publish_next``), so the
    LATEST manifest normally holds the high-water mark and the stamp
    survives maintenance followed by ``vacuum(keep_last=1)``; the
    descending scan is belt and braces for manifests published before
    that rule existed. The stamp rides in the version JSON itself: one
    small read per version, no data-file scan."""
    for v in reversed(manifest_versions(base_path)):
        man = read_manifest(base_path, v)
        if _STAMP in man:
            return int(man[_STAMP])
    return -1


def run_versioned_ingest_stream(
    spark: SparkSession,
    arrivals_dir: str,
    base_path: str,
    checkpoint_dir: str | None = None,
    id_col: str = "vec_id",
) -> None:
    """Replay the staged embedding arrivals (one file per trigger)
    through exactly-once versioned ingest into either tier: each
    micro-batch whose id is not yet stamped is encoded under the latest
    manifest's frozen quantizers (:func:`ivf_versioned.ingest_index_versioned`
    — centroids for cosine-IVF, coarse centroids + residual codebooks
    for IVF-PQ; O(batch), quantizer drift is the refresh gauge's
    business) and committed with its stamp in ONE atomic manifest
    publish; a redelivered batch whose id is already stamped is skipped
    driver-side before any staging. ``checkpoint_dir`` defaults to a
    fresh checkpoint; a fresh one over the same files re-delivers the
    whole stream. Frozen-quantizer encoding is batch-invariant, so on
    both tiers the streamed store's final state is bit-equal to the
    one-shot build-then-ingest over the same rows (pinned in
    tests/test_streaming_ann_ingest.py).

    An EMPTY arrival micro-batch never publishes its stamp (the ingest
    verb early-returns before staging when the encode yields no
    entries), so ``committed_stream_batch`` does not advance past it.
    That is harmless BY the exactly-once argument, not by accident:
    redelivering an unstamped empty batch re-ingests zero rows (a
    no-op), so the invariant that matters — no row commits twice —
    holds even though "stamp == highest delivered batch id" does not.
    Pinned by tests/test_streaming_ann_ingest.py::
    test_empty_batch_skips_stamp_and_redelivery_is_noop; if the
    early-return in the ingest verb ever changes, that test is the
    tripwire."""

    def ingest(batch: DataFrame, batch_id: int) -> None:
        if batch_id <= committed_stream_batch(base_path):
            return  # redelivered: its rows are already committed
        V.ingest_index_versioned(
            batch,
            base_path,
            id_col=id_col,
            manifest_extra={_STAMP: int(batch_id)},
        )

    drain_foreach_batch(
        file_source(
            spark,
            arrivals_dir,
            schema=f"{id_col} long, embedding array<float>",
            max_files_per_trigger=1,
        ),
        ingest,
        checkpoint_dir,
    )
