"""Micro-batch ANN serving: IVF-PQ (IVFADC) top-k inside foreachBatch.

The batch ANN stack ends at a persisted IVF-PQ index — a
manifest-versioned store whose manifest holds the frozen trained-coarse
centroids and codebooks beside the residual code lists it names
(operators/ivf_versioned.py). This module puts a QUERY STREAM in front
of it: the online serving tier a vector store runs. Query batches
arrive as files; each micro-batch resolves its probed cells against
the manifest's coarse centroids (driver-side integer math — no corpus
job), scans ONLY those cells' files of the ~32×-compressed code table,
ranks candidates by broadcast ADC distance-table lookup, and appends
its top-k to a
parquet sink (executors score and write; the driver handles only the
batch's query ids — a few rows per request batch, the one collect a
serving tier legitimately pays).

Per micro-batch the cost is O(queries × nprobe/n_cells × compressed
corpus): the index is never rebuilt, never rescanned in full, never
held in memory between batches — the steady-state serving cost at
100 TB, where each query batch is a request window.

Batching invariance (what makes this oracle-checkable): every query
is scored independently against the same frozen artifacts — per-query
distance tables, per-query rank windows — so the union of per-batch
top-ks equals the one-shot batch IVFADC search over the same query
set, and the registered query shares ``sim_pq_adc_topk_ivf``'s DuckDB
oracle verbatim. Pinned row-for-row in
tests/test_streaming_ann_serving.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sressentials_spark.artifacts import get_or_build
from sressentials_spark.localrel import local_df
from sressentials_spark.scratch import scratch_dir
from sressentials_spark.streaming import (
    drain_foreach_batch,
    file_source,
    stage_arrivals,
)


def run_ivfpq_serving_stream(
    spark: SparkSession,
    sf_dir: str,
    base_path: str,
    version: int,
    query_ids: list[int],
    topk: int = 10,
) -> DataFrame:
    """Replay the staged query arrivals through the IVFADC serving
    tier (one file per trigger) against ``version`` of the IVF-PQ
    store at ``base_path`` and return the accumulated top-k table from
    the parquet sink."""
    from sressentials_spark.operators import ivf_versioned as IV
    from sressentials_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")

    def _replay() -> str:
        # The query ids as 2 id-ranged arrival files.
        stage = get_or_build(
            spark,
            ("ann_serving_stage", sf_dir, tuple(query_ids)),
            lambda: stage_arrivals(
                local_df(spark, [(int(q),) for q in query_ids], "query_id long"),
                2,
                "query_id",
            ),
            tier="disk",
        )
        out = os.path.join(scratch_dir("sressentials_ann_serve_out_"), "topk")

        def serve(batch: DataFrame, batch_id: int) -> None:
            # The one driver hop: this batch's request ids (a few rows
            # — the request window, never corpus data).
            qids = [int(r["query_id"]) for r in batch.select("query_id").collect()]
            if not qids:
                return
            IV.pq_adc_topk_ivfpq_versioned(
                batch.sparkSession,
                emb,
                base_path,
                qids,
                topk=topk,
                version=version,
            ).write.mode("append").parquet(out)

        drain_foreach_batch(
            file_source(
                spark,
                f"{stage}/arrivals",
                schema="query_id long",
                max_files_per_trigger=1,
            ),
            serve,
        )
        return out

    final = get_or_build(
        spark,
        ("ann_serving_stream", sf_dir, tuple(query_ids), topk),
        _replay,
        tier="disk",
    )
    return spark.read.parquet(final).select(
        "query_id", "neighbor_id", "adc_dist", F.col("rank").cast("long").alias("rank")
    )
