"""Micro-batch quality scoring against a FROZEN unigram LM.

The online twin of ``curation_perplexity_filter`` and the language-
model sibling of the IVF-PQ serving tier (streaming/ann_serving.py):
a model trained once on the historical corpus is persisted as a
vocabulary-sized parquet artifact; new documents arrive as a file
stream and each micro-batch scores them by broadcast dictionary
lookup inside ``foreachBatch``, appending per-document log-loss rows
to a parquet sink. Out-of-vocabulary terms are charged the model's
Laplace unseen mass, so the frozen model gives EVERY future document
a well-defined score without retraining.

Per micro-batch the cost is O(batch tokens) plus a broadcast of the
model table — no corpus rescan, no model rebuild: the steady-state
ingest-gate cost at 100 TB. Scoring is per-document independent and
the model is frozen, so the union of per-batch outputs equals the
one-shot batch scoring of the same documents — the batching
invariance that lets the registered query share the batch split
oracle verbatim (pinned in tests/test_lm_scoring.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sressentials_spark.artifacts import get_or_build
from sressentials_spark.scratch import scratch_dir
from sressentials_spark.sources.tables import load_table
from sressentials_spark.streaming import (
    drain_foreach_batch,
    file_source,
    stage_arrivals,
)


def build_lm_artifact(
    spark: SparkSession, train_docs: DataFrame, out_dir: str
) -> str:
    """Persist the frozen unigram LM (term, nll_micro + scalars) as a
    parquet artifact at ``out_dir``."""
    from sressentials_spark.operators.curation import unigram_lm

    unigram_lm(train_docs).write.mode("overwrite").parquet(out_dir)
    return out_dir


def run_lm_scoring_stream(
    spark: SparkSession,
    sf_dir: str,
    *,
    train_pct: int = 70,
    n_files: int = 2,
) -> DataFrame:
    """Train on the first ``train_pct``% of documents (by doc_id
    decile), stream the rest through the frozen-model scorer (one
    file per trigger), and return the accumulated score table."""
    from sressentials_spark.operators.curation import score_unigram_logloss

    assert train_pct % 10 == 0, "train_pct must be a whole decile"
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    decile = F.pmod(F.col("doc_id"), F.lit(10))
    cut = train_pct // 10

    model_path = get_or_build(
        spark,
        ("unigram_lm", sf_dir, train_pct),
        lambda: build_lm_artifact(
            spark,
            docs.filter(decile < cut),
            os.path.join(scratch_dir("sressentials_lm_"), "model"),
        ),
        tier="disk",
    )

    def _replay() -> str:
        # The incoming documents as id-ranged arrival files.
        d = stage_arrivals(docs.filter(decile >= cut), n_files, "doc_id")
        out = os.path.join(d, "scores")
        model = spark.read.parquet(model_path)

        def score(batch: DataFrame, batch_id: int) -> None:
            score_unigram_logloss(batch, model).write.mode("append").parquet(out)

        drain_foreach_batch(
            file_source(
                spark,
                f"{d}/arrivals",
                schema="doc_id long, text string",
                max_files_per_trigger=1,
            ),
            score,
        )
        return out

    final = get_or_build(
        spark,
        ("lm_scoring_stream", sf_dir, train_pct, n_files),
        _replay,
        tier="disk",
    )
    return spark.read.parquet(final).select(
        "doc_id", "n_tokens", "nll_micro_total", "avg_nll_micro", "keep"
    )
