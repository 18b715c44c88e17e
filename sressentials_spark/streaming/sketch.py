"""Streaming HLL: the distinct sketch's register stage as a stateful
stream.

The batch sketch (:mod:`sressentials_spark.operators.sketch`) splits
into registers (``groupBy(bucket).max(rho)``) and a one-row finish
fold. The register stage is streaming-legal as-is: ``max`` per bucket
is a supported stateful aggregation with exactly ``m`` state rows
regardless of input volume — each micro-batch's partial maxes merge
into state, which IS the HLL union property, live. Two chained
stateful aggregations aren't allowed in one streaming query, so the
finish fold runs as a trivial batch step over the ≤ ``m`` settled
register rows (at production scale that is the pattern anyway: the
stream maintains registers continuously; any reader folds them to an
estimate on demand).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sressentials_spark.localrel import local_df

from sressentials_spark.operators.sketch import (
    cms_counters,
    cms_probe_from_counters,
    finish_estimate,
    hll_registers,
)
from sressentials_spark.streaming import drain_to_memory, file_source


def hll_register_stream(
    spark: SparkSession, sf_dir: str, col: str = "user_id",
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming ``(bucket, m_j)`` registers over a parquet file source."""
    return hll_registers(
        file_source(
            spark, sf_dir, glob=glob, max_files_per_trigger=max_files_per_trigger
        ),
        col,
    )


def run_hll_stream_batch(
    spark: SparkSession, sf_dir: str, col: str = "user_id",
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
    with_exact: bool = False,
) -> DataFrame:
    """Replay the register stream (availableNow, complete mode), then
    fold the settled registers to the estimate. ``with_exact=True``
    appends a batch-side exact count as a self-validation column —
    tests only; the shipped query omits it (it is the computation the
    sketch avoids)."""
    regs = drain_to_memory(
        hll_register_stream(spark, sf_dir, col, glob, max_files_per_trigger),
        "stream_hll_",
        f"{sf_dir}|{col}|{glob}|{max_files_per_trigger}",
    )
    out = finish_estimate(regs)
    if with_exact:
        exact = (
            spark.read.option("pathGlobFilter", glob)
            .parquet(sf_dir)
            .filter(F.col(col).isNotNull())
            .agg(F.count_distinct(F.col(col)).alias("exact_distinct"))
        )
        out = out.crossJoin(exact)
    return out


def run_histogram_stream_batch(
    spark: SparkSession, sf_dir: str,
    col: str = "value",
    quantiles: list[int] = (50, 90, 99),
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Histogram bin counts maintained as a stateful stream, folded to
    quantiles after the replay settles.

    Same split as the HLL/CMS streams: the bin-count stage
    (``groupBy(bin).count()``) is a streaming-supported stateful agg
    with ≤ ``HIST_BINS`` state rows — per-micro-batch partial counts
    merging into state is the histogram's elementwise-``+`` union —
    and the cumulative/lookup fold runs as a batch step over the
    settled (bounded) bin table.
    """
    from pyspark.sql import Window

    from sressentials_spark.operators.sketch import HIST_BINS

    src = file_source(
        spark, sf_dir, glob=glob, max_files_per_trigger=max_files_per_trigger
    ).filter(F.col(col).isNotNull())
    binned = src.select(
        F.least(F.lit(HIST_BINS - 1), F.floor(F.col(col)).cast("long")).alias(
            "bin"
        )
    )
    counts = drain_to_memory(
        binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n")),
        "stream_hist_",
        f"{sf_dir}|{col}|{glob}|{max_files_per_trigger}|hist",
    )
    w_cum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = counts.select(
        "bin",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_all).alias("total"),
    )
    qs = local_df(spark, [(int(x),) for x in quantiles], "quantile long")
    return (
        qs.crossJoin(cum)
        .filter(F.col("cum") * 100 >= F.col("quantile") * F.col("total"))
        .groupBy("quantile")
        .agg(
            F.min("bin").alias("bin"),
            F.min_by(F.col("cum"), F.col("bin")).alias("n_le"),
        )
        .select(
            "quantile",
            "bin",
            F.col("bin").cast("double").alias("bin_lo"),
            (F.col("bin") + 1).cast("double").alias("bin_hi"),
            "n_le",
        )
        .orderBy("quantile")
    )


def run_cms_stream_batch(
    spark: SparkSession, sf_dir: str, probe_keys: list[int],
    col: str = "user_id",
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
    heavy_pm: int = 7,
) -> DataFrame:
    """Count-Min counters maintained as a stateful stream, probed after
    the replay settles.

    The counter stage (``groupBy(r, c).count()``) is streaming-legal
    as-is: a supported stateful aggregation with at most ``d*w`` state
    rows regardless of stream volume — each micro-batch's partial
    counts merge into state, which IS the CMS union (elementwise
    ``+``), live. The probe fold and the scalar stream total run as a
    trivial batch step over the settled counters, mirroring the HLL
    split above (chained stateful aggs aren't allowed in one streaming
    query; at production scale the stream maintains counters
    continuously and readers probe them on demand).
    """
    counters = drain_to_memory(
        cms_counters(
            file_source(
                spark, sf_dir, glob=glob, max_files_per_trigger=max_files_per_trigger
            ),
            col,
        ),
        "stream_cms_",
        f"{sf_dir}|{col}|{glob}|{max_files_per_trigger}|cms",
    )
    total = (
        spark.read.option("pathGlobFilter", glob)
        .parquet(sf_dir)
        .filter(F.col(col).isNotNull())
        .agg(F.count(F.lit(1)).alias("total_rows"))
    )
    return cms_probe_from_counters(
        counters, total, col, probe_keys, heavy_pm=heavy_pm
    )


def run_drift_stream_batch(
    spark: SparkSession,
    sf_dir: str,
    *,
    split_expr: str,
    glob: str = "events.parquet",
    group_col: str = "event_type",
    value_col: str = "value",
    bin_width: float = 50.0,
    n_bins: int = 10,
    psi_alarm: float = 0.25,
) -> DataFrame:
    """Distribution-drift monitoring as a live stream: both cohorts'
    histograms maintained in streaming state, PSI folded on demand.

    Same split as the HLL/histogram streams: the per-(group, cohort,
    bin) count is a supported stateful aggregation whose state is
    histogram-sized (|groups| x 2 x n_bins rows) regardless of input
    volume — each micro-batch's partial counts merge additively into
    state — and the PSI/TVD fold (:func:`sressentials_spark.operators.
    drift.drift_from_counts`) runs as a batch step over the settled
    bin table. In production the stream runs continuously and any
    reader folds the live state to the current drift score; the
    availableNow replay here drains the same topology to completion so
    it must agree bit-for-bit with the batch audit's oracle.
    """
    from sressentials_spark.operators.drift import bin_cohorts, drift_from_counts

    src = file_source(spark, sf_dir, glob=glob)
    # NULL metric values are dropped inside bin_cohorts — the single
    # gate shared with the batch audit and the oracles, so batch,
    # stream, and DuckDB agree on NULL handling by construction.
    binned = bin_cohorts(
        src,
        split_expr=split_expr,
        group_col=group_col,
        value_col=value_col,
        bin_width=bin_width,
        n_bins=n_bins,
    )
    settled = drain_to_memory(
        binned.groupBy("grp", "is_ref", "bin").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        ),
        "stream_drift_",
        f"{sf_dir}|{glob}|{split_expr}|{group_col}|{value_col}|drift",
    )
    # The settled state is histogram-sized (|groups| x 2 x n_bins rows)
    # so rematerializing it driver-side is O(sketch), not O(corpus) —
    # and it gives the PSI fold a fresh leaf plan: the fold self-joins
    # the count table (bin grid + totals), which DeduplicateRelations
    # does not resolve over a streaming MemorySink view (internal
    # "Conflicting attributes" analyzer error on Spark 4.1).
    state = spark.createDataFrame(settled.toPandas(), settled.schema)
    counts = state.groupBy("grp", "bin").agg(
        F.sum(F.when(F.col("is_ref"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("c_ref"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(F.col("n")))
        .cast("long")
        .alias("c_cur"),
    )
    return drift_from_counts(
        counts, group_col=group_col, n_bins=n_bins, psi_alarm=psi_alarm
    )


def run_f2_stream_batch(
    spark: SparkSession,
    sf_dir: str,
    col: str = "user_id",
    glob: str = "events.parquet",
) -> DataFrame:
    """F2 / self-join-size estimation over STREAMED Count-Min counters.

    Identical counter topology to :func:`run_cms_stream_batch`
    (stateful ``groupBy(r, c).count()``, <= d*w state rows, additive
    micro-batch merge = CMS union); the F2 fold — min over hash rows
    of the bucket-wise squared sums — runs batch-side over the settled
    counters, next to the exact F2 baseline (a batch groupBy over the
    same files). Shares the batch query's oracle verbatim: the
    streaming counter state must equal the batch counter table
    bit-for-bit, or the min-of-squares fold diverges.
    """
    counters = drain_to_memory(
        cms_counters(file_source(spark, sf_dir, glob=glob), col),
        "stream_f2_",
        f"{sf_dir}|{col}|{glob}|f2",
    )
    est = (
        counters.groupBy("r")
        .agg(F.sum(F.col("n") * F.col("n")).cast("long").alias("s"))
        .agg(F.min("s").cast("long").alias("cms_f2_estimate"))
    )
    exact = (
        spark.read.option("pathGlobFilter", glob)
        .parquet(sf_dir)
        .filter(F.col(col).isNotNull())
        .groupBy(col)
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
        .agg(F.sum(F.col("f") * F.col("f")).cast("long").alias("exact_f2"))
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_f2",
        "cms_f2_estimate",
        F.expr("((cms_f2_estimate - exact_f2) * 1000) div exact_f2").alias(
            "over_permille"
        ),
    )
