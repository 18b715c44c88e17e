"""Columnar-layout fixtures: ORC, partitioned, clustered, Z-ordered.

Disk-backed layout artifacts behind the format/layout-breadth queries
(built once per (session, sf_dir) as disk-tier
``artifacts.get_or_build`` entries, removed at exit via
``scratch_dir``):

* an ORC copy of ``documents`` — same corpus through Spark's other
  built-in columnar format, proving the engine's scan/pushdown story
  is format-agnostic (ORC carries its own min/max indexes and
  PushedFilters the way parquet does);
* a date-partitioned parquet copy of ``events`` (``d=YYYY-MM-DD/``
  directories) — THE canonical 100 TB fact-table layout: a time-range
  predicate becomes partition PRUNING (directories never opened, not
  just row groups skipped), the difference between scanning a week
  and scanning three years;
* a shipdate-RANGE-CLUSTERED copy of ``lineitem`` — the unpartitioned
  complement: disjoint per-file footer ranges let pushed-down time
  predicates skip whole files through min/max statistics;
* a Z-ORDERED copy of ``lineitem`` — the two-column generalization:
  normalized Morton interleave of (partkey, shipdate) so one sort
  order yields usable skipping on EITHER column (what Delta/Iceberg
  Z-ordering automates).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sressentials_spark.artifacts import get_or_build
from sressentials_spark.scratch import scratch_dir
from sressentials_spark.sources.tables import history_split, load_table

#: File count for the rendered layouts — small but >1 so scans are
#: genuinely multi-task.
LAYOUT_FILES = 4


def _render_documents_orc(spark: SparkSession, sf_dir: str) -> str:
    d = scratch_dir("sressentials_orc_docs_")
    out = os.path.join(d, "documents_orc")
    (
        load_table(spark, sf_dir, "documents")
        .repartition(LAYOUT_FILES)
        .write.mode("overwrite")
        .orc(out)
    )
    return out


def ensure_documents_orc(spark: SparkSession, sf_dir: str) -> str:
    """Render (once per session/sf_dir) ``documents`` as ORC."""
    return get_or_build(
        spark,
        ("orc_docs", sf_dir),
        lambda: _render_documents_orc(spark, sf_dir),
        tier="disk",
    )


def _render_documents_generations(spark: SparkSession, sf_dir: str) -> str:
    """Two parquet 'generations' of the corpus in one directory: the
    older 70% written WITHOUT ``quality_tier``, the newer 30% WITH it —
    the additive-schema-evolution shape every long-lived 100 TB table
    accretes (new enrichment columns appear mid-stream; history is
    never rewritten)."""
    d = scratch_dir("sressentials_docs_gen_")
    out = os.path.join(d, "documents_gen")
    docs = load_table(spark, sf_dir, "documents")
    split = history_split(docs, "doc_id")
    (
        docs.filter(F.col("doc_id") < split)
        .repartition(2)
        .write.mode("overwrite")
        .parquet(out)
    )
    (
        docs.filter(F.col("doc_id") >= split)
        .withColumn(
            "quality_tier",
            F.when(F.col("n_chars") >= 500, F.lit("long")).otherwise(
                F.lit("short")
            ),
        )
        .repartition(2)
        .write.mode("append")
        .parquet(out)
    )
    return out


def ensure_documents_generations(spark: SparkSession, sf_dir: str) -> str:
    """Render (once per session/sf_dir) the two-generation corpus."""
    return get_or_build(
        spark,
        ("docs_generations", sf_dir),
        lambda: _render_documents_generations(spark, sf_dir),
        tier="disk",
    )


def _render_events_partitioned(spark: SparkSession, sf_dir: str) -> str:
    d = scratch_dir("sressentials_events_part_")
    out = os.path.join(d, "events_by_day")
    (
        load_table(spark, sf_dir, "events")
        .withColumn("d", F.to_date("ts"))
        # One file per (day) partition directory: repartition on the
        # partition column so the write doesn't emit LAYOUT_FILES tiny
        # files per day (the small-files problem, self-inflicted).
        .repartition("d")
        .write.mode("overwrite")
        .partitionBy("d")
        .parquet(out)
    )
    return out


def ensure_events_partitioned(spark: SparkSession, sf_dir: str) -> str:
    """Render (once per session/sf_dir) ``events`` day-partitioned."""
    return get_or_build(
        spark,
        ("events_partitioned", sf_dir),
        lambda: _render_events_partitioned(spark, sf_dir),
        tier="disk",
    )


def ensure_events_partitioned_repair(spark: SparkSession, sf_dir: str) -> str:
    """A PRIVATE day-partitioned layout for the corrupt-then-rebuild
    repair drill. The drill deliberately clobbers a partition before
    rebuilding it; running it against the shared
    ``ensure_events_partitioned`` artifact would leave that layout
    half-corrupted for the rest of the session if the run died between
    the corrupting overwrite and the rebuild, silently poisoning every
    later reader (e.g. ``partitioned_events_pruned_week``). A dedicated
    artifact key gives the drill its own copy to break and fix."""
    return get_or_build(
        spark,
        ("events_partitioned_repair", sf_dir),
        lambda: _render_events_partitioned(spark, sf_dir),
        tier="disk",
    )


def pruned_week_rollup(
    spark: SparkSession, sf_dir: str, start: str = "2024-01-08", end: str = "2024-01-14"
) -> DataFrame:
    """Per-(day, type) rollup over ONE week of the day-partitioned
    events layout. The ``d`` predicate is a partition filter: Spark
    prunes to the 7 matching ``d=.../`` directories at planning time
    (PartitionFilters in the scan node, pinned by
    tests/test_columnar_layout.py) — the other 23 days' files are
    never listed into tasks, let alone read."""
    path = ensure_events_partitioned(spark, sf_dir)
    ev = spark.read.parquet(path)
    return (
        ev.filter((F.col("d") >= F.lit(start)) & (F.col("d") <= F.lit(end)))
        .groupBy("d", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0
            ).alias("sum_value"),
        )
    )


def _render_lineitem_clustered(spark: SparkSession, sf_dir: str) -> str:
    d = scratch_dir("sressentials_lineitem_clust_")
    out = os.path.join(d, "lineitem_by_shipdate")
    (
        load_table(spark, sf_dir, "lineitem")
        # Range-cluster on the hot predicate column: files end up with
        # DISJOINT l_shipdate ranges (pinned via parquet footer stats
        # in tests), so a time filter skips whole files/row groups via
        # min/max statistics — the unpartitioned complement of
        # directory pruning (what Delta/Iceberg data-skipping and
        # Z-ordering generalize to several columns).
        .repartitionByRange(2 * LAYOUT_FILES, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    return out


def ensure_lineitem_clustered(spark: SparkSession, sf_dir: str) -> str:
    """Render (once per session/sf_dir) ``lineitem`` range-clustered
    on ``l_shipdate``."""
    return get_or_build(
        spark,
        ("lineitem_clustered", sf_dir),
        lambda: _render_lineitem_clustered(spark, sf_dir),
        tier="disk",
    )


def clustered_month_rollup(
    spark: SparkSession,
    sf_dir: str,
    start: str = "1997-06-01",
    end: str = "1997-07-01",
) -> DataFrame:
    """Per-day line count + revenue for ONE month of the
    shipdate-clustered lineitem layout. The pushed-down time filter
    meets row groups whose footer min/max are disjoint from the month
    for all but ~1-2 of the files, so the scan READS only those —
    statistics-level skipping with no partition directories at all
    (tests/test_columnar_layout.py pins the disjointness and the
    pushdown)."""
    path = ensure_lineitem_clustered(spark, sf_dir)
    li = spark.read.parquet(path)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit(start).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(end).cast("timestamp"))
        )
        .groupBy(F.to_date("l_shipdate").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                )
                / 100.0
            ).alias("revenue"),
        )
    )


#: Bit width per dimension of the Z-order interleave (each dimension
#: is normalized onto this grid; two 10-bit dims -> one 20-bit
#: z-value, 1024 cells per side — plenty for file-level skipping).
ZORDER_BITS = 10


def zvalue(x, y, bits: int = ZORDER_BITS):
    """Morton/Z-order interleave of two non-negative integer columns:
    bit i of ``x`` lands at position 2i, bit i of ``y`` at 2i+1. Pure
    shift/mask codegen — no UDF."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        # Disjoint bit positions, so arithmetic + IS the bitwise OR
        # (and stays a plain codegen'd sum).
        z = (
            z
            + F.shiftleft(
                F.shiftright(x, i).bitwiseAND(F.lit(1)).cast("long"), 2 * i
            )
            + F.shiftleft(
                F.shiftright(y, i).bitwiseAND(F.lit(1)).cast("long"), 2 * i + 1
            )
        )
    return z


def _render_lineitem_zordered(spark: SparkSession, sf_dir: str) -> str:
    d = scratch_dir("sressentials_lineitem_zorder_")
    out = os.path.join(d, "lineitem_zorder")
    li = load_table(spark, sf_dir, "lineitem")
    day = F.datediff(F.to_date("l_shipdate"), F.lit("1995-01-01")).cast("long")
    # Normalize BOTH dimensions onto the same 2^bits grid before
    # interleaving — with raw values, the wider dimension's high bits
    # monopolize the top z bits and the narrower dimension gets no
    # locality at all. One scalar (min, max) collect at build time.
    lo_pk, hi_pk, lo_d, hi_d = (
        li.agg(
            F.min("l_partkey"),
            F.max("l_partkey"),
            F.min(day),
            F.max(day),
        ).first()
    )
    grid = 1 << ZORDER_BITS

    def norm(c, lo: int, hi: int):
        span = max(int(hi) - int(lo) + 1, 1)
        return F.least(
            F.lit(grid - 1),
            ((c - F.lit(int(lo))) * grid / F.lit(span)).cast("long"),
        )

    (
        li.withColumn(
            "z",
            zvalue(
                norm(F.col("l_partkey").cast("long"), lo_pk, hi_pk),
                norm(day, lo_d, hi_d),
            ),
        )
        # Contiguous z-ranges per file: each file then covers a SMALL
        # rectangle-union in (partkey, shipdate) space, so footer
        # min/max stats give non-trivial skipping on EITHER column —
        # what single-column range clustering cannot do for the other
        # column (its files span that column's whole domain).
        .repartitionByRange(2 * LAYOUT_FILES, "z")
        .sortWithinPartitions("z")
        .write.mode("overwrite")
        .parquet(out)
    )
    return out


def ensure_lineitem_zordered(spark: SparkSession, sf_dir: str) -> str:
    """Render (once per session/sf_dir) ``lineitem`` Z-order-clustered
    on (l_partkey, l_shipdate)."""
    return get_or_build(
        spark,
        ("lineitem_zordered", sf_dir),
        lambda: _render_lineitem_zordered(spark, sf_dir),
        tier="disk",
    )


def zorder_part_band_rollup(
    spark: SparkSession, sf_dir: str, lo: int = 10, hi: int = 19
) -> DataFrame:
    """Per-part revenue for a narrow partkey band over the Z-ordered
    layout. The pushed-down partkey predicate meets per-file footer
    ranges that each cover only a fraction of the partkey domain —
    even though the SAME layout also localizes shipdate (two-column
    skipping from one sort order; both pinned by
    tests/test_columnar_layout.py)."""
    path = ensure_lineitem_zordered(spark, sf_dir)
    li = spark.read.parquet(path)
    return (
        li.filter((F.col("l_partkey") >= lo) & (F.col("l_partkey") <= hi))
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                )
                / 100.0
            ).alias("revenue"),
        )
    )
