"""Deterministic distinct-count sketch (HyperLogLog-style).

``approx_count_distinct`` exists in both Spark and DuckDB, but their
sketches differ, so the estimates can't be cross-checked. This module
implements the HLL register pipeline from scratch out of deterministic
integer/string primitives shared by both engines (the 60-bit md5 hash,
``bin``/``lpad``/``locate``), so the estimate is bit-reproducible and
the oracle gate can verify it exactly — the engine's standing bar for
every operator.

Shape at scale: one narrow projection (hash → bucket, rho), one
``groupBy(bucket).max(rho)`` — map-side combinable, output is exactly
``m`` rows regardless of input size — then a single-row fold over the
registers sorted by bucket. That is the whole point of HLL: the
shuffle carries ≤ ``m`` rows per map task, and the union of two
sketches is an elementwise register max, so per-partition / per-day
registers roll up without re-scanning history.

Float parity: ``2^-rho`` values are exact IEEE doubles; the harmonic
sum folds them in bucket order (matching DuckDB ``list_sum`` over an
ordered list — the same left-fold equivalence the dot-product oracles
rely on) and adds the empty-bucket mass last; the bias constant
``alpha`` is precomputed once in Python and embedded as the same
literal in both plans. No transcendental functions (the small-range
linear-counting correction uses ``ln`` and is deliberately omitted:
``log``'s last-ulp behavior differs across libm implementations).
Bucket/remainder splits stay in integer arithmetic (``pmod`` + SQL
``div``) — a double division of the 60-bit hash would lose bits past
the 53-bit mantissa.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sressentials_spark.localrel import local_df

from sressentials_spark.operators.dedup import md5_long

#: Register-index bits → m = 2^b registers. 6 bits keeps the final
#: fold a 64-element array while giving ~13% standard error — the
#: mechanism is the operator; raise b for production accuracy.
HLL_BITS = 6
HLL_M = 1 << HLL_BITS
#: Width of the hash remainder after the bucket bits (60-bit md5 hash).
HLL_W_BITS = 60 - HLL_BITS
HLL_SEED = "hll-v1"

#: Bias-correction constant alpha_m = 0.7213 / (1 + 1.079/m) for
#: m >= 64 (Flajolet et al., HyperLogLog 2007). Precomputed HERE and
#: embedded as the identical literal in the Spark plan and the oracle.
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / float(HLL_M))


class Sketch(NamedTuple):
    """A mergeable sketch as a state stage and a fold.

    ``state(src)`` is a streaming-legal aggregation of the row source
    whose output is sketch-bounded (HLL registers, CMS counters,
    histogram bins, drift cohort counts) and whose partials (per
    partition, per day, per micro-batch) merge into the same table —
    the sketch-union property. ``fold(state, src)`` turns the settled
    state into the answer; only the F2 fold reads ``src``, for its
    exact baseline. Calling the sketch on ``df`` is the batch operator,
    ``fold(state(df), df)``; the stream replay
    (:func:`sressentials_spark.streaming.sketch.run_sketch_stream`)
    drains ``state`` over a file source and applies the same ``fold``.
    """

    state: Callable[[DataFrame], DataFrame]
    fold: Callable[[DataFrame, DataFrame], DataFrame]

    def __call__(self, df: DataFrame) -> DataFrame:
        return self.fold(self.state(df), df)


def _rho(w: Column) -> Column:
    """Position of the first set bit of ``w`` within its
    :data:`HLL_W_BITS`-bit width (1-based); all-zeros → width + 1."""
    pos = F.locate("1", F.lpad(F.bin(w), HLL_W_BITS, "0"))
    return F.when(pos == 0, F.lit(HLL_W_BITS + 1)).otherwise(pos).cast("long")


def hll_registers(
    df: DataFrame,
    col: str,
    seed: str = HLL_SEED,
    extra_keys: list[str] = (),
) -> DataFrame:
    """The register stage alone: ``(bucket, m_j)`` rows, ≤ m of them —
    or ≤ m per group when ``extra_keys`` adds grouping columns (the
    per-day/per-shard sketch artifact a rollup pipeline persists; a
    later elementwise ``max`` over ``bucket`` is the exact union).

    Usable verbatim as a *streaming* aggregation too (``max`` per
    bucket is a streaming-supported stateful agg with exactly ``m``
    state rows) — micro-batch partial maxes merging into state IS the
    sketch-union property.
    """
    src = df.filter(F.col(col).isNotNull())
    h = md5_long(F.concat(F.lit(seed + ":"), F.col(col).cast("string")))
    keys = list(extra_keys)
    return (
        src.select(*keys, h.alias("_h"))
        .select(
            *keys,
            F.pmod("_h", F.lit(HLL_M)).alias("bucket"),
            _rho(F.expr(f"_h div {HLL_M}")).alias("rho"),
        )
        .groupBy(*keys, "bucket")
        .agg(F.max("rho").alias("m_j"))
    )


def finish_estimate(regs: DataFrame) -> DataFrame:
    """Fold ``(bucket, m_j)`` registers to the one-row estimate.

    The output carries a ``small_range`` flag (1 when the raw estimate
    is at or below ``2.5 * m``, the regime where classic HLL applies a
    linear-counting correction). The correction itself is deliberately
    omitted — it needs ``ln``, whose last-ulp behavior differs across
    libm implementations and would break the bit-exact oracle — so the
    flag is the deterministic, integer-only signal that the estimate
    is outside the sketch's calibrated range (an empty input reads
    ``alpha * m ≈ 46`` with ``small_range = 1``, not a silent 46).
    """
    folded = regs.agg(
        F.sort_array(F.collect_list(F.struct("bucket", "m_j"))).alias("rs")
    ).select(
        F.lit(HLL_M).cast("long").alias("m"),
        F.size("rs").cast("long").alias("n_nonempty_buckets"),
        (
            F.aggregate(
                "rs",
                F.lit(0.0),
                lambda acc, r: acc + F.pow(F.lit(2.0), -r["m_j"].cast("double")),
            )
            + (F.lit(HLL_M) - F.size("rs")).cast("double")
        ).alias("harmonic_sum"),
    )
    est = F.lit(HLL_ALPHA) * F.lit(float(HLL_M * HLL_M)) / F.col("harmonic_sum")
    return folded.select(
        "m",
        "n_nonempty_buckets",
        "harmonic_sum",
        est.alias("hll_estimate"),
        F.when(est <= F.lit(2.5 * HLL_M), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("small_range"),
    )


def hll_union(*regs: DataFrame) -> DataFrame:
    """Sketch union: the elementwise register max of ``(..., bucket,
    m_j)`` tables (any per-group key columns fold away) — exact, so a
    union of per-day or per-segment registers estimates exactly what
    one pass over the union of their inputs would."""
    return (
        reduce(lambda a, b: a.unionByName(b), regs)
        .groupBy("bucket")
        .agg(F.max("m_j").alias("m_j"))
    )


def hll_sketch(col: str, seed: str = HLL_SEED) -> Sketch:
    """Registers (:func:`hll_registers`) folded to the one-row estimate
    (:func:`finish_estimate`)."""
    return Sketch(
        lambda df: hll_registers(df, col, seed),
        lambda regs, _src: finish_estimate(regs),
    )


def hll_distinct(
    df: DataFrame, col: str, seed: str = HLL_SEED, with_exact: bool = False
) -> DataFrame:
    """One-row HLL distinct-count estimate for ``df[col]``.

    Output: ``(m, n_nonempty_buckets, harmonic_sum, hll_estimate,
    small_range[, exact_distinct])``. ``exact_distinct`` is a
    self-validation column for tests only (``with_exact=True``); the
    default — and the shipped catalog query — omits it, because it is
    the exact ``count_distinct`` the sketch exists to avoid at 100 TB.
    """
    out = hll_sketch(col, seed)(df)
    if with_exact:
        exact = (
            df.filter(F.col(col).isNotNull())
            .agg(F.count_distinct(F.col(col)).alias("exact_distinct"))
        )
        out = out.crossJoin(exact)
    return out


# --------------------------------------------------------------------------
# Count-Min Sketch (frequency estimation / heavy hitters)
# --------------------------------------------------------------------------

#: Sketch geometry: d independent hash rows × w counter columns.
#: d=4, w=256 keeps the whole sketch at ≤1024 rows (the point: the
#: shuffle after the map-side combine carries at most d·w counter rows
#: per map task regardless of input size). Production sizing: w ≈
#: ceil(e/ε) for additive error ε·N, d ≈ ceil(ln(1/δ)).
CMS_D = 4
CMS_W = 256
CMS_SEED = "cms-v1"


def _cms_coords(col: str, seed: str) -> Column:
    """The ``d`` (row, bucket) coordinates of ``col`` as one exploded
    ``rc`` struct per hash row — an exploded literal array, still
    codegen. Shared by the counter build and the probe, so a key is
    hashed to the same counters on both sides."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).cast("long").alias("r"),
                    F.pmod(
                        md5_long(
                            F.concat(
                                F.lit(f"{seed}:{i}:"), F.col(col).cast("string")
                            )
                        ),
                        F.lit(CMS_W),
                    ).alias("c"),
                )
                for i in range(CMS_D)
            ]
        )
    ).alias("rc")


def cms_counters(df: DataFrame, col: str, seed: str = CMS_SEED) -> DataFrame:
    """Build the Count-Min counter table ``(r, c, n)`` for ``df[col]``.

    One narrow projection (each input row generates its ``d`` (row,
    bucket) coordinates, :func:`_cms_coords`), then a
    ``groupBy(r, c).count()``: map-side combinable, so the exchange
    carries ≤ ``d*w`` rows per map task. Counter merge across
    partitions/days is elementwise ``+`` — the sketch-union property —
    so per-shard counters roll up without re-scanning history.

    Hashes are the shared 60-bit md5 integer (seeded per row ``i``), so
    the counter table is bit-reproducible against the DuckDB oracle.
    """
    return (
        df.filter(F.col(col).isNotNull())
        .select(_cms_coords(col, seed))
        .select("rc.r", "rc.c")
        # Drops nothing (a non-NULL key always hashes to a bucket). The
        # probe's left join infers this filter into its counter subplan;
        # stating it here gives every consumer the same subplan, so the
        # counter exchange is reused and the source is scanned once.
        .filter(F.col("c").isNotNull())
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cms_probe_sketch(
    col: str, probe_keys: list[int], seed: str = CMS_SEED, heavy_pm: int = 7
) -> Sketch:
    """Counters (:func:`cms_counters`) probed at ``probe_keys``; see
    :func:`cms_probe_counts`."""

    def fold(counters: DataFrame, _src: DataFrame) -> DataFrame:
        # The probe slate is a literal handful of keys: in one partition
        # the min-fold and the final sort run without a shuffle.
        probes = local_df(
            counters.sparkSession, [(int(k),) for k in probe_keys], f"{col} long"
        ).coalesce(1)
        pc = probes.select(F.col(col), _cms_coords(col, seed)).select(
            F.col(col), F.col("rc.r").alias("r"), F.col("rc.c").alias("c")
        )
        est = (
            pc.join(F.broadcast(counters), ["r", "c"], "left")
            .groupBy(col)
            .agg(F.min(F.coalesce("n", F.lit(0))).alias("cms_estimate"))
        )
        # Every non-NULL row adds exactly 1 to one counter of each hash
        # row, so hash row 0's counters sum to the stream total. A
        # conditional sum, not a filter: a filter on ``r`` would be
        # pushed below the counter aggregate and give this consumer a
        # counter subplan of its own.
        total = counters.agg(
            F.coalesce(F.sum(F.when(F.col("r") == 0, F.col("n"))), F.lit(0))
            .cast("long")
            .alias("total_rows")
        )
        return (
            est.crossJoin(F.broadcast(total))
            .select(
                col,
                "cms_estimate",
                "total_rows",
                F.when(
                    (F.col("total_rows") > 0)
                    & (
                        F.col("cms_estimate") * 1000
                        >= F.col("total_rows") * heavy_pm
                    ),
                    F.lit(1),
                )
                .otherwise(F.lit(0))
                .cast("long")
                .alias("heavy"),
            )
            .orderBy(col)
        )

    return Sketch(lambda df: cms_counters(df, col, seed), fold)


def cms_probe_counts(
    df: DataFrame,
    col: str,
    probe_keys: list[int],
    seed: str = CMS_SEED,
    heavy_pm: int = 7,
) -> DataFrame:
    """Estimate per-key frequencies from a Count-Min sketch.

    Output: ``(key, cms_estimate, total_rows, heavy)`` for each probe
    key — ``cms_estimate = min_i counter[i][h_i(key)]`` (the classic
    upper bound: never below the true count), ``heavy = 1`` iff the
    estimate is at least ``heavy_pm`` per-mille of the stream (integer
    arithmetic only, so the flag is oracle-exact).

    Plan shape: the corpus pass builds the ≤ ``d*w``-row counter table
    (see :func:`cms_counters`); the probe side is a tiny literal frame
    whose ``d`` coordinates left-join the counters (both sides sketch-
    sized — Spark broadcasts them) and fold with ``min``. The stream
    total is read off the counters themselves (hash row 0 sums to it),
    so the fold never reads the source: a stream replay folds its
    settled counters alone.
    """
    return cms_probe_sketch(col, probe_keys, seed, heavy_pm)(df)


def cms_probe_oracle_sql(
    table: str,
    col: str,
    probe_keys: list[int],
    seed: str = CMS_SEED,
    heavy_pm: int = 7,
) -> str:
    """DuckDB restatement of :func:`cms_probe_counts`."""
    h = (
        f"(('0x' || substring(md5('{seed}:' || CAST(i AS VARCHAR) || ':'"
        f" || CAST({col} AS VARCHAR)), 1, 15))::BIGINT) % {CMS_W}"
    )
    keys = ", ".join(f"({int(k)})" for k in probe_keys)
    return f"""
WITH rows_i AS (SELECT unnest(range({CMS_D})) AS i),
counters AS (
  SELECT CAST(i AS BIGINT) AS r, {h} AS c, CAST(COUNT(*) AS BIGINT) AS n
  FROM {table}, rows_i
  WHERE {col} IS NOT NULL
  GROUP BY 1, 2
),
probes AS (SELECT CAST(k AS BIGINT) AS {col} FROM (VALUES {keys}) p(k)),
pc AS (
  SELECT {col}, CAST(i AS BIGINT) AS r, {h} AS c FROM probes, rows_i
),
est AS (
  SELECT pc.{col},
         CAST(MIN(COALESCE(n, 0)) AS BIGINT) AS cms_estimate
  FROM pc LEFT JOIN counters USING (r, c)
  GROUP BY pc.{col}
),
total AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS total_rows
  FROM {table} WHERE {col} IS NOT NULL
)
SELECT {col}, cms_estimate, total_rows,
       CAST(CASE WHEN total_rows > 0
                  AND cms_estimate * 1000 >= total_rows * {int(heavy_pm)}
                 THEN 1 ELSE 0 END AS BIGINT) AS heavy
FROM est, total
ORDER BY {col}
"""


# --------------------------------------------------------------------------
# Histogram quantile sketch (mergeable approximate percentiles)
# --------------------------------------------------------------------------

#: Fixed-width histogram geometry. ``approx_percentile``/t-digest
#: sketches are engine-specific and nondeterministic to merge; a
#: fixed-bin histogram is the mergeable quantile structure that IS
#: bit-reproducible: counts per bin (map-side combinable, ≤ B rows
#: through any shuffle), union = elementwise ``+``, quantile lookup =
#: first bin whose cumulative count crosses the integer-crossmultiplied
#: rank. Resolution is the bin width; size B to the domain.
HIST_BINS = 1024


def _crossing(counts: DataFrame, key: str, quantiles: list[int]) -> DataFrame:
    """Per requested integer percentile ``q``, the first ``key`` whose
    cumulative ``n`` reaches ``q%`` of the total — ties and boundaries
    resolved by pure integer arithmetic, ``100 * cum >= q * total`` —
    as ``(quantile, key, n_le)`` with ``n_le`` the cumulative count at
    it. ``counts`` is a bounded ``(key, n)`` table (histogram bins,
    cent buckets), so the single-partition ordered window is too."""
    w_cum = Window.orderBy(key).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy(key).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = counts.select(
        key,
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_all).alias("total"),
    )
    qs = local_df(
        counts.sparkSession, [(int(q),) for q in quantiles], "quantile long"
    )
    return (
        qs.crossJoin(cum)
        .filter(F.col("cum") * 100 >= F.col("quantile") * F.col("total"))
        .groupBy("quantile")
        .agg(
            F.min(key).alias(key),
            F.min_by(F.col("cum"), F.col(key)).alias("n_le"),
        )
    )


def histogram_sketch(
    col: str, quantiles: list[int] = (50, 90, 99), bins: int = HIST_BINS
) -> Sketch:
    """Bin counts ``(bin, n)`` folded to percentiles; see
    :func:`histogram_quantiles`."""

    def state(df: DataFrame) -> DataFrame:
        return (
            df.filter(F.col(col).isNotNull())
            .select(
                F.least(F.lit(bins - 1), F.floor(F.col(col)).cast("long")).alias(
                    "bin"
                )
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def fold(counts: DataFrame, _src: DataFrame) -> DataFrame:
        return (
            _crossing(counts, "bin", quantiles)
            .select(
                "quantile",
                "bin",
                F.col("bin").cast("double").alias("bin_lo"),
                (F.col("bin") + 1).cast("double").alias("bin_hi"),
                "n_le",
            )
            .orderBy("quantile")
        )

    return Sketch(state, fold)


def histogram_quantiles(
    df: DataFrame,
    col: str,
    quantiles: list[int] = (50, 90, 99),
    bins: int = HIST_BINS,
) -> DataFrame:
    """Approximate percentiles from a fixed-width histogram.

    Output, one row per requested integer percentile ``q``:
    ``(quantile, bin, bin_lo, bin_hi, n_le)`` — the first bin where
    the cumulative count reaches ``q%`` of the total (:func:`_crossing`),
    with the bin's value range and the cumulative count at it.

    Scale shape: one narrow binning projection + a map-side-combinable
    ``groupBy(bin).count()`` — at most ``bins`` rows survive to the
    cumulative window, so the single-partition ordered window is over
    a BOUNDED input regardless of corpus size (the same ≤-sketch-rows
    argument as HLL's fold). Bin width is 1.0 over ``[0, bins)``;
    rescale the column for other domains.
    """
    return histogram_sketch(col, quantiles, bins)(df)


def histogram_quantiles_oracle_sql(
    table: str,
    col: str,
    quantiles: list[int] = (50, 90, 99),
    bins: int = HIST_BINS,
) -> str:
    """DuckDB restatement of :func:`histogram_quantiles`."""
    qvals = ", ".join(f"({int(q)})" for q in quantiles)
    return f"""
WITH binned AS (
  SELECT least({bins - 1}, CAST(floor({col}) AS BIGINT)) AS bin
  FROM {table} WHERE {col} IS NOT NULL
),
counts AS (SELECT bin, COUNT(*) AS n FROM binned GROUP BY bin),
cum AS (
  SELECT bin,
         SUM(n) OVER (ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(n) OVER () AS total
  FROM counts
),
qs AS (SELECT CAST(q AS BIGINT) AS quantile FROM (VALUES {qvals}) v(q)),
hit AS (
  SELECT quantile, bin, cum,
         ROW_NUMBER() OVER (PARTITION BY quantile ORDER BY bin) AS rn
  FROM qs JOIN cum ON cum * 100 >= quantile * total
)
SELECT quantile,
       CAST(bin AS BIGINT) AS bin,
       CAST(bin AS DOUBLE) AS bin_lo,
       CAST(bin + 1 AS DOUBLE) AS bin_hi,
       CAST(cum AS BIGINT) AS n_le
FROM hit WHERE rn = 1
ORDER BY quantile
"""


# --------------------------------------------------------------------------
# Bloom filter (set membership)
# --------------------------------------------------------------------------

#: Filter geometry: d hash functions over an m-bit array. The filter
#: is represented RELATIONALLY — a distinct (bit) table of set
#: positions, at most min(m, d·|keys|) rows — which is what makes it
#: oracle-exact and lets the probe be a broadcast join instead of a
#: bit-twiddling UDF. m = 65536 keeps the sf0.1 fill ratio ~0.15
#: (≈0.3% false positives at d = 3); size m with the keyset.
BLOOM_M = 65536
BLOOM_D = 3
BLOOM_SEED = "bloom-v1"


def _bloom_positions(c: Column, seed: str) -> Column:
    """Array of the ``d`` bit positions for one key."""
    return F.array(
        *[
            F.pmod(
                md5_long(F.concat(F.lit(f"{seed}:{i}:"), c)),
                F.lit(BLOOM_M),
            )
            for i in range(BLOOM_D)
        ]
    )


def bloom_bits(df: DataFrame, col: str, seed: str = BLOOM_SEED) -> DataFrame:
    """Build the set-bit relation ``(bit)`` for the keys in ``df[col]``.

    One narrow projection (d positions per key via an exploded literal
    array) + a ``distinct`` on the bit position — map-side combinable,
    ≤ ``min(m, d·n)`` rows out regardless of input size. Union of two
    filters is relational UNION (dedup'd by the same distinct), so
    per-shard/per-day filters roll up without re-scanning history.
    """
    src = df.filter(F.col(col).isNotNull())
    return (
        src.select(F.explode(_bloom_positions(F.col(col), seed)).alias("bit"))
        .distinct()
    )


def bloom_probe(
    bits: DataFrame, probes: DataFrame, col: str, seed: str = BLOOM_SEED
) -> DataFrame:
    """Membership test: ``bloom_maybe = 1`` iff ALL ``d`` of a probe
    key's bits are set (the classic guarantee: a true member can never
    read 0; a 1 is "maybe" at the filter's false-positive rate).

    The set-bit relation broadcasts (≤ m rows); each probe key explodes
    to its d positions, left-joins the bits, and folds with ``min`` —
    no shuffle touches the probe side beyond its own groupBy.
    """
    pc = probes.filter(F.col(col).isNotNull()).select(
        F.col(col),
        F.explode(_bloom_positions(F.col(col), seed)).alias("bit"),
    )
    hit = bits.withColumn("_hit", F.lit(1))
    return (
        pc.join(F.broadcast(hit), "bit", "left")
        .groupBy(col)
        .agg(
            F.min(F.coalesce("_hit", F.lit(0)))
            .cast("long")
            .alias("bloom_maybe")
        )
    )


def hll_distinct_oracle_sql(
    table: str, col: str, seed: str = HLL_SEED, with_exact: bool = False
) -> str:
    """DuckDB restatement of :func:`hll_distinct`."""
    h = (
        f"(('0x' || substring(md5('{seed}:' || CAST({col} AS VARCHAR)), 1, 15))"
        "::BIGINT)"
    )
    exact_col = (
        f", (SELECT CAST(COUNT(DISTINCT {col}) AS BIGINT) FROM {table}"
        f" WHERE {col} IS NOT NULL) AS exact_distinct"
        if with_exact
        else ""
    )
    return f"""
WITH hashed AS (
  SELECT {h} % {HLL_M} AS bucket,
         CASE WHEN strpos(lpad(bin({h} // {HLL_M}), {HLL_W_BITS}, '0'), '1') = 0
              THEN {HLL_W_BITS + 1}
              ELSE strpos(lpad(bin({h} // {HLL_M}), {HLL_W_BITS}, '0'), '1')
         END AS rho
  FROM {table} WHERE {col} IS NOT NULL
),
regs AS (SELECT bucket, MAX(rho) AS m_j FROM hashed GROUP BY bucket),
folded AS (
  SELECT CAST({HLL_M} AS BIGINT) AS m,
         CAST(COUNT(*) AS BIGINT) AS n_nonempty_buckets,
         list_sum([pow(2.0, -CAST(x AS DOUBLE))
                   for x in list(m_j ORDER BY bucket)])
           + CAST({HLL_M} - COUNT(*) AS DOUBLE) AS harmonic_sum
  FROM regs
)
SELECT m, n_nonempty_buckets, harmonic_sum,
       CAST({HLL_ALPHA!r} AS DOUBLE) * CAST({float(HLL_M * HLL_M)!r} AS DOUBLE)
         / harmonic_sum AS hll_estimate,
       CAST(CASE WHEN CAST({HLL_ALPHA!r} AS DOUBLE)
                      * CAST({float(HLL_M * HLL_M)!r} AS DOUBLE)
                      / harmonic_sum <= {2.5 * HLL_M!r} THEN 1 ELSE 0 END
            AS BIGINT) AS small_range
       {exact_col}
FROM folded
"""


def quantile_error_eval(
    df: DataFrame,
    col: str,
    quantiles: list[int] = (50, 90, 99),
    bins: int = HIST_BINS,
) -> DataFrame:
    """In-engine quality eval for the histogram quantile sketch: the
    sketch's per-percentile bin vs the EXACT percentile of the same
    column, with the absolute error in cents.

    The same idea as the ANN recall evals (`sim_*_recall_at_k`): the
    engine measures its own approximation instead of asserting it. The
    exact side is computed scale-shaped too — values quantize to
    cents (``floor(value*100)``, exact in both engines), counts per
    cent are map-side combinable, and the cumulative window runs over
    at most ``100·bins`` distinct cent rows, bounded regardless of
    corpus size. Because ``floor(v*100) // 100 == floor(v)`` for
    ``v >= 0`` and both sides use the identical integer crossing rule
    (``cum*100 >= q*total``), the exact percentile PROVABLY lands
    inside the sketch's chosen bin — ``in_bin`` is an invariant
    (pinned by test), and ``err_cents`` ≤ 99 is the bin-resolution
    bound made measurable.

    Output: ``(quantile, bin, exact_cents, in_bin, err_cents)`` where
    ``err_cents`` is the distance from the bin midpoint.
    """
    sketch = histogram_quantiles(df, col, quantiles, bins)
    cents = (
        df.filter(F.col(col).isNotNull())
        .select(F.floor(F.col(col) * 100).cast("long").alias("cents"))
        .groupBy("cents")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    exact = _crossing(cents, "cents", quantiles).select(
        "quantile", F.col("cents").alias("exact_cents")
    )
    return (
        sketch.select("quantile", "bin")
        .join(exact, "quantile")
        .select(
            "quantile",
            "bin",
            "exact_cents",
            (
                (F.col("exact_cents") >= F.col("bin") * 100)
                & (F.col("exact_cents") < (F.col("bin") + 1) * 100)
            )
            .cast("long")
            .alias("in_bin"),
            F.abs(F.col("exact_cents") - (F.col("bin") * 100 + 50)).alias(
                "err_cents"
            ),
        )
    )


def quantile_error_eval_oracle_sql(
    table: str,
    col: str,
    quantiles: list[int] = (50, 90, 99),
    bins: int = HIST_BINS,
) -> str:
    """DuckDB restatement of :func:`quantile_error_eval`."""
    qvals = ", ".join(f"({int(q)})" for q in quantiles)
    return f"""
WITH binned AS (
  SELECT least({bins - 1}, CAST(floor({col}) AS BIGINT)) AS bin
  FROM {table} WHERE {col} IS NOT NULL
),
bcounts AS (SELECT bin, COUNT(*) AS n FROM binned GROUP BY bin),
bcum AS (
  SELECT bin,
         SUM(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(n) OVER () AS total
  FROM bcounts
),
qs AS (SELECT CAST(q AS BIGINT) AS quantile FROM (VALUES {qvals}) v(q)),
sk AS (
  SELECT quantile, MIN(bin) AS bin
  FROM qs JOIN bcum ON cum * 100 >= quantile * total
  GROUP BY quantile
),
cents_t AS (
  SELECT CAST(floor({col} * 100) AS BIGINT) AS cents
  FROM {table} WHERE {col} IS NOT NULL
),
ccounts AS (SELECT cents, COUNT(*) AS n FROM cents_t GROUP BY cents),
ccum AS (
  SELECT cents,
         SUM(n) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(n) OVER () AS total
  FROM ccounts
),
ex AS (
  SELECT quantile, MIN(cents) AS exact_cents
  FROM qs JOIN ccum ON cum * 100 >= quantile * total
  GROUP BY quantile
)
SELECT sk.quantile,
       CAST(sk.bin AS BIGINT) AS bin,
       CAST(ex.exact_cents AS BIGINT) AS exact_cents,
       CAST(CASE WHEN ex.exact_cents >= sk.bin * 100
                  AND ex.exact_cents < (sk.bin + 1) * 100
                 THEN 1 ELSE 0 END AS BIGINT) AS in_bin,
       CAST(abs(ex.exact_cents - (sk.bin * 100 + 50)) AS BIGINT)
         AS err_cents
FROM sk JOIN ex ON sk.quantile = ex.quantile
"""


def hll_set_algebra(
    df: DataFrame,
    col: str,
    cond_a: Column,
    cond_b: Column,
    seed: str = HLL_SEED,
) -> DataFrame:
    """HLL set algebra: estimate |A|, |B|, |A ∪ B| and — by
    inclusion-exclusion — |A ∩ B| from REGISTERS ONLY, plus the exact
    intersection for in-engine error measurement.

    Union is the sketch's native exact operation (elementwise register
    max); intersection is NOT — inclusion-exclusion is the standard
    derived estimate, with error compounding from all three estimates
    (why the exact column rides along: the engine measures its own
    approximation, as in the recall and quantile evals). At 100 TB the
    three register tables are ≤ m rows each however large the inputs;
    only the exact-check column touches a real distinct, and a
    production run would drop it.
    """
    a = df.filter(cond_a)
    b = df.filter(cond_b)
    regs_a = hll_registers(a, col, seed)
    regs_b = hll_registers(b, col, seed)
    regs_u = hll_union(regs_a, regs_b)

    def est(regs: DataFrame, name: str) -> DataFrame:
        return finish_estimate(regs).select(
            F.col("hll_estimate").alias(name)
        )

    exact = (
        a.select(F.col(col).alias("k"))
        .intersect(b.select(F.col(col).alias("k")))
        .agg(F.count(F.lit(1)).cast("long").alias("exact_intersection"))
    )
    out = (
        est(regs_a, "est_a")
        .crossJoin(est(regs_b, "est_b"))
        .crossJoin(est(regs_u, "est_union"))
        .crossJoin(exact)
    )
    return out.select(
        "est_a",
        "est_b",
        "est_union",
        (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias(
            "est_intersection"
        ),
        "exact_intersection",
    )


def hll_set_algebra_oracle_sql(
    table: str,
    col: str,
    where_a: str,
    where_b: str,
    seed: str = HLL_SEED,
) -> str:
    """DuckDB restatement of :func:`hll_set_algebra`."""
    h = (
        f"(('0x' || substring(md5('{seed}:' || CAST({col} AS VARCHAR)), 1, 15))"
        "::BIGINT)"
    )

    def hashed(name: str, where: str) -> str:
        return f"""
{name} AS (
  SELECT {h} % {HLL_M} AS bucket,
         CASE WHEN strpos(lpad(bin({h} // {HLL_M}), {HLL_W_BITS}, '0'), '1') = 0
              THEN {HLL_W_BITS + 1}
              ELSE strpos(lpad(bin({h} // {HLL_M}), {HLL_W_BITS}, '0'), '1')
         END AS rho
  FROM {table} WHERE {col} IS NOT NULL AND ({where})
),
regs_{name} AS (SELECT bucket, MAX(rho) AS m_j FROM {name} GROUP BY bucket)"""

    def folded(src: str, name: str) -> str:
        return f"""
{name} AS (
  SELECT list_sum([pow(2.0, -CAST(x AS DOUBLE))
                   for x in list(m_j ORDER BY bucket)])
           + CAST({HLL_M} - COUNT(*) AS DOUBLE) AS hs
  FROM {src}
)"""

    est = (
        f"CAST({HLL_ALPHA!r} AS DOUBLE) * CAST({float(HLL_M * HLL_M)!r}"
        " AS DOUBLE)"
    )
    return f"""
WITH {hashed('ha', where_a)},
{hashed('hb', where_b)},
regs_u AS (
  SELECT bucket, MAX(m_j) AS m_j
  FROM (SELECT * FROM regs_ha UNION ALL SELECT * FROM regs_hb)
  GROUP BY bucket
),
{folded('regs_ha', 'fa')},
{folded('regs_hb', 'fb')},
{folded('regs_u', 'fu')},
ex AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersection
  FROM (SELECT DISTINCT {col} FROM {table}
        WHERE {col} IS NOT NULL AND ({where_a})
        INTERSECT
        SELECT DISTINCT {col} FROM {table}
        WHERE {col} IS NOT NULL AND ({where_b}))
)
SELECT {est} / fa.hs AS est_a,
       {est} / fb.hs AS est_b,
       {est} / fu.hs AS est_union,
       ({est} / fa.hs + {est} / fb.hs - {est} / fu.hs) AS est_intersection,
       exact_intersection
FROM fa, fb, fu, ex
"""


def cms_f2_sketch(col: str, seed: str = CMS_SEED) -> Sketch:
    """Counters (:func:`cms_counters`) folded to the F2 estimate beside
    the exact F2 of ``src``; see :func:`cms_f2_estimate`."""

    def fold(counters: DataFrame, src: DataFrame) -> DataFrame:
        est = (
            counters.groupBy("r")
            .agg(F.sum(F.col("n") * F.col("n")).cast("long").alias("s"))
            .agg(F.min("s").cast("long").alias("cms_f2_estimate"))
        )
        exact = (
            src.filter(F.col(col).isNotNull())
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

    return Sketch(lambda df: cms_counters(df, col, seed), fold)


def cms_f2_estimate(df: DataFrame, col: str, seed: str = CMS_SEED) -> DataFrame:
    """Self-join size (the second frequency moment F2) estimated from
    the Count-Min counter table — the optimizer statistic behind join
    cardinality and skew estimates: ``|R join R on k| = sum_k f(k)^2``.

    Estimate: ``min_r sum_c n(r, c)^2`` over the sketch rows. Each row
    of counters partitions the keys into ``w`` buckets, and
    ``sum (sum f)^2 >= sum f^2`` bucket-wise, so every row
    over-estimates and the min is the tightest — the AMS-style
    guarantee that the estimate NEVER undershoots (pinned in
    tests/test_sketch.py). Exact F2 pays a full ``groupBy(col)``
    shuffle; the sketch pays one map-combinable ``d x w`` counter pass
    — the point of the estimator at 100 TB. Both are computed here so
    the output carries the integer over-estimate permille. Counter
    squares stay BIGINT-exact at test scale (and through the oracle);
    at web scale the squares go through DOUBLE — same plan, wider
    accumulator.

    Output (one row): ``exact_f2``, ``cms_f2_estimate``,
    ``over_permille`` (floor; 0 means the sketch row had no
    colliding keys).
    """
    return cms_f2_sketch(col, seed)(df)


def cms_f2_oracle_sql(table: str, col: str, seed: str = CMS_SEED) -> str:
    """DuckDB restatement of :func:`cms_f2_estimate`."""
    h = (
        f"(('0x' || substring(md5('{seed}:' || CAST(i AS VARCHAR) || ':'"
        f" || CAST({col} AS VARCHAR)), 1, 15))::BIGINT) % {CMS_W}"
    )
    return f"""
WITH rows_i AS (SELECT unnest(range({CMS_D})) AS i),
counters AS (
  SELECT CAST(i AS BIGINT) AS r, {h} AS c, CAST(COUNT(*) AS BIGINT) AS n
  FROM {table}, rows_i
  WHERE {col} IS NOT NULL
  GROUP BY 1, 2
),
est AS (
  SELECT CAST(MIN(s) AS BIGINT) AS cms_f2_estimate
  FROM (SELECT r, CAST(SUM(n * n) AS BIGINT) AS s FROM counters GROUP BY r)
),
exact AS (
  SELECT CAST(SUM(f * f) AS BIGINT) AS exact_f2
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS f FROM {table}
        WHERE {col} IS NOT NULL GROUP BY {col})
)
SELECT exact_f2, cms_f2_estimate,
       CAST(((cms_f2_estimate - exact_f2) * 1000) // exact_f2 AS BIGINT)
         AS over_permille
FROM exact, est
"""


def _cms_joinsize_est(ca: DataFrame, cb: DataFrame) -> DataFrame:
    """min over hash rows of the aligned counter dot product — the
    one-row estimate shared by the standalone estimator and the
    estimator-driven join planner."""
    return (
        ca.join(cb.withColumnRenamed("n", "nb"), ["r", "c"])
        .groupBy("r")
        .agg(F.sum(F.col("n") * F.col("nb")).cast("long").alias("s"))
        .agg(F.min("s").cast("long").alias("cms_joinsize_estimate"))
    )


def cms_joinsize_estimate(
    df_a: DataFrame,
    col_a: str,
    df_b: DataFrame,
    col_b: str,
    seed: str = CMS_SEED,
) -> DataFrame:
    """Equi-join cardinality estimated from two Count-Min counter
    tables — the other optimizer question F2 answers for self-joins:
    ``|A join B on k| = sum_k fA(k) * fB(k)``, estimated as
    ``min_r sum_c nA(r,c) * nB(r,c)``. Both sketches share the seeded
    hash family, so coordinates align; bucket-wise
    ``(sum a)(sum b) >= sum(a*b)`` for non-negative counts, so every
    row over-estimates and the min is tightest — the same
    never-undershoots guarantee as :func:`cms_f2_estimate` (pinned in
    tests/test_sketch.py). Cost: two map-combinable d x w counter
    passes plus a sketch-sized join, vs the exact baseline's full
    per-key aggregation of BOTH sides — the pre-flight answer to
    "will this join explode?" at 100 TB.

    Output (one row): ``exact_joinsize``, ``cms_joinsize_estimate``,
    ``over_permille``.
    """
    ca = cms_counters(df_a, col_a, seed)
    cb = cms_counters(df_b, col_b, seed)
    est = _cms_joinsize_est(ca, cb)
    fa = (
        df_a.filter(F.col(col_a).isNotNull())
        .groupBy(F.col(col_a).alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("fa"))
    )
    fb = (
        df_b.filter(F.col(col_b).isNotNull())
        .groupBy(F.col(col_b).alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("fb"))
    )
    exact = (
        fa.join(fb, "k")
        .agg(
            F.coalesce(F.sum(F.col("fa") * F.col("fb")), F.lit(0))
            .cast("long")
            .alias("exact_joinsize")
        )
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_joinsize",
        "cms_joinsize_estimate",
        F.expr(
            "((cms_joinsize_estimate - exact_joinsize) * 1000)"
            " div exact_joinsize"
        ).alias("over_permille"),
    )


def cms_joinsize_est_ctes(
    table_a: str, col_a: str, table_b: str, col_b: str, seed: str = CMS_SEED
) -> str:
    """The estimate-only CTE fragment (no WITH): rows_i/ca/cb ->
    ``est(cms_joinsize_estimate)`` — shared by the standalone
    estimator oracle and the estimator-DRIVEN join queries, so the
    planning decision itself sits under the correctness gate."""

    def h(col: str) -> str:
        return (
            f"(('0x' || substring(md5('{seed}:' || CAST(i AS VARCHAR) || ':'"
            f" || CAST({col} AS VARCHAR)), 1, 15))::BIGINT) % {CMS_W}"
        )

    return f"""rows_i AS (SELECT unnest(range({CMS_D})) AS i),
ca AS (
  SELECT CAST(i AS BIGINT) AS r, {h(col_a)} AS c, CAST(COUNT(*) AS BIGINT) AS n
  FROM {table_a}, rows_i WHERE {col_a} IS NOT NULL GROUP BY 1, 2
),
cb AS (
  SELECT CAST(i AS BIGINT) AS r, {h(col_b)} AS c, CAST(COUNT(*) AS BIGINT) AS n
  FROM {table_b}, rows_i WHERE {col_b} IS NOT NULL GROUP BY 1, 2
),
est AS (
  SELECT CAST(MIN(s) AS BIGINT) AS cms_joinsize_estimate
  FROM (SELECT ca.r, CAST(SUM(ca.n * cb.n) AS BIGINT) AS s
        FROM ca JOIN cb ON ca.r = cb.r AND ca.c = cb.c GROUP BY ca.r)
)"""


def cms_joinsize_oracle_sql(
    table_a: str, col_a: str, table_b: str, col_b: str, seed: str = CMS_SEED
) -> str:
    """DuckDB restatement of :func:`cms_joinsize_estimate`."""
    return f"""
WITH {cms_joinsize_est_ctes(table_a, col_a, table_b, col_b, seed)},
exact AS (
  SELECT CAST(COALESCE(SUM(fa.n * fb.n), 0) AS BIGINT) AS exact_joinsize
  FROM (SELECT {col_a} AS k, CAST(COUNT(*) AS BIGINT) AS n FROM {table_a}
        WHERE {col_a} IS NOT NULL GROUP BY 1) fa
  JOIN (SELECT {col_b} AS k, CAST(COUNT(*) AS BIGINT) AS n FROM {table_b}
        WHERE {col_b} IS NOT NULL GROUP BY 1) fb USING (k)
)
SELECT exact_joinsize, cms_joinsize_estimate,
       CAST(((cms_joinsize_estimate - exact_joinsize) * 1000)
            // exact_joinsize AS BIGINT) AS over_permille
FROM exact, est
"""


# --------------------------------------------------------------------------
# Estimator-driven join planning (the CBO loop the sketches exist for)
# --------------------------------------------------------------------------

#: Broadcast ceiling for the estimator-driven join: estimated output
#: rows above this pick a sort-merge plan (the broadcast probe's
#: per-task fan-out is unbounded on skewed keys; SMJ + AQE skew
#: handling is the safe shape). At the test scales the SAME rule
#: flips naturally: sf<=0.01 estimates under it (broadcast), sf0.1's
#: ~59M estimate exceeds it (merge) — both branches run on real data.
CBO_BROADCAST_MAX = 10_000_000


def cms_join_strategy(
    df_a: DataFrame,
    col_a: str,
    df_b: DataFrame,
    col_b: str,
    *,
    broadcast_threshold: int = CBO_BROADCAST_MAX,
    seed: str = CMS_SEED,
) -> tuple[int, str]:
    """The planning decision a cost-based optimizer derives from
    :func:`cms_joinsize_estimate`: pre-flight the equi-join's output
    cardinality from two aligned Count-Min sketches (two
    map-combinable d x w counter passes — never a full per-key
    aggregation of either side) and pick ``broadcast`` when the
    never-undershooting estimate stays under ``broadcast_threshold``,
    else ``merge``. The one driver hop is the scalar estimate — the
    legitimate statistics fetch every CBO pays before planning."""
    ca = cms_counters(df_a, col_a, seed)
    cb = cms_counters(df_b, col_b, seed)
    est = int(
        _cms_joinsize_est(ca, cb).collect()[0]["cms_joinsize_estimate"]
    )
    return est, ("broadcast" if est <= broadcast_threshold else "merge")


def cbo_equi_join(
    df_a: DataFrame,
    col_a: str,
    df_b: DataFrame,
    col_b: str,
    *,
    broadcast_threshold: int = CBO_BROADCAST_MAX,
    seed: str = CMS_SEED,
):
    """Equi-join whose physical strategy is CHOSEN BY the sketch
    estimate (:func:`cms_join_strategy`): ``broadcast`` hints the
    build side into a BroadcastHashJoin, ``merge`` forces
    SortMergeJoin (the hint wins over size-based auto-broadcast, so
    an exploding join can never be broadcast by accident). Returns
    ``(joined, estimate, strategy)`` so callers can surface the
    decision; the join itself is unchanged rows-wise — the estimate
    picks the PLAN, pinned by tests/test_plan_shapes.py."""
    est, strategy = cms_join_strategy(
        df_a, col_a, df_b, col_b,
        broadcast_threshold=broadcast_threshold, seed=seed,
    )
    cond = df_a[col_a] == df_b[col_b]
    if strategy == "broadcast":
        joined = df_a.join(F.broadcast(df_b), cond)
    else:
        joined = df_a.join(df_b.hint("merge"), cond)
    return joined, est, strategy
