"""Distribution-drift metrics between two cohorts of one metric column.

The monitoring op a training-data (or SRE metrics) pipeline runs before
promoting a new snapshot: bin a value column into a fixed histogram,
compare the new period's distribution against a reference period, and
report PSI (population stability index) and total-variation distance
per group. PSI >= 0.25 is the conventional "major drift" alarm.

Engine-exact restatement (same recipe as the DSIR weights,
operators/curation.py): the only transcendental — ``ln(p/q)`` per
histogram bin — is evaluated on an exact integer ratio and quantized
once per bin to integer micronats; the PSI numerator is then a pure
integer dot product, and the final value is one IEEE multiply + two
IEEE divides on exact integers.

Overflow posture (the numerator is O(n_ref * n_cur * lr)): the dot
product accumulates in DECIMAL(38,0) on the Spark side and HUGEINT in
the DuckDB oracle — both exact 128-bit integer paths — so it is exact
for cohorts up to ~1e14 rows per group (|a * lr| < 1e36, x n_bins
terms < 1e38; beyond that Spark's non-ANSI decimal yields NULL and
DuckDB raises — visible, never a silently wrapped BIGINT). The
``drifted`` alarm is decided by the exact integer comparison
``psi_num >= alarm_micronats * (n_ref + B) * (n_cur + B)`` in both
engines, so the boolean is engine-exact at ANY cohort size. The
``psi``/``tvd`` doubles are bit-identical across engines while
``|psi_num| < 2**53`` (above that each engine's int128->double cast
may differ by 1 ulp; the alarm boolean is unaffected).

Scale shape: one conditional-aggregation scan produces per-(group,
bin) counts for BOTH periods (map-side partials, one shuffle keyed by
(group, bin)); the full bin grid is a broadcast of |groups| x n_bins
rows; per-group totals are a second tiny aggregate over that bin
table. Nothing downstream of the first groupBy is larger than the
histogram itself, so the same plan holds at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sressentials_spark.operators.sketch import Sketch

#: Fixed-point scale for the per-bin log-likelihood-ratio (micronats).
DRIFT_LR_SCALE = 10**6

#: 128-bit-safe factor width: (14,0) x (14,0) products stay in
#: DECIMAL(29,0); a-differences in (30,0); a * lr in (38,0).
_D14 = "decimal(14,0)"


def _alarm_micronats(psi_alarm: float) -> int:
    """``psi_alarm`` in exact integer micronats, so the drift alarm is
    an integer comparison (engine-exact at any cohort size) rather
    than a double one. Alarms must be representable at micronat
    granularity — true of any sane threshold (0.1, 0.25, ...)."""
    am = round(psi_alarm * DRIFT_LR_SCALE)
    if abs(am - psi_alarm * DRIFT_LR_SCALE) > 1e-6:
        raise ValueError(
            f"psi_alarm={psi_alarm!r} is not representable in micronats"
        )
    return int(am)


def drift_sketch(
    *,
    split_expr: str,
    group_col: str = "event_type",
    value_col: str = "value",
    bin_width: float = 50.0,
    n_bins: int = 10,
    psi_alarm: float = 0.25,
) -> Sketch:
    """Per-(group, bin) cohort counts ``(grp, bin, c_ref, c_cur)`` — one
    conditional-aggregation scan, histogram-sized state that merges
    additively — folded to PSI/TVD (:func:`drift_from_counts`); see
    :func:`histogram_drift`."""

    def state(df: DataFrame) -> DataFrame:
        binned = bin_cohorts(
            df,
            split_expr=split_expr,
            group_col=group_col,
            value_col=value_col,
            bin_width=bin_width,
            n_bins=n_bins,
        )
        return binned.groupBy("grp", "bin").agg(
            F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).cast("long").alias("c_ref"),
            F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).cast("long").alias("c_cur"),
        )

    return Sketch(
        state,
        lambda counts, _src: drift_from_counts(
            counts, group_col=group_col, n_bins=n_bins, psi_alarm=psi_alarm
        ),
    )


def histogram_drift(
    df: DataFrame,
    *,
    split_expr: str,
    group_col: str = "event_type",
    value_col: str = "value",
    bin_width: float = 50.0,
    n_bins: int = 10,
    psi_alarm: float = 0.25,
) -> DataFrame:
    """PSI + TV distance of ``value_col``'s histogram, reference period
    vs current period, per ``group_col``.

    ``split_expr`` is a boolean SQL expression over ``df``'s columns;
    TRUE rows form the reference cohort, FALSE rows the current one.
    Bins are fixed-width with clamped extremes (bin = clamp(floor(
    value / bin_width), 0, n_bins - 1)) so the histogram domain is
    closed and identical in both engines. Laplace-smoothed proportions
    ``p = (c_ref + 1) / (N_ref + B)`` keep empty bins finite.

    Output per group: ``n_ref``, ``n_cur`` (cohort sizes), ``psi``,
    ``tvd`` (exact-deterministic doubles) and ``drifted``
    (``psi >= psi_alarm``).
    """
    return drift_sketch(
        split_expr=split_expr,
        group_col=group_col,
        value_col=value_col,
        bin_width=bin_width,
        n_bins=n_bins,
        psi_alarm=psi_alarm,
    )(df)


def bin_cohorts(
    df: DataFrame,
    *ride: Column,
    split_expr: str,
    group_col: str,
    value_col: str,
    bin_width: float,
    n_bins: int,
) -> DataFrame:
    """Row-level cohort + bin assignment: ``(grp, is_ref, *ride, bin)``.

    A pure narrow projection, shared by the batch audit, the trend
    (whose day bucket rides along) and the streaming monitor. NULL
    metric values are dropped here — the single shared gate for batch,
    trend, streaming AND the oracles, so no path clamps a NULL into
    bin 0 while another drops it."""
    return df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("grp"),
        F.expr(split_expr).alias("is_ref"),
        *ride,
        F.least(
            F.greatest(F.floor(F.col(value_col) / F.lit(bin_width)), F.lit(0)),
            F.lit(n_bins - 1),
        )
        .cast("long")
        .alias("bin"),
    )


def _grid(counts: DataFrame, keys: list[str], n_bins: int, *cols: str) -> DataFrame:
    """``counts`` on the full ``(keys…, bin)`` grid: every key tuple it
    holds crossed with every bin, missing ``cols`` counts as 0."""
    bins = counts.sparkSession.range(n_bins).select(F.col("id").alias("bin"))
    return (
        counts.select(*keys).distinct().crossJoin(F.broadcast(bins))
        .join(counts, [*keys, "bin"], "left")
        .select(
            *keys,
            "bin",
            *[F.coalesce(c, F.lit(0).cast("long")).alias(c) for c in cols],
        )
    )


def _psi_fold(
    full: DataFrame,
    keys: list[str],
    *,
    group_col: str,
    n_bins: int,
    psi_alarm: float,
) -> DataFrame:
    """PSI/TVD per ``keys`` over a full ``(keys…, bin, c_ref, c_cur)``
    grid; ``keys[0]`` is ``grp``, output as ``group_col``."""
    totals = full.groupBy(*keys).agg(
        F.sum("c_ref").cast("long").alias("n_ref"),
        F.sum("c_cur").cast("long").alias("n_cur"),
    )
    b = F.lit(n_bins).cast("long")
    j = full.join(F.broadcast(totals), keys)
    # p - q = A / D with A, D exact BIGINTs; ln(p/q) micro-quantized.
    a = (F.col("c_ref") + 1).cast(_D14) * (F.col("n_cur") + b).cast(_D14) - (
        F.col("c_cur") + 1
    ).cast(_D14) * (F.col("n_ref") + b).cast(_D14)
    lr_micro = (
        F.round(
            F.ln(
                ((F.col("c_ref") + 1).cast("double") * (F.col("n_cur") + b).cast("double"))
                / ((F.col("c_cur") + 1).cast("double") * (F.col("n_ref") + b).cast("double"))
            )
            * F.lit(DRIFT_LR_SCALE)
        )
        .cast("long")
    )
    per = j.groupBy(*keys, "n_ref", "n_cur").agg(
        F.sum(a * lr_micro.cast("decimal(8,0)")).alias("psi_num"),
        F.sum(F.abs(a)).alias("tvd_num"),
    )
    d = (F.col("n_ref") + b).cast("double") * (F.col("n_cur") + b).cast("double")
    psi = F.col("psi_num").cast("double") / d / F.lit(float(DRIFT_LR_SCALE))
    tvd = F.col("tvd_num").cast("double") / d / F.lit(2.0)
    return per.select(
        F.col("grp").alias(group_col),
        *keys[1:],
        "n_ref",
        "n_cur",
        psi.alias("psi"),
        tvd.alias("tvd"),
        (
            F.col("psi_num")
            >= (F.col("n_ref") + b).cast(_D14)
            * (F.col("n_cur") + b).cast(_D14)
            * F.lit(_alarm_micronats(psi_alarm)).cast("decimal(8,0)")
        ).alias("drifted"),
    )


def drift_from_counts(
    counts: DataFrame,
    *,
    group_col: str = "event_type",
    n_bins: int = 10,
    psi_alarm: float = 0.25,
) -> DataFrame:
    """PSI/TVD fold over a settled ``(grp, bin, c_ref, c_cur)`` count
    table (histogram-sized — at most |groups| x n_bins rows, however
    large the corpus that produced it)."""
    return _psi_fold(
        _grid(counts, ["grp"], n_bins, "c_ref", "c_cur"),
        ["grp"],
        group_col=group_col,
        n_bins=n_bins,
        psi_alarm=psi_alarm,
    )


def histogram_drift_oracle_sql(
    *,
    split_sql: str,
    table: str = "events",
    group_col: str = "event_type",
    value_col: str = "value",
    bin_width: float = 50.0,
    n_bins: int = 10,
    psi_alarm: float = 0.25,
) -> str:
    """DuckDB restatement of :func:`histogram_drift`."""
    return f"""
WITH binned AS (
  SELECT {group_col} AS grp, ({split_sql}) AS is_ref,
         CAST(least(greatest(floor({value_col} / {bin_width!r}), 0),
                    {n_bins - 1}) AS BIGINT) AS bin
  FROM {table} WHERE {value_col} IS NOT NULL
),
counts AS (
  SELECT grp, bin,
         CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
         CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS c_cur
  FROM binned GROUP BY grp, bin
),
grid AS (
  SELECT g.grp, s.bin
  FROM (SELECT DISTINCT grp FROM binned) g
  CROSS JOIN (SELECT CAST(unnest(generate_series(0, {n_bins - 1})) AS BIGINT)
              AS bin) s
),
full_grid AS (
  SELECT grid.grp, grid.bin,
         COALESCE(c.c_ref, 0) AS c_ref, COALESCE(c.c_cur, 0) AS c_cur
  FROM grid LEFT JOIN counts c ON c.grp = grid.grp AND c.bin = grid.bin
),
totals AS (
  SELECT grp, CAST(SUM(c_ref) AS BIGINT) AS n_ref,
         CAST(SUM(c_cur) AS BIGINT) AS n_cur
  FROM full_grid GROUP BY grp
),
terms AS (
  SELECT f.grp, t.n_ref, t.n_cur,
         CAST(f.c_ref + 1 AS HUGEINT) * (t.n_cur + {n_bins})
           - CAST(f.c_cur + 1 AS HUGEINT) * (t.n_ref + {n_bins}) AS a,
         CAST(round(ln((CAST(f.c_ref + 1 AS DOUBLE)
                        * CAST(t.n_cur + {n_bins} AS DOUBLE))
                       / (CAST(f.c_cur + 1 AS DOUBLE)
                          * CAST(t.n_ref + {n_bins} AS DOUBLE)))
                    * {DRIFT_LR_SCALE}) AS BIGINT) AS lr_micro
  FROM full_grid f JOIN totals t USING (grp)
),
agg AS (
  SELECT grp, n_ref, n_cur,
         SUM(a * lr_micro) AS psi_num,
         SUM(abs(a)) AS tvd_num
  FROM terms GROUP BY grp, n_ref, n_cur
)
SELECT grp AS {group_col}, n_ref, n_cur,
       CAST(psi_num AS DOUBLE)
         / (CAST(n_ref + {n_bins} AS DOUBLE) * CAST(n_cur + {n_bins} AS DOUBLE))
         / {DRIFT_LR_SCALE} AS psi,
       CAST(tvd_num AS DOUBLE)
         / (CAST(n_ref + {n_bins} AS DOUBLE) * CAST(n_cur + {n_bins} AS DOUBLE))
         / 2.0 AS tvd,
       psi_num >= CAST(n_ref + {n_bins} AS HUGEINT)
         * (n_cur + {n_bins}) * {_alarm_micronats(psi_alarm)} AS drifted
FROM agg
"""


def histogram_drift_trend(
    df: DataFrame,
    *,
    split_expr: str,
    trend_expr: str,
    group_col: str = "event_type",
    value_col: str = "value",
    bin_width: float = 50.0,
    n_bins: int = 10,
    psi_alarm: float = 0.25,
) -> DataFrame:
    """Drift as a TIME SERIES: every current-cohort subgroup (one per
    distinct ``trend_expr`` value, e.g. a day) is compared against the
    SAME per-group reference histogram — the monitoring dashboard's
    per-day PSI line, localizing WHEN a distribution moved rather
    than only whether it did.

    Same fixed-point machinery as :func:`histogram_drift`; the only
    new shape is that the reference counts broadcast-join onto every
    trend bucket (reference side is histogram-sized, so fanning it
    out to |buckets| costs |groups| x buckets x n_bins rows — still
    sketch-scale at any corpus size).

    Output per (group, bucket): ``n_ref``, ``n_cur``, ``psi``,
    ``tvd``, ``drifted``.
    """
    binned = bin_cohorts(
        df,
        F.expr(trend_expr).alias("bucket"),
        split_expr=split_expr,
        group_col=group_col,
        value_col=value_col,
        bin_width=bin_width,
        n_bins=n_bins,
    )
    ref_grid = _grid(
        binned.filter(F.col("is_ref"))
        .groupBy("grp", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ref")),
        ["grp"],
        n_bins,
        "c_ref",
    )
    cur_grid = _grid(
        binned.filter(~F.col("is_ref"))
        .groupBy("grp", "bucket", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("c_cur")),
        ["grp", "bucket"],
        n_bins,
        "c_cur",
    )
    # Inner join: buckets only exist on the current side; a group with
    # no reference rows contributes no trend rows (promote-gates have
    # nothing to compare against).
    return _psi_fold(
        cur_grid.join(F.broadcast(ref_grid), ["grp", "bin"]),
        ["grp", "bucket"],
        group_col=group_col,
        n_bins=n_bins,
        psi_alarm=psi_alarm,
    )


def histogram_drift_trend_oracle_sql(
    *,
    split_sql: str,
    trend_sql: str,
    table: str = "events",
    group_col: str = "event_type",
    value_col: str = "value",
    bin_width: float = 50.0,
    n_bins: int = 10,
    psi_alarm: float = 0.25,
) -> str:
    """DuckDB restatement of :func:`histogram_drift_trend`."""
    return f"""
WITH binned AS (
  SELECT {group_col} AS grp, ({split_sql}) AS is_ref,
         ({trend_sql}) AS bucket,
         CAST(least(greatest(floor({value_col} / {bin_width!r}), 0),
                    {n_bins - 1}) AS BIGINT) AS bin
  FROM {table} WHERE {value_col} IS NOT NULL
),
bins AS (SELECT CAST(unnest(generate_series(0, {n_bins - 1})) AS BIGINT) AS bin),
ref_counts AS (
  SELECT grp, bin, CAST(COUNT(*) AS BIGINT) AS c_ref
  FROM binned WHERE is_ref GROUP BY grp, bin
),
ref_grid AS (
  SELECT g.grp, s.bin, COALESCE(r.c_ref, 0) AS c_ref
  FROM (SELECT DISTINCT grp FROM ref_counts) g
  CROSS JOIN bins s
  LEFT JOIN ref_counts r ON r.grp = g.grp AND r.bin = s.bin
),
cur_counts AS (
  SELECT grp, bucket, bin, CAST(COUNT(*) AS BIGINT) AS c_cur
  FROM binned WHERE NOT is_ref GROUP BY grp, bucket, bin
),
cur_grid AS (
  SELECT g.grp, g.bucket, s.bin, COALESCE(c.c_cur, 0) AS c_cur
  FROM (SELECT DISTINCT grp, bucket FROM cur_counts) g
  CROSS JOIN bins s
  LEFT JOIN cur_counts c ON c.grp = g.grp AND c.bucket = g.bucket AND c.bin = s.bin
),
fg AS (
  SELECT c.grp, c.bucket, c.bin, r.c_ref, c.c_cur
  FROM cur_grid c JOIN ref_grid r ON r.grp = c.grp AND r.bin = c.bin
),
totals AS (
  SELECT grp, bucket, CAST(SUM(c_ref) AS BIGINT) AS n_ref,
         CAST(SUM(c_cur) AS BIGINT) AS n_cur
  FROM fg GROUP BY grp, bucket
),
terms AS (
  SELECT f.grp, f.bucket, t.n_ref, t.n_cur,
         CAST(f.c_ref + 1 AS HUGEINT) * (t.n_cur + {n_bins})
           - CAST(f.c_cur + 1 AS HUGEINT) * (t.n_ref + {n_bins}) AS a,
         CAST(round(ln((CAST(f.c_ref + 1 AS DOUBLE)
                        * CAST(t.n_cur + {n_bins} AS DOUBLE))
                       / (CAST(f.c_cur + 1 AS DOUBLE)
                          * CAST(t.n_ref + {n_bins} AS DOUBLE)))
                    * {DRIFT_LR_SCALE}) AS BIGINT) AS lr_micro
  FROM fg f JOIN totals t ON t.grp = f.grp AND t.bucket = f.bucket
),
agg AS (
  SELECT grp, bucket, n_ref, n_cur,
         SUM(a * lr_micro) AS psi_num,
         SUM(abs(a)) AS tvd_num
  FROM terms GROUP BY grp, bucket, n_ref, n_cur
)
SELECT grp AS {group_col}, bucket, n_ref, n_cur,
       CAST(psi_num AS DOUBLE)
         / (CAST(n_ref + {n_bins} AS DOUBLE) * CAST(n_cur + {n_bins} AS DOUBLE))
         / {DRIFT_LR_SCALE} AS psi,
       CAST(tvd_num AS DOUBLE)
         / (CAST(n_ref + {n_bins} AS DOUBLE) * CAST(n_cur + {n_bins} AS DOUBLE))
         / 2.0 AS tvd,
       psi_num >= CAST(n_ref + {n_bins} AS HUGEINT)
         * (n_cur + {n_bins}) * {_alarm_micronats(psi_alarm)} AS drifted
FROM agg
"""
