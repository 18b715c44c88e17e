from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sressentials_spark.operators import sketch as K
from sressentials_spark.operators.drift import drift_sketch, histogram_drift
from sressentials_spark.operators.sketch import HLL_M, hll_distinct

SF = "/root/testdata/sf0.001"


def _estimate(spark, values, **kw):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    return hll_distinct(df, "v", **kw).collect()[0]


class TestHllDistinct:
    def test_accuracy_within_bound(self, spark):
        # RSE for m=64 is 1.04/sqrt(64) = 13%; allow 3 sigma.
        n = 5000
        row = _estimate(spark, [f"user-{i}" for i in range(n)], with_exact=True)
        assert row["exact_distinct"] == n
        assert abs(row["hll_estimate"] - n) / n < 3 * 1.04 / (HLL_M**0.5)
        assert row["small_range"] == 0

    def test_with_exact_off_by_default(self, spark):
        row = _estimate(spark, [f"user-{i}" for i in range(100)])
        assert "exact_distinct" not in row.asDict()

    def test_small_range_flagged(self, spark):
        # A handful of values sits far below the 2.5*m calibration
        # floor: the raw estimate is biased and must say so.
        row = _estimate(spark, ["a", "b", "c"])
        assert row["small_range"] == 1
        assert row["hll_estimate"] <= 2.5 * HLL_M

    def test_duplicates_do_not_move_registers(self, spark):
        ids = [f"u{i}" for i in range(500)]
        once = _estimate(spark, ids)
        thrice = _estimate(spark, ids * 3, with_exact=True)
        assert once["hll_estimate"] == thrice["hll_estimate"]
        assert once["harmonic_sum"] == thrice["harmonic_sum"]
        assert thrice["exact_distinct"] == 500

    def test_partition_invariant(self, spark):
        ids = [f"u{i}" for i in range(1000)]
        df = spark.createDataFrame([(v,) for v in ids], "v string")
        a = hll_distinct(df, "v").collect()[0]
        b = hll_distinct(df.repartition(13), "v").collect()[0]
        assert a["hll_estimate"] == b["hll_estimate"]

    def test_nulls_excluded(self, spark):
        df = spark.createDataFrame(
            [("a",), (None,), ("b",), (None,)], "v string"
        )
        row = hll_distinct(df, "v", with_exact=True).collect()[0]
        assert row["exact_distinct"] == 2
        assert row["n_nonempty_buckets"] <= 2


class TestCountMin:
    def _events(self, spark):
        from sressentials_spark.sources.tables import load_table

        return load_table(spark, SF, "events")

    def test_never_underestimates(self, spark):
        # The defining CMS guarantee: estimate >= true count, always.
        from sressentials_spark.operators.sketch import cms_probe_counts

        ev = self._events(spark)
        probes = list(range(15))
        est = {
            r["user_id"]: r["cms_estimate"]
            for r in cms_probe_counts(ev, "user_id", probes).collect()
        }
        exact = {
            r["user_id"]: r["n"]
            for r in ev.filter(F.col("user_id").isin(probes))
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        for k in probes:
            assert est[k] >= exact.get(k, 0)

    def test_sketch_size_bounded(self, spark):
        from sressentials_spark.operators.sketch import (
            CMS_D,
            CMS_W,
            cms_counters,
        )

        ev = self._events(spark)
        assert cms_counters(ev, "user_id").count() <= CMS_D * CMS_W

    def test_absent_key_can_read_zero_and_partition_invariant(self, spark):
        from sressentials_spark.operators.sketch import cms_probe_counts

        ev = self._events(spark)
        probes = [0, 1, 10**12]  # last key never occurs
        a = cms_probe_counts(ev, "user_id", probes).collect()
        b = cms_probe_counts(ev.repartition(13), "user_id", probes).collect()
        assert [r.asDict() for r in a] == [r.asDict() for r in b]
        ghost = [r for r in a if r["user_id"] == 10**12][0]
        # Collisions may inflate it, but it can never exceed the worst
        # single-row counter; with 1000 rows over 256 columns it is
        # far below the true-key estimates.
        assert ghost["cms_estimate"] >= 0


class TestHistogramQuantiles:
    def test_within_one_bin_of_exact(self, spark):
        from sressentials_spark.operators.sketch import histogram_quantiles
        from sressentials_spark.sources.tables import load_table

        ev = load_table(spark, SF, "events")
        rows = {
            r["quantile"]: r
            for r in histogram_quantiles(ev, "value").collect()
        }
        exact = ev.selectExpr(
            "percentile(value, array(0.5, 0.9, 0.99)) AS p"
        ).collect()[0]["p"]
        for q, x in zip((50, 90, 99), exact):
            r = rows[q]
            # The true percentile must land inside (or at the edge of)
            # the reported bin: resolution = one bin width.
            assert r["bin_lo"] <= x <= r["bin_hi"] + 1e-9, (q, x, r)

    def test_counts_partition_invariant(self, spark):
        from sressentials_spark.operators.sketch import histogram_quantiles
        from sressentials_spark.sources.tables import load_table

        ev = load_table(spark, SF, "events")
        a = [r.asDict() for r in histogram_quantiles(ev, "value").collect()]
        b = [
            r.asDict()
            for r in histogram_quantiles(ev.repartition(17), "value").collect()
        ]
        assert a == b

    def test_merge_is_elementwise_sum(self, spark):
        # Union property: summing two shards' bin counts must equal the
        # whole input's bin counts (what makes the sketch mergeable).
        from pyspark.sql import functions as F
        from sressentials_spark.operators.sketch import HIST_BINS

        df = spark.range(1000).select(
            (F.col("id") % 97).cast("double").alias("v")
        )
        a, b = df.filter("id < 400"), df.filter("id >= 400")

        def bins(d):
            return {
                r["bin"]: r["n"]
                for r in d.select(
                    F.least(F.lit(HIST_BINS - 1), F.floor("v").cast("long")).alias("bin")
                )
                .groupBy("bin")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }

        whole, ba, bb = bins(df), bins(a), bins(b)
        merged = {k: ba.get(k, 0) + bb.get(k, 0) for k in set(ba) | set(bb)}
        assert merged == whole


class TestBloom:
    def _build_probe(self, spark, members, probes):
        from sressentials_spark.operators.sketch import bloom_bits, bloom_probe

        m = spark.createDataFrame([(v,) for v in members], "fp string")
        p = spark.createDataFrame([(v,) for v in probes], "fp string")
        bits = bloom_bits(m, "fp")
        return {
            r["fp"]: r["bloom_maybe"]
            for r in bloom_probe(bits, p, "fp").collect()
        }

    def test_members_never_read_zero(self, spark):
        # The defining Bloom guarantee: no false negatives, ever.
        members = [f"key-{i}" for i in range(500)]
        out = self._build_probe(spark, members, members)
        assert all(v == 1 for v in out.values())

    def test_nonmembers_mostly_read_zero_at_low_fill(self, spark):
        members = [f"key-{i}" for i in range(200)]
        ghosts = [f"ghost-{i}" for i in range(200)]
        out = self._build_probe(spark, members, ghosts)
        # fill ratio ~1% at m=65536 -> expected FPs ~0; allow a couple.
        assert sum(out.values()) <= 2

    def test_union_is_relational_union(self, spark):
        from sressentials_spark.operators.sketch import bloom_bits

        a = spark.createDataFrame([(f"a{i}",) for i in range(50)], "fp string")
        b = spark.createDataFrame([(f"b{i}",) for i in range(50)], "fp string")
        both = a.union(b)
        merged = bloom_bits(a, "fp").union(bloom_bits(b, "fp")).distinct()
        direct = bloom_bits(both, "fp")
        assert {r["bit"] for r in merged.collect()} == {
            r["bit"] for r in direct.collect()
        }


_DRIFT_SPLIT = "ts < timestamp'2024-01-16 00:00:00'"
_PROBES = list(range(10))

#: Each streamed sketch, as (state/fold pair, batch operator).
_STREAM_CASES = {
    "hll": (K.hll_sketch("user_id"), lambda ev: K.hll_distinct(ev, "user_id")),
    "cms_probe": (
        K.cms_probe_sketch("user_id", _PROBES),
        lambda ev: K.cms_probe_counts(ev, "user_id", _PROBES),
    ),
    "histogram": (
        K.histogram_sketch("value"),
        lambda ev: K.histogram_quantiles(ev, "value"),
    ),
    "drift": (
        drift_sketch(split_expr=_DRIFT_SPLIT),
        lambda ev: histogram_drift(ev, split_expr=_DRIFT_SPLIT),
    ),
    "f2": (K.cms_f2_sketch("user_id"), lambda ev: K.cms_f2_estimate(ev, "user_id")),
}


def _rows(df):
    return sorted((r.asDict() for r in df.collect()), key=repr)


@pytest.fixture(scope="module")
def two_batch_events(tmp_path_factory):
    """The sf0.001 events as two files — even rows, then odd rows — so
    a one-file-per-trigger replay runs two micro-batches and every
    state row gets partials from both."""
    import os

    import pyarrow.parquet as pq

    events = pq.read_table(os.path.join(SF, "events.parquet"))
    d = tmp_path_factory.mktemp("two_batch_events")
    for i, name in enumerate(["ev_a.parquet", "ev_b.parquet"]):
        path = str(d / name)
        pq.write_table(events.take(list(range(i, events.num_rows, 2))), path)
        os.utime(path, (1_000_000 * (i + 1),) * 2)
    return str(d)


@pytest.mark.parametrize("case", sorted(_STREAM_CASES))
def test_stream_sketch_merges_two_batches_to_batch_result(
    spark, two_batch_events, case
):
    """Per-batch partial state must merge in streaming state to exactly
    the batch state, so the shared fold answers identically, row for
    row."""
    from sressentials_spark.sources.tables import load_table
    from sressentials_spark.streaming.sketch import run_sketch_stream

    sketch, batch_op = _STREAM_CASES[case]
    streamed = run_sketch_stream(spark, two_batch_events, *sketch, glob="*.parquet")
    batch = batch_op(load_table(spark, SF, "events"))
    assert streamed.columns == batch.columns
    assert _rows(streamed) == _rows(batch)


class TestEmptyInputs:
    """Empty-stream behavior: sketches must degrade loudly or to
    well-defined zeros, never crash or claim significance."""

    def test_cms_empty_stream_not_heavy(self, spark):
        from sressentials_spark.operators.sketch import cms_probe_counts

        empty = spark.createDataFrame([], "user_id long")
        rows = cms_probe_counts(empty, "user_id", [0, 1]).collect()
        assert len(rows) == 2
        for r in rows:
            assert r["cms_estimate"] == 0
            assert r["total_rows"] == 0
            assert r["heavy"] == 0  # 0 >= 0 must NOT read as heavy

    def test_histogram_empty_stream_yields_no_quantiles(self, spark):
        from sressentials_spark.operators.sketch import histogram_quantiles

        empty = spark.createDataFrame([], "value double")
        assert histogram_quantiles(empty, "value").count() == 0

    def test_bloom_empty_filter_rejects_everything(self, spark):
        from sressentials_spark.operators.sketch import bloom_bits, bloom_probe

        empty = spark.createDataFrame([], "fp string")
        probes = spark.createDataFrame([("x",), ("y",)], "fp string")
        out = bloom_probe(bloom_bits(empty, "fp"), probes, "fp").collect()
        assert {r["bloom_maybe"] for r in out} == {0}


def test_quantile_error_eval_invariants(spark):
    """The exact percentile always lands inside the sketch's chosen
    bin (in_bin == 1 is an invariant, not an observation), and the
    measured error respects the bin-resolution bound (< 100 cents,
    and <= 50 from the midpoint means err_cents <= 99 worst case)."""
    from sressentials_spark.operators.sketch import quantile_error_eval
    from sressentials_spark.sources.tables import load_table

    out = quantile_error_eval(
        load_table(spark, SF, "events"), "value"
    ).toPandas()
    assert len(out) == 3
    assert (out["in_bin"] == 1).all()
    assert (out["err_cents"] < 100).all()


def test_hll_set_algebra_invariants(spark):
    """Union estimate dominates both inputs (registers only grow under
    merge) and the exact intersection is a real non-trivial overlap."""
    from sressentials_spark.operators.sketch import hll_set_algebra
    from sressentials_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    row = hll_set_algebra(
        load_table(spark, SF, "events"),
        "user_id",
        F.col("event_type") == "view",
        F.col("event_type") == "purchase",
    ).collect()[0]
    assert row.est_union >= max(row.est_a, row.est_b) - 1e-9
    assert row.exact_intersection > 0
    assert row.est_intersection == row.est_a + row.est_b - row.est_union


def test_cms_f2_never_undershoots_and_is_exact_without_collisions(spark):
    from sressentials_spark.operators.sketch import cms_f2_estimate

    # Skewed stream: key 1 x 50, key 2 x 10, keys 100..119 x 1.
    rows = [(1,)] * 50 + [(2,)] * 10 + [(100 + i,) for i in range(20)]
    df = spark.createDataFrame(rows, "user_id long")
    out = cms_f2_estimate(df, "user_id").collect()[0]
    exact = 50 * 50 + 10 * 10 + 20
    assert out["exact_f2"] == exact
    # AMS guarantee: the sketch estimate never undershoots.
    assert out["cms_f2_estimate"] >= exact
    assert out["over_permille"] >= 0


def test_cms_joinsize_never_undershoots(spark):
    from sressentials_spark.operators.sketch import cms_joinsize_estimate

    a = spark.createDataFrame(
        [(1,)] * 10 + [(2,)] * 5 + [(3,)] * 1, "k long"
    )
    b = spark.createDataFrame(
        [(1,)] * 4 + [(3,)] * 7 + [(9,)] * 100, "k long"
    )
    out = cms_joinsize_estimate(a, "k", b, "k").collect()[0]
    assert out["exact_joinsize"] == 10 * 4 + 1 * 7
    assert out["cms_joinsize_estimate"] >= out["exact_joinsize"]
    assert out["over_permille"] >= 0


def test_cms_joinsize_disjoint_keys(spark):
    from sressentials_spark.operators.sketch import cms_joinsize_estimate

    a = spark.createDataFrame([(1,), (2,)], "k long")
    b = spark.createDataFrame([(7,), (8,)], "k long")
    out = cms_joinsize_estimate(a, "k", b, "k").collect()[0]
    # Exact is zero; the estimate may be positive (collisions) but the
    # guard division must not blow up on the zero denominator...
    assert out["exact_joinsize"] == 0
