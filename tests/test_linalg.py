"""Arrow linalg kernels: fold parity with the scalar reference, and
dimension robustness (the round-2 unrolled chains were hardwired to
dim 64 — VERDICT r2 flagged 768/1024-dim corpora as the recurrence of
round 1's JIT-limit failure)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

from sressentials_spark.operators import linalg
from sressentials_spark.operators.dedup import _dot
from sressentials_spark.operators.similarity import attach_norm_bucket, multiprobe_buckets


def _mk_vectors(spark, n: int, dim: int, seed: int = 7):
    rng = random.Random(seed)
    rows = [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(dim)]) for i in range(n)
    ]
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    return spark.createDataFrame(rows, schema), rows


def _fold(a: list[float], b: list[float]) -> float:
    """Scalar left-associated fold — the semantic ground truth shared
    by the unrolled chains, the Arrow kernels, and the DuckDB oracle."""
    import struct

    def f32(x: float) -> float:  # replicate the float32 storage round-trip
        return struct.unpack("f", struct.pack("f", x))[0]

    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + f32(x) * f32(y)
    return acc


def test_dot_arrow_matches_scalar_fold_dim256(spark):
    df, rows = _mk_vectors(spark, 50, 256)
    got = {
        r["vec_id"]: r["dot"]
        for r in df.select(
            "vec_id",
            linalg.dot(F.col("embedding"), F.col("embedding"), 256).alias("dot"),
        ).collect()
    }
    for vid, vec in rows:
        assert got[vid] == _fold(vec, vec)  # bit-exact, not approx


def test_dot_dispatch_unrolled_vs_arrow_bit_identical(spark):
    """Below the cutoff the dispatcher unrolls; both backends must be
    bit-identical on the same data."""
    df, _ = _mk_vectors(spark, 40, 32)
    out = df.select(
        _dot(F.col("embedding"), F.col("embedding"), 32).alias("unrolled"),
        linalg.dot_arrow(F.col("embedding"), F.col("embedding")).alias("arrow"),
    ).collect()
    assert all(r["unrolled"] == r["arrow"] for r in out)
    assert linalg.dot(F.col("embedding"), F.col("embedding"), 32) is not None


def test_norm_bucket_dim256(spark):
    """attach_norm_bucket discovers the batch dimension — a 256-dim
    corpus buckets/norms without any plan change — and the driver-side
    probe sequence's own bucket is the kernel's, so single-probe LSH is
    ``nprobe=1``."""
    df, rows = _mk_vectors(spark, 30, 256)
    got = {
        r["vec_id"]: (r["norm"], r["bucket"], r["embedding"])
        for r in attach_norm_bucket(df).collect()
    }
    planes = linalg._plane_matrix(6, 256)
    for vid, vec in rows:
        import math

        norm = math.sqrt(_fold(vec, vec))
        bucket = 0
        for p in range(6):
            if _fold(vec, list(planes[p])) > 0:
                bucket += 1 << p
        assert got[vid][:2] == (norm, bucket)
        assert multiprobe_buckets(got[vid][2], 6, 1) == [bucket]


def test_dot_dim_mismatch_raises(spark):
    """A declared dim that disagrees with the data must fail loudly —
    the unguarded chain silently truncated longer vectors (ADVICE r2)."""
    df, _ = _mk_vectors(spark, 5, 64)
    with pytest.raises(Exception, match="expected 32-element"):
        df.select(_dot(F.col("embedding"), F.col("embedding"), 32)).collect()


def test_norm_bands_kernel_matches_scalar(spark):
    """Multi-long band signatures (bands*bits > 64 planes) match the
    scalar fold bit-for-bit, at a non-default dimension."""
    bands, bits, dim = 16, 8, 96
    df, rows = _mk_vectors(spark, 20, dim)
    got = {
        r["vec_id"]: (r["nb"]["norm"], list(r["nb"]["bands"]))
        for r in df.select(
            "vec_id",
            linalg.norm_bands_kernel(bands, bits)(F.col("embedding")).alias("nb"),
        ).collect()
    }
    planes = linalg._plane_matrix(bands * bits, dim)
    import math

    for vid, vec in rows:
        want = []
        for b in range(bands):
            val = 0
            for j in range(bits):
                if _fold(vec, list(planes[b * bits + j])) > 0:
                    val += 1 << j
            want.append(val)
        assert got[vid] == (math.sqrt(_fold(vec, vec)), want)


def test_empty_corpus(spark):
    df, _ = _mk_vectors(spark, 0, 8)
    assert attach_norm_bucket(df).count() == 0
    assert df.select(linalg.norm_arrow("embedding")).count() == 0


class TestQuantizeInt8:
    def _run(self, spark, vecs):
        from pyspark.sql import functions as F
        from sressentials_spark.operators.linalg import quantize_int8_arrow

        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>",
        )
        return (
            df.select("vec_id", quantize_int8_arrow(F.col("embedding")).alias("q"))
            .select("vec_id", "q.*")
            .collect()
        )

    def test_codes_span_full_range_and_roundtrip(self, spark):
        rows = self._run(spark, [[0.0, 1.0, 0.5, 0.25]])
        r = rows[0].asDict()
        codes = [int(c) for c in r["codes_csv"].split(",")]
        assert min(codes) == 0 and max(codes) == 255
        # Dequantized values stay within one quantization step.
        step = (r["mx"] - r["mn"]) / 255.0
        orig = [0.0, 1.0, 0.5, 0.25]
        for c, x in zip(codes, orig):
            assert abs((r["mn"] + c * step) - x) <= step

    def test_constant_vector_is_all_zero_codes(self, spark):
        r = self._run(spark, [[2.5, 2.5, 2.5]])[0].asDict()
        assert r["codes_csv"] == "0,0,0"
        assert r["mn"] == r["mx"] == 2.5

    def test_codes_never_exceed_255(self, spark):
        import random

        random.seed(7)
        vecs = [[random.uniform(-3, 3) for _ in range(64)] for _ in range(50)]
        for row in self._run(spark, vecs):
            codes = [int(c) for c in row["codes_csv"].split(",")]
            assert all(0 <= c <= 255 for c in codes)
            assert len(codes) == row["n_dims"] == 64
