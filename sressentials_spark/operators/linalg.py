"""Arrow-vectorized linear algebra over ``array<float>`` columns.

Two execution strategies compute the SAME IEEE arithmetic:

* **Unrolled codegen chains** (:func:`sressentials_spark.operators.
  dedup._dot`): zero Python, ideal for scoring a modest number of
  candidate pairs at a small fixed dimension. Their weakness is plan
  size — the expression tree grows linearly with ``dim`` (and
  multiplies per consumer), which bloats optimizer time and generated
  code; at 768/1024-dim it risks the JIT method limits that broke
  round 1.
* **Pandas-UDF kernels** (this module): the Arrow batch is stacked
  into an ``(n, dim)`` float64 matrix and the SAME left-associated
  fold runs per dimension, vectorized across rows
  (``acc = acc + A[:, d] * B[:, d]``). IEEE addition/multiplication
  per element happens in the identical order as the scalar fold, so
  each row's result is bit-identical to the unrolled chain and to the
  DuckDB oracle's ``list_sum`` comprehension — for ANY dimension,
  with a constant-size plan.

The kernels discover ``dim`` from the batch, so they are the
dimension-robust path: embeddings of any width work without a plan
rebuild. Use them for whole-corpus projections (norm/LSH bucketing of
every vector) and for dimensions above :data:`UNROLL_MAX_DIM`; use the
unrolled chains for small-dim pair scoring where keeping the operator
inside whole-stage codegen avoids an Arrow exchange.

Parity note (oracle gate): ``np.float64`` ops are IEEE-754 doubles —
the same hardware arithmetic the JVM uses — and the per-dimension loop
preserves the fold's association order exactly. ``np.dot``/``np.sum``
would NOT (pairwise/SIMD summation reorders additions).
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Above this dimension, unrolled expression chains give way to the
#: Arrow kernels. Two costs bound the cutoff: generated methods fall
#: out of JIT-compilable territory (round-1 lesson), and — measured in
#: round 4 — the DRIVER pays ~2s per invocation just analyzing/
#: optimizing a 64-deep left-fold tree (the exact cosine top-k ran
#: 2.7s unrolled vs 0.66s through the Arrow kernel at dim 64, 2000
#: rows: Catalyst tree-walk cost, not execution). Unrolling only pays
#: for itself on genuinely small vectors where the per-batch Arrow
#: exchange would dominate. Re-measured on IVF serving (perfbench
#: ``corpus_serve`` data, 600 vectors at dim 64, ``local[2]``, 12
#: interleaved requests, same rows): the cutoff raised to 64 served a
#: request in 1.55 s against 0.83 s through the Arrow kernel once each
#: request scans in one task wave, and 1.46 s against 1.38 s before.
UNROLL_MAX_DIM = 32


def _stack(s: pd.Series) -> np.ndarray:
    """Arrow list<float> batch → (n, dim) float64 matrix (exact cast)."""
    if len(s) == 0:
        return np.empty((0, 0), dtype=np.float64)
    return np.stack(s.to_numpy()).astype(np.float64)


def _fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot as a left-associated per-dimension fold.

    Bit-identical to ``0.0 + a[0]*b[0] + a[1]*b[1] + ...`` per row
    (dedup._dot and the oracle's ``list_sum``); vectorized across rows.
    """
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for d in range(a.shape[1]):
        acc = acc + a[:, d] * b[:, d]
    return acc


@pandas_udf(DoubleType())
def dot_arrow(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow kernel: fold-exact dot product of two vector columns."""
    A, B = _stack(a), _stack(b)
    if A.shape[0] == 0:
        return pd.Series(np.empty(0, dtype=np.float64))
    return pd.Series(_fold_dot(A, B))


@pandas_udf(LongType())
def int_dot_arrow(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow kernel: EXACT int64 dot product of two ``array<long>``
    columns. Integer addition commutes, so unlike the float kernels no
    fold-order pinning is needed — any evaluation order is the same
    number; callers are responsible for keeping magnitudes inside
    int64 (the SemDeDup grid in operators/dedup.py bounds
    ``dot <= dim * (scale/2)^2 ~ 2^24``, far under overflow)."""
    if len(a) == 0:
        return pd.Series(np.empty(0, dtype=np.int64))
    A = np.stack(a.to_numpy()).astype(np.int64)
    B = np.stack(b.to_numpy()).astype(np.int64)
    return pd.Series((A * B).sum(axis=1, dtype=np.int64))


@pandas_udf(DoubleType())
def norm_arrow(v: pd.Series) -> pd.Series:
    """Arrow kernel: fold-exact L2 norm ``sqrt(0.0 + v0*v0 + ...)``."""
    V = _stack(v)
    if V.shape[0] == 0:
        return pd.Series(np.empty(0, dtype=np.float64))
    return pd.Series(np.sqrt(_fold_dot(V, V)))


@lru_cache(maxsize=8)
def _plane_matrix(planes: int, dim: int) -> np.ndarray:
    """(planes, dim) ±1 hyperplane weights, derived from md5 parity so
    an external engine can rebuild the identical planes (the DuckDB
    oracles embed them as literals)."""
    import hashlib

    out = np.empty((planes, dim), dtype=np.float64)
    for p in range(planes):
        for d in range(dim):
            h = int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[:15], 16)
            out[p, d] = 1.0 if h % 2 == 0 else -1.0
    return out


def norm_bands_kernel(bands: int, band_bits: int):
    """Factory: Arrow kernel computing ``struct<norm, bands>`` per vector.

    ``bands * band_bits`` hyperplane sign bits are packed into
    ``bands`` long values: band ``b`` bit ``j`` is plane
    ``b * band_bits + j``, set iff the fold-exact projection is
    ``> 0`` — the arithmetic the DuckDB oracles state as
    ``CASE WHEN <projection> > 0 THEN 1 << j``. One matrix pass per
    Arrow batch; any dimension. A single LSH bucket of ``planes`` bits
    is band 0 of ``norm_bands_kernel(1, planes)``.
    """
    ret = StructType(
        [
            StructField("norm", DoubleType()),
            StructField("bands", ArrayType(LongType())),
        ]
    )

    @pandas_udf(ret)
    def f(v: pd.Series) -> pd.DataFrame:
        V = _stack(v)
        n = V.shape[0]
        if n == 0:
            return pd.DataFrame(
                {"norm": pd.Series(dtype=np.float64), "bands": pd.Series(dtype=object)}
            )
        W = _plane_matrix(bands * band_bits, V.shape[1])
        vals = np.zeros((n, bands), dtype=np.int64)
        for b in range(bands):
            for j in range(band_bits):
                proj = _fold_dot(V, np.broadcast_to(W[b * band_bits + j], V.shape))
                vals[:, b] += np.where(proj > 0, np.int64(1 << j), np.int64(0))
        return pd.DataFrame(
            {"norm": np.sqrt(_fold_dot(V, V)), "bands": list(vals)}
        )

    return f


def ivf_cells(centroid_ids: list[int], centroids: np.ndarray, nprobe: int):
    """Factory: ``assign(V) -> (norm, cells)`` for an ``(n, dim)``
    float64 matrix — each row's fold-exact L2 norm and its ``nprobe``
    nearest IVF centroid ids, an ``(n, nprobe)`` int64 matrix (cosine
    descending, centroid id ascending on ties).

    Per-centroid cosine uses the shared fold-exact dot, so the
    assignment argmax is bit-reproducible against the DuckDB oracle's
    ``list_sum`` restatement. Centroid columns are pre-sorted by id so
    a *stable* argsort on descending cosine yields the id-ascending
    tie-break for free. The one body behind both the Arrow kernel
    (:func:`ivf_cells_kernel`, a corpus pass) and a driver-side probe
    of a few collected query rows (``ivf_versioned.
    cosine_topk_ivf_versioned``): one implementation, so the two can
    never disagree on a probe list.
    """
    order = np.argsort(np.asarray(centroid_ids))
    cids = np.asarray(centroid_ids, dtype=np.int64)[order]
    C = np.asarray(centroids, dtype=np.float64)[order]
    cnorm = np.sqrt(_fold_dot(C, C))
    take = min(nprobe, len(cids))

    def assign(V: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        vnorm = np.sqrt(_fold_dot(V, V))
        cos = np.empty((V.shape[0], len(cids)), dtype=np.float64)
        for k in range(len(cids)):
            cos[:, k] = _fold_dot(V, np.broadcast_to(C[k], V.shape)) / (
                vnorm * cnorm[k]
            )
        return vnorm, cids[np.argsort(-cos, axis=1, kind="stable")[:, :take]]

    return assign


def ivf_cells_kernel(centroid_ids: list[int], centroids: np.ndarray, nprobe: int):
    """Factory: Arrow kernel assigning each vector its ``nprobe``
    nearest IVF centroids (:func:`ivf_cells`), returned as
    ``struct<norm double, cells array<long>>``.

    ``centroids`` is a small ``(K, dim)`` float64 matrix captured in
    the closure (16 × 64 doubles here — at any realistic K it rides to
    executors as task-closure bytes, the moral equivalent of a
    broadcast dim table).
    """
    assign = ivf_cells(centroid_ids, centroids, nprobe)
    ret = StructType(
        [
            StructField("norm", DoubleType()),
            StructField("cells", ArrayType(LongType())),
        ]
    )

    @pandas_udf(ret)
    def f(v: pd.Series) -> pd.DataFrame:
        V = _stack(v)
        if V.shape[0] == 0:
            return pd.DataFrame(
                {"norm": pd.Series(dtype=np.float64), "cells": pd.Series(dtype=object)}
            )
        vnorm, cells = assign(V)
        return pd.DataFrame({"norm": vnorm, "cells": list(cells)})

    return f


#: Return type of :func:`quantize_int8_arrow`. Codes travel as a CSV
#: string rather than ``array<long>`` so the driver's value-hash (a
#: per-column string canonicalization) compares them without
#: engine-specific array formatting.
_QZ_TYPE = StructType(
    [
        StructField("n_dims", LongType()),
        StructField("mn", DoubleType()),
        StructField("mx", DoubleType()),
        StructField("codes_csv", StringType()),
    ]
)


@pandas_udf(_QZ_TYPE)
def quantize_int8_arrow(v: pd.Series) -> pd.DataFrame:
    """Arrow kernel: per-vector min/max scalar quantization to 8-bit
    codes — ``code = least(255, floor((x - mn) * 255.0 / (mx - mn)))``,
    all-zero codes for a constant vector.

    Every step is IEEE double arithmetic in the same order the DuckDB
    oracle states (subtract, scale, divide, floor, clamp), so the code
    stream is bit-reproducible. This is the storage-side transform for
    a 100 TB embedding store: 4×/8× smaller vectors with ``(mn, mx)``
    per vector for dequantization; downstream ANN re-ranks the
    shortlist against the full-precision source.
    """
    V = _stack(v)
    n = V.shape[0]
    if n == 0:
        return pd.DataFrame(
            {
                "n_dims": pd.Series(dtype=np.int64),
                "mn": pd.Series(dtype=np.float64),
                "mx": pd.Series(dtype=np.float64),
                "codes_csv": pd.Series(dtype=object),
            }
        )
    mn, mx = V.min(axis=1), V.max(axis=1)
    span = mx - mn
    safe = np.where(span > 0, span, 1.0)
    codes = np.floor((V - mn[:, None]) * 255.0 / safe[:, None])
    codes = np.minimum(codes, 255.0)
    codes = np.where(span[:, None] > 0, codes, 0.0).astype(np.int64)
    return pd.DataFrame(
        {
            "n_dims": np.full(n, V.shape[1], dtype=np.int64),
            "mn": mn,
            "mx": mx,
            "codes_csv": [",".join(map(str, row)) for row in codes],
        }
    )


def dot(a: Column, b: Column, dim: int) -> Column:
    """Fold-exact dot product, dispatched by dimension.

    ``dim <= UNROLL_MAX_DIM`` → the unrolled whole-stage-codegen chain;
    larger → the Arrow kernel (identical values, constant plan size).
    """
    from sressentials_spark.operators.dedup import _dot

    if dim <= UNROLL_MAX_DIM:
        return _dot(a, b, dim)
    return dot_arrow(a, b)


def quantize_exact(A: "np.ndarray") -> "np.ndarray":
    """Exact HALF_UP quantization of a float64 matrix onto the
    ``QUANT_SCALE`` integer grid — bit-identical to Spark's
    ``F.round(x * 2^20)`` (java BigDecimal HALF_UP) and DuckDB's
    ``ROUND``: the *2^20 is an exponent shift (always exact), and the
    round is decided by the EXACT fractional part ``av - floor(av)``
    (exact for |av| < 2^52), never by a re-rounded ``av + 0.5``.
    Fuzz-pinned against DuckDB ROUND incl. adversarial near-half
    values (tests/test_similarity_ivf.py)."""
    from sressentials_spark.operators.cluster import QUANT_SCALE

    V = np.asarray(A, dtype=np.float64) * float(QUANT_SCALE)
    av = np.abs(V)
    fl = np.floor(av)
    return (np.sign(V) * (fl + (av - fl >= 0.5))).astype(np.int64)


def pq_encode_int_kernel(books: "list[tuple[np.ndarray, np.ndarray]]"):
    """Factory: Arrow kernel computing product-quantization codes
    against TRAINED integer-grid codebooks.

    ``books`` is one ``(cids, C)`` pair per subspace: ``cids`` the
    surviving centroid ids ascending, ``C`` the matching ``(|cids|,
    dsub)`` int64 centroid matrix. Each vector batch is quantized with
    :func:`quantize_exact` and each subspace slice scored by EXACT
    int64 squared L2 against all centroids; the code is the argmin's
    centroid id, ties to the smallest id (``np.argmin`` returns the
    first minimum and ``cids`` ascends). Integer arithmetic end to
    end, so the codes are bit-identical to the DuckDB restatement at
    any partitioning. Returns ``array<long>`` of length M."""
    B = [(np.asarray(cids, dtype=np.int64), np.asarray(C, dtype=np.int64))
         for cids, C in books]
    M = len(B)
    dsub = B[0][1].shape[1]

    @pandas_udf(ArrayType(LongType()))
    def f(v: pd.Series) -> pd.Series:
        V = _stack(v)
        n = V.shape[0]
        if n == 0:
            return pd.Series(dtype=object)
        Q = quantize_exact(V)
        codes = np.empty((n, M), dtype=np.int64)
        for m, (cids, C) in enumerate(B):
            sub = Q[:, m * dsub : (m + 1) * dsub]
            diff = sub[:, None, :] - C[None, :, :]
            dist = np.einsum("nkd,nkd->nk", diff, diff)
            codes[:, m] = cids[np.argmin(dist, axis=1)]
        return pd.Series(list(codes))

    return f
