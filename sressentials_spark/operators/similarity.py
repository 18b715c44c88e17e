"""Similarity search over an embedding column (``array<float>``).

* :func:`cosine_topk` — brute-force exact top-k: the (small) query set
  is collected driver-side and broadcast against the corpus, scored
  with a deterministic double chain, ranked with a per-query window.
  The correctness baseline; one shuffle (the window partition by query
  id), corpus scanned once.
* :func:`cosine_topk_lsh` — the scale path: random-hyperplane LSH
  buckets (sign-bit signature from deterministic ±1 planes, band 0 of
  the one sign-band kernel the banded near-dup detectors use) so each
  query scores only its ``nprobe`` most promising buckets: its own
  (``nprobe=1``, the single-probe index) plus the buckets across its
  lowest-margin planes (multi-probe). Recall < 1 by design; the planes
  are md5-derived so the result is bit-reproducible in SQL.

Execution-shape notes (rounds 1-2 both lost time here):

* Pair-scoring dot products are unrolled fixed-dimension arithmetic
  chains (:func:`sressentials_spark.operators.dedup._dot`) —
  whole-stage codegen, bit-identical to a sequential fold. Spark's
  array HOFs (``aggregate``/``zip_with``) evaluate per element in the
  expression interpreter (~3 ms per 64-dim dot in round 1).
* The whole-corpus norm+bucket projection uses the Arrow kernel
  (:func:`sressentials_spark.operators.linalg.norm_bands_kernel`)
  instead: one ``(n, dim)`` float64 matrix pass per batch, fold-exact
  per row. Round 2 unrolled norm + 6 plane projections into one
  ~3000-node expression tree; it stayed codegen'd but never reached
  JIT-optimal code (~50 µs/row) and was hardwired to dim 64.
* The query set is collected to the driver (a handful of rows — the
  same pushed-down ``vec_id`` filter either way) and re-emitted as a
  local relation, so the corpus side is the only instance of the
  scoring expressions in the final plan.

At 100 TB the brute-force variant is a full corpus scan per query
batch (still the right tool for small query sets — it's one pass and
embarrassingly parallel); the LSH variant turns that into a bucket-join
whose fan-in is corpus/2^planes per query.
"""

from __future__ import annotations

import glob as globmod
import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sressentials_spark.artifacts import get_or_build, tracked_persist
from sressentials_spark.operators.dedup import DEFAULT_DIM, md5_long, with_norm
from sressentials_spark.localrel import local_df
from sressentials_spark.operators.linalg import (
    _plane_matrix,
    dot,
    ivf_cells_kernel,
    norm_bands_kernel,
)

#: Number of hyperplanes (sign bits) for the LSH bucketing.
LSH_PLANES = 6

#: IVF geometry: number of coarse cells (centroids) and how many cells
#: each query probes. 16 cells × 4 probes ≈ scan 1/4 of the corpus per
#: query under a uniform cell distribution; tune both with corpus size
#: (classic IVF sizing is K ≈ sqrt(n) with nprobe a recall knob).
IVF_CELLS = 16
IVF_NPROBE = 4
IVF_SEED = "ivf-v1"


def attach_norm_bucket(
    emb: DataFrame, vec_col: str = "embedding", planes: int = LSH_PLANES
) -> DataFrame:
    """Attach ``norm`` and ``bucket`` via the Arrow kernel: the bucket
    is the one band of ``norm_bands_kernel(1, planes)``.

    This is a whole-corpus projection — every vector pays norm + all
    ``planes`` projections — so it uses the vectorized pandas-UDF path
    (:mod:`sressentials_spark.operators.linalg`): one ``(n, dim)``
    matrix pass per Arrow batch, fold-exact per row, constant-size
    plan for any dimension (the kernel reads the width from each
    batch). The unrolled expression form of the same arithmetic
    (round 2) cost ~50 µs/row even codegen'd — a 3000-node tree never
    reaches JIT-optimal code — and was hardwired to ``dim`` = 64.
    """
    nb = norm_bands_kernel(1, planes)(F.col(vec_col))
    return emb.withColumn("_nb", nb).select(
        *emb.columns,
        F.col("_nb.norm").alias("norm"),
        F.col("_nb.bands")[0].alias("bucket"),
    )


def _cached_corpus(emb: DataFrame, tag: str, params: tuple, builder):
    """Session-cache an annotated corpus (norm / norm+bucket / IVF
    cells) through the shared artifact registry: every similarity
    query over the same corpus plan reuses ONE materialization — the
    way a real embedding store builds its index once and serves many
    query batches — released by ``artifacts.release_persisted``."""
    return get_or_build(
        emb.sparkSession,
        ("sim", tag, emb) + params,
        lambda: tracked_persist(builder()),
    )


def _collect_queries(
    corpus: DataFrame, query_ids: list[int], id_col: str, cols: list[str]
) -> DataFrame:
    """Materialize the (tiny) query rows as a local relation.

    The ``vec_id IN (...)`` filter is pushed to the scan, so this is a
    handful of rows either way — but re-emitting them as literals means
    the unrolled norm/bucket chains appear ONCE in the final plan (the
    corpus side) instead of twice. This is the standard query-batch
    pattern at scale too: the query set rides with the job, the corpus
    never moves.
    """
    rows = corpus.filter(F.col(id_col).isin(query_ids)).select(*cols).collect()
    schema = corpus.select(*cols).schema
    return local_df(corpus.sparkSession, rows, schema)


def cosine_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector."""
    corpus = _cached_corpus(emb, "norm", (dim,), lambda: with_norm(emb, dim=dim))
    queries = _collect_queries(
        corpus, query_ids, id_col, [id_col, "embedding", "norm"]
    ).select(
        F.col(id_col).alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    scored = (
        F.broadcast(queries)
        .join(corpus, F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            (
                dot(F.col("qv"), F.col("embedding"), dim)
                / (F.col("qnorm") * F.col("norm"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def ivf_seed_centroids(
    emb: DataFrame,
    n_cells: int = IVF_CELLS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = IVF_SEED,
):
    """Pick ``n_cells`` deterministic IVF centroids: the vectors whose
    ids hash smallest under the shared 60-bit md5 recipe.

    Hash-seeding instead of k-means keeps the index bit-reproducible
    (and SQL-restateable); the selection is a ``TakeOrdered`` top-K —
    map-side partial top-K per partition, K rows to the driver, no full
    sort — so it costs one corpus scan at any scale. Returns
    ``(ids, (K, dim) float64 matrix)``.
    """
    import numpy as np

    h = md5_long(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")))
    rows = (
        emb.select(F.col(id_col), F.col(vec_col))
        .withColumn("_h", h)
        .orderBy("_h", id_col)
        .limit(n_cells)
        .collect()
    )
    ids = [r[id_col] for r in rows]
    mat = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    return ids, mat


def cosine_topk_ivf(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_cells: int = IVF_CELLS,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    dim: int = DEFAULT_DIM,
    filter_col: str | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer.

    Every corpus vector is assigned to its nearest of ``n_cells``
    centroids (one Arrow-kernel pass — norm + K fold-exact cosines per
    vector); each query scores only the vectors living in its
    ``nprobe`` nearest cells. Recall < 1 by design, the complement of
    the hyperplane-LSH path: IVF prunes by *data-adaptive regions*
    (good when the corpus clusters), LSH by fixed random planes.

    At 100 TB the cell id becomes the physical partition key: write the
    corpus partitioned by ``cell`` and a query batch reads only its
    probed partitions (partition pruning at the scan — the IVF "read
    1/K of the index" effect); the per-batch plan here (broadcast query
    rows against a cell-filtered corpus scan, one window per query) is
    unchanged.

    ``filter_col`` turns this into *filtered* ANN — the production
    vector-search pattern: each query only scores corpus vectors whose
    ``filter_col`` equals its own (e.g. same tenant/language/split).
    The predicate composes with the cell equi-join, so it prunes
    *inside* the probed cells; the shared IVF index is built on the
    unfiltered corpus, as a real deployment would.
    """
    annotated = _cached_corpus(
        emb, "ivf", (n_cells, nprobe), lambda: ivf_annotate(emb, n_cells, nprobe, id_col)
    )
    return _ivf_query(
        annotated, query_ids, k, id_col, dim, filter_col, prune_cells=False
    )


def ivf_annotate(
    emb: DataFrame,
    n_cells: int = IVF_CELLS,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
) -> DataFrame:
    """The corpus with IVF annotations attached: ``norm``, the
    ``nprobe`` nearest ``cells``, and the home ``cell`` (first probe).
    One Arrow-kernel pass over the corpus."""
    ids, mat = ivf_seed_centroids(emb, n_cells, id_col=id_col)
    return ivf_annotate_frozen(emb, ids, mat, nprobe)


def ivf_annotate_frozen(
    emb: DataFrame,
    centroid_ids: list[int],
    centroid_mat,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """:func:`ivf_annotate` against FROZEN centroids, the assignment
    pass index INGEST needs: new batches are placed by the centroids
    captured at build time (persisted in the versioned index's
    manifest), never re-seeded — re-seeding would reshuffle every
    existing vector's cell and turn an append into a rebuild."""
    kern = ivf_cells_kernel(centroid_ids, centroid_mat, nprobe)
    return emb.withColumn("_nc", kern(F.col("embedding"))).select(
        *emb.columns,
        F.col("_nc.norm").alias("norm"),
        F.col("_nc.cells").alias("cells"),
        F.element_at("_nc.cells", 1).alias("cell"),
    )


def build_ivf_index(
    emb: DataFrame,
    base_path: str,
    n_cells: int = IVF_CELLS,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
) -> str:
    """Materialize the IVF cell assignment as a CELL-PARTITIONED
    parquet store — the serve-side index artifact.

    Each corpus vector lands in its home cell's directory, so a query
    batch's scan is pruned to its probed cells at the PARTITION level
    (``PartitionFilters`` — whole directories skipped before any I/O;
    pinned by tests/test_sinks.py). This realizes IVF's "read
    nprobe/K of the corpus" promise physically: at 100 TB the index
    build is paid once and every query batch reads ~nprobe/n_cells of
    the data. The assignment pass is the same Arrow kernel as the
    in-session path, so serving from the store is bit-identical to
    :func:`cosine_topk_ivf`.

    The store is build-and-serve only: each row carries its probe
    list, so nothing beside the lists is persisted. An index that must
    be maintained (ingest, rebalance, compact, delete) lives on the
    manifest-versioned tier (operators/ivf_versioned.py), whose
    centroids ride inside each atomically published version."""
    from sressentials_spark import sinks

    ids, mat = ivf_seed_centroids(emb, n_cells, id_col=id_col)
    sinks.write_partitioned(
        ivf_annotate_frozen(emb, ids, mat, nprobe), base_path, ["cell"]
    )
    return base_path


def _read_sidecar_pydict(base_path: str, name: str) -> dict:
    """Read a K-row IVF-PQ index sidecar (``_coarse``/``_pq_books``)
    directly with pyarrow on the driver.

    These are bounded metadata artifacts — K centroids or M*K codebook
    rows — and every serve query loads them, so routing each load
    through a Spark job (scan + collect) paid ~0.25-0.3 s of py4j/job
    latency per sidecar per query (profiled: 0.54 s of a 2.1 s
    IVF-PQ serve was the two sidecar loads). A driver-direct read is
    both the fast path and the honest one at scale: the index's
    manifest metadata never needs a distributed scan. Shares the
    module's documented LOCAL-FILESYSTEM CONTRACT (glob/getsize
    elsewhere); an object-store port wraps this with its own reader.
    """
    import pyarrow.parquet as pq

    parts = sorted(globmod.glob(os.path.join(base_path, name, "part-*.parquet")))
    if not parts:
        raise FileNotFoundError(f"no parquet sidecar at {base_path}/{name}")
    return pq.read_table(parts).to_pydict()


def cosine_topk_ivf_from_index(
    spark,
    index_path: str,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    dim: int = DEFAULT_DIM,
    filter_col: str | None = None,
) -> DataFrame:
    """:func:`cosine_topk_ivf`, served from a persisted cell-partitioned
    index (:func:`build_ivf_index`) instead of a session-cached
    annotation: the corpus side scans ONLY the union of the query
    batch's probed cells (partition pruning), the steady-state cost a
    vector store pays per query batch once the index exists. The
    stored per-row probe lists are the probe truth: the bare store is
    never mutated after its build, so they cannot go stale."""
    return _ivf_query(
        spark.read.parquet(index_path), query_ids, k, id_col, dim, filter_col,
        prune_cells=True,
    )


def _ivf_query(
    annotated: DataFrame,
    query_ids: list[int],
    k: int,
    id_col: str,
    dim: int,
    filter_col: str | None,
    prune_cells: bool,
    queries_src: DataFrame | None = None,
) -> DataFrame:
    """Shared IVF probe plan over an annotated corpus (session-cached
    or loaded from the persisted store). ``prune_cells`` additionally
    restricts the corpus scan to the union of the queries' probed
    cells — semantically a no-op (the cell equi-join already restricts
    further, per query) but it is what turns the partitioned store
    into partition pruning at the scan. ``queries_src`` overrides
    where the query rows' probe lists come from — the versioned serve
    (operators/ivf_versioned.py) annotates the query rows against the
    centroid set of the manifest version it reads, since its lists
    store no probe arrays."""
    spark = annotated.sparkSession
    extra = [filter_col] if filter_col else []
    qcols = [id_col, "embedding", "norm", *extra, "cells"]
    qsrc = queries_src if queries_src is not None else annotated
    qrows = (
        qsrc.filter(F.col(id_col).isin(query_ids)).select(*qcols).collect()
    )
    queries = local_df(spark, qrows, qsrc.select(*qcols).schema).select(
        F.col(id_col).alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("norm").alias("qnorm"),
        *[F.col(c).alias(f"_q_{c}") for c in extra],
        F.explode("cells").alias("pcell"),
    )
    corpus = annotated
    if prune_cells:
        probed = sorted({int(c) for r in qrows for c in r["cells"]})
        corpus = corpus.filter(F.col("cell").isin(probed))
    corpus = corpus.select(F.col(id_col), "embedding", "norm", *extra, "cell")
    join_cond = (F.col("pcell") == F.col("cell")) & (
        F.col("query_id") != F.col(id_col)
    )
    for c in extra:
        join_cond = join_cond & (F.col(f"_q_{c}") == F.col(c))
    scored = (
        F.broadcast(queries)
        .join(corpus, join_cond)
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            (
                dot(F.col("qv"), F.col("embedding"), dim)
                / (F.col("qnorm") * F.col("norm"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


#: Multi-probe geometry: total buckets probed per query (own bucket +
#: ``MULTIPROBE_PROBES - 1`` single-bit flips of the lowest-margin
#: planes). 4 probes over 6 planes scores ~4/64 of the corpus — the
#: same expected fan-in as a single-probe index with 4 planes, but
#: with markedly better recall (the flipped planes are exactly the
#: ones whose sign was least certain for this query).
MULTIPROBE_PROBES = 4


def multiprobe_buckets(
    vec, planes: int = LSH_PLANES, nprobe: int = MULTIPROBE_PROBES
) -> list[int]:
    """Deterministic multi-probe bucket sequence for one query vector.

    Classic multi-probe LSH (Lv et al., VLDB'07) adapted to sign-bit
    hyperplane buckets: the query's own bucket first, then the buckets
    reached by flipping ONE plane's bit, in increasing |projection|
    (the margin — the smaller it is, the likelier the true neighbor
    lies on the other side of that plane). Tie-break on plane index.
    Arithmetic is the engine-wide sequential left fold over float64,
    so the DuckDB oracle (``list_sum`` + ``abs`` + window rank) derives
    the identical probe set bit-for-bit.
    """
    w = _plane_matrix(planes, len(vec))
    projs = []
    for p in range(planes):
        acc = 0.0
        for i in range(len(vec)):
            acc = acc + float(vec[i]) * w[p][i]
        projs.append(acc)
    base = sum((1 << p) for p in range(planes) if projs[p] > 0)
    flips = sorted(range(planes), key=lambda p: (abs(projs[p]), p))
    return [base] + [base ^ (1 << p) for p in flips[: nprobe - 1]]


def cosine_topk_lsh(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    nprobe: int = 1,
    id_col: str = "vec_id",
    dim: int = DEFAULT_DIM,
    planes: int = LSH_PLANES,
) -> DataFrame:
    """Approximate top-k scoring the query's ``nprobe`` most promising
    LSH buckets: its own bucket (``nprobe=1``, the single-probe index)
    plus the :func:`multiprobe_buckets` flips.

    ``planes`` sizes the index (expected fan-in = corpus / 2^planes per
    probe); the multi-probe recall eval pits 6 planes × 4 probes
    against a 4-plane single-probe index at equal fan-in. One corpus
    artifact per ``planes`` (norm + bucket, one Arrow pass) —
    multi-probe is a QUERY-side knob, the index is unchanged, which is
    the point: recall tuning without a rebuild. The probe sequence is
    computed driver-side per query (the query set is a handful of
    collected rows either way; its own bucket is bit-identical to the
    kernel's) and joins the corpus as ``nprobe`` bucket equi-probes
    per query; a neighbor lives in exactly one bucket, so no
    candidate dedup is needed. At 100 TB with the corpus written
    bucket-partitioned this reads ``nprobe/2^planes`` of the data per
    query batch.
    """
    corpus = _cached_corpus(
        emb, "bucket", (planes,), lambda: attach_norm_bucket(emb, planes=planes)
    )
    qrows = (
        corpus.filter(F.col(id_col).isin(query_ids))
        .select(id_col, "embedding", "norm")
        .collect()
    )
    spark = emb.sparkSession
    probe_rows = []
    for r in qrows:
        for pb in multiprobe_buckets(r["embedding"], planes, nprobe):
            probe_rows.append(
                (int(r[id_col]), list(r["embedding"]), float(r["norm"]), int(pb))
            )
    queries = local_df(
        spark,
        probe_rows,
        "query_id long, qv array<float>, qnorm double, pb long",
    )
    scored = (
        F.broadcast(queries)
        .join(
            corpus,
            (F.col("pb") == F.col("bucket"))
            & (F.col("query_id") != F.col(id_col)),
        )
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            (
                dot(F.col("qv"), F.col("embedding"), dim)
                / (F.col("qnorm") * F.col("norm"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


# --------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011) — TRAINED codebooks
# --------------------------------------------------------------------------

#: PQ geometry: M subspaces x K centroids each. dim 64 -> 16-dim
#: subvectors; codes compress a 64-float vector to M small ints.
#: Codebooks are TRAINED (integer-exact Lloyd's k-means on the
#: quantized grid, the same arithmetic as operators/cluster.py) over a
#: deterministic hash-ordered sample of PQ_TRAIN_N vectors — the FAISS
#: train-on-a-sample recipe, SQL-restateable because every step is
#: exact integer math (see pq_train_sql_ctes). The IVF-PQ path trains
#: and encodes RESIDUALS (v - home-cell centroid), the Jegou et al.
#: SIV "IVFADC with residual quantization" layout.
PQ_M = 4
PQ_K = 16
#: Rerank-tier subspace count: the M sweep (docs/ANN_EVAL.md) shows
#: finer subspaces sharpen the ADC SHORTLIST (two-stage recall 780‰ ->
#: 820‰ at equal shortlist) while pure-ADC top-k barely moves — so
#: only the rerank tier, whose final ranking is exact anyway, pays the
#: 2x code payload (~16x compression instead of ~32x).
PQ_RERANK_M = 8
PQ_SEED = "pq-v1"
#: Training-sample size: the PQ_TRAIN_N corpus vectors whose ids hash
#: smallest under the shared md5 recipe (one TakeOrdered scan at any
#: corpus size — at 100 TB the sample, not the corpus, pays training).
PQ_TRAIN_N = 2048
#: Lloyd's rounds; matched by the unrolled SQL restatement.
PQ_ITERS = 3


def _trunc_div(s: int, n: int) -> int:
    """Truncating integer division — Spark ``div`` / DuckDB ``//``."""
    q = abs(s) // n
    return q if s >= 0 else -q


def _lloyd_int(P, ids, k: int, iters: int):
    """Integer-exact Lloyd's k-means on a (n, d) int64 matrix —
    driver-side twin of :func:`sressentials_spark.operators.cluster.
    kmeans_quantized`'s arithmetic (init = rows of the ``k`` smallest
    ids; argmin tie-breaks to the lowest centroid id; centroid update
    = truncated integer mean; empty clusters drop). n is the TRAINING
    SAMPLE (<= PQ_TRAIN_N), so this is pure driver math — the way
    FAISS trains codebooks on a sample while the cluster encodes the
    corpus. Returns ``(cids, C)``: surviving centroid ids ascending
    and the matching (|cids|, d) int64 matrix."""
    import numpy as np

    order = np.argsort(np.asarray(ids, dtype=np.int64), kind="stable")
    cents = {cid: P[order[cid]].copy() for cid in range(min(k, len(order)))}
    for _ in range(iters):
        cids = sorted(cents)
        C = np.stack([cents[c] for c in cids])
        diff = P[:, None, :] - C[None, :, :]
        dist = np.einsum("nkd,nkd->nk", diff, diff)
        a = np.argmin(dist, axis=1)  # first min = lowest cid (sorted)
        nxt = {}
        for j, cid in enumerate(cids):
            mask = a == j
            cnt = int(mask.sum())
            if cnt == 0:
                continue  # empty cluster drops, like the SQL update CTE
            sums = P[mask].sum(axis=0, dtype=np.int64)
            nxt[cid] = np.array(
                [_trunc_div(int(x), cnt) for x in sums], dtype=np.int64
            )
        cents = nxt
    cids = sorted(cents)
    import numpy as _np

    return _np.array(cids, dtype=_np.int64), _np.stack([cents[c] for c in cids])


def pq_train_codebooks(
    emb: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    seed: str = PQ_SEED,
    residual_coarse: dict | None = None,
):
    """Train per-subspace PQ codebooks on the deterministic sample.

    ``residual_coarse = {cid: integer centroid}`` (a TRAINED coarse
    quantizer from cluster.kmeans_fit_centroids) switches to RESIDUAL
    training for the IVF-PQ path: each sample vector is assigned its
    home cell by exact integer L2 argmin against the coarse centroids
    (ties to the lowest cid — the assign_clusters rule, replicated
    here in driver numpy on the identical int64 inputs) and the
    codebooks are trained on ``v - centroid(cell)``. Residuals against
    TRAINED cells are what make PQ codes sharp: within a k-means cell
    the residual spread is a fraction of the corpus spread, so the
    same K centroids quantize it with far less error (hash-seeded
    cells measurably do NOT shrink residuals — docs/ANN_EVAL.md).

    Returns ``[(cids, C_int64), ...]`` — one surviving-centroid set
    per subspace, on the QUANT_SCALE integer grid.

    Trained once per (corpus plan, params) per session: a disk-tier
    session artifact (driver-side numpy tensors), so the codebooks
    survive ``release_persisted`` like the index stores built on them."""
    import numpy as np

    from sressentials_spark.operators.cluster import QUANT_SCALE
    from sressentials_spark.operators.linalg import quantize_exact

    def train():
        ids, mat = ivf_seed_centroids(
            emb, n_cells=PQ_TRAIN_N, id_col=id_col, seed=seed
        )
        if residual_coarse is not None:
            cids_c = sorted(residual_coarse)
            Cc = np.array([residual_coarse[c] for c in cids_c], dtype=np.int64)
            Q = quantize_exact(mat)
            diff = Q[:, None, :] - Cc[None, :, :]
            home = np.argmin(np.einsum("nkd,nkd->nk", diff, diff), axis=1)
            mat = mat - Cc[home].astype(np.float64) / float(QUANT_SCALE)
        dim = mat.shape[1]
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by {m} subspaces")
        dsub = dim // m
        Q = quantize_exact(mat)
        return [
            _lloyd_int(Q[:, mi * dsub : (mi + 1) * dsub], ids, k, iters)
            for mi in range(m)
        ]

    rkey = (
        None
        if residual_coarse is None
        else tuple(sorted((c, tuple(v)) for c, v in residual_coarse.items()))
    )
    return get_or_build(
        emb.sparkSession,
        ("pqbooks", emb, m, k, iters, seed, rkey),
        train,
        tier="disk",
    )


def pq_books_float(books):
    """Codebooks as exact float64 centroids (``int / 2^20`` — an
    exponent-shift division, always exact) for ADC table building."""
    from sressentials_spark.operators.cluster import QUANT_SCALE

    return [(cids, C.astype("float64") / float(QUANT_SCALE)) for cids, C in books]


def pq_train_sql_ctes(
    *,
    src: str,
    vec: str = "embedding",
    dim: int = 64,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    train_n: int = PQ_TRAIN_N,
    seed: str = PQ_SEED,
    prefix: str = "pq",
    train_src: str | None = None,
) -> str:
    """DuckDB CTE fragment (comma-joined, no leading WITH) restating
    the trained-PQ pipeline bit-for-bit: hash-ordered training sample
    -> integer quantization -> ``iters`` unrolled Lloyd's rounds per
    subspace (truncating ``//`` means, (dist, cid) tie-break — the
    kmeans_oracle_ctes recipe with an extra ``m`` key) -> final
    ``{prefix}_books(m, cid, cq)`` and full-``src`` codes
    ``{prefix}_codes(vec_id, m, code)``.

    ``src`` must expose ``(vec_id, {vec})`` with DOUBLE-castable list
    elements (raw embeddings or residual lists alike). ``train_src``
    (default ``src``) restricts the TRAINING sample to a subset while
    codes still cover all of ``src`` — the frozen-codebook ingest
    restatement trains on the history slice and encodes history +
    ingested batch alike (mirrors build-then-ingest under frozen
    ``_pq_books``)."""
    from sressentials_spark.operators.cluster import QUANT_SCALE

    dsub = dim // m
    p = prefix

    def qslice(alias: str) -> str:
        return (
            f"[CAST(ROUND(CAST({alias}.{vec}[_m.m*{dsub}+j] AS DOUBLE)"
            f" * {float(QUANT_SCALE)!r}) AS BIGINT)"
            f" for j in generate_series(1, {dsub})]"
        )

    def assign(name: str, pts: str, cents: str, code_alias: str) -> str:
        return (
            f"{p}_{name} AS (SELECT vec_id, m, q, cluster AS {code_alias} FROM ("
            f"SELECT vec_id, m, q, cluster, "
            f"ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, cluster)"
            f" AS rn FROM ("
            f"SELECT pp.vec_id, pp.m, pp.q, c.cid AS cluster, "
            f"CAST(list_sum([(pp.q[j] - c.cq[j]) * (pp.q[j] - c.cq[j]) "
            f"for j in generate_series(1, {dsub})]) AS BIGINT) AS dist "
            f"FROM {p}_{pts} pp JOIN {p}_{cents} c ON c.m = pp.m)) WHERE rn = 1)"
        )

    parts = [
        f"{p}_tr AS (SELECT vec_id, {vec} FROM {train_src or src} "
        f"ORDER BY ('0x' || substring(md5('{seed}:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT, vec_id "
        f"LIMIT {train_n})",
        f"{p}_subs AS (SELECT unnest(generate_series(0, {m - 1})) AS m)",
        f"{p}_pts AS (SELECT t.vec_id, _m.m, {qslice('t')} AS q "
        f"FROM {p}_tr t CROSS JOIN {p}_subs _m)",
        f"{p}_c0 AS (SELECT m, "
        f"ROW_NUMBER() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS cid, q AS cq "
        f"FROM {p}_pts WHERE vec_id IN "
        f"(SELECT vec_id FROM {p}_tr ORDER BY vec_id LIMIT {k}))",
    ]
    for i in range(iters):
        parts.append(assign(f"a{i}", "pts", f"c{i}", "cluster"))
        parts.append(
            f"{p}_c{i + 1} AS (SELECT m, cluster AS cid, "
            f"list(comp ORDER BY j) AS cq FROM ("
            f"SELECT a.m, a.cluster, g.j, "
            f"CAST(SUM(a.q[g.j]) AS BIGINT) // COUNT(*) AS comp "
            f"FROM {p}_a{i} a CROSS JOIN "
            f"(SELECT unnest(generate_series(1, {dsub})) AS j) g "
            f"GROUP BY 1, 2, 3) GROUP BY m, cluster)"
        )
    parts.append(f"{p}_books AS (SELECT m, cid, cq FROM {p}_c{iters})")
    parts.append(
        f"{p}_all AS (SELECT s.vec_id, _m.m, {qslice('s')} AS q "
        f"FROM {src} s CROSS JOIN {p}_subs _m)"
    )
    parts.append(assign("codes_a", "all", "books", "code"))
    parts.append(
        f"{p}_codes AS (SELECT vec_id, m, code FROM {p}_codes_a)"
    )
    return ",\n".join(parts)


def pq_codes(
    emb: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    id_col: str = "vec_id",
) -> DataFrame:
    """Each corpus vector's PQ code word as ``code_0..code_{M-1}``
    columns — one Arrow-kernel pass scoring the quantized vector
    against the TRAINED integer codebooks (exact int64 argmin, ties to
    the lowest surviving centroid id). At 100 TB the codes table IS
    the serving index: M small ints per vector instead of the raw
    floats — a ~32x footprint cut at these parameters — scanned whole
    during ADC search while raw vectors stay in cold storage."""
    from sressentials_spark.operators.linalg import pq_encode_int_kernel

    kern = pq_encode_int_kernel(pq_train_codebooks(emb, m, k, id_col=id_col))
    coded = emb.withColumn("_codes", kern(F.col("embedding")))
    return coded.select(
        F.col(id_col),
        *[
            F.element_at("_codes", i + 1).alias(f"code_{i}")
            for i in range(m)
        ],
    )


def pq_adc_topk(
    emb: DataFrame,
    query_ids: list[int],
    topk: int = 10,
    m: int = PQ_M,
    k: int = PQ_K,
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k by PQ asymmetric distance (ADC): the query
    stays exact, each neighbor is its code word, and the distance is
    the sum over subspaces of ``dist(query_sub, centroid[code])`` —
    looked up from a per-query MxK distance table instead of touching
    raw corpus vectors.

    Execution shape: the distance tables (M·K doubles per query) are
    computed driver-side with the same left-fold arithmetic and
    broadcast; corpus codes unpivot to ``(id, m, code)`` and the
    equi-join ``(m, code)`` resolves every lookup; per-pair distance
    re-associates in a FIXED order (``((d0+d1)+d2)+d3``) so the result
    is bit-reproducible. One shuffle (the per-query rank window) —
    the corpus side never moves a float."""
    coded = pq_codes(emb, m, k, id_col)
    dtable = _pq_dtable(emb, query_ids, m, k, id_col)

    cand = coded.crossJoin(F.broadcast(dtable)).filter(
        F.col("query_id") != F.col(id_col)
    )
    scored = cand.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        _adc_lookup_sum(m).alias("adc_dist"),
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= topk)
    )


def _pq_dtable(
    emb: DataFrame,
    query_ids: list[int],
    m: int = PQ_M,
    k: int = PQ_K,
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-query ADC distance tables — ``(query_id, dtab)`` with
    ``dtab[m][code] = ||query_sub(m) - trained_centroid[m][code]||^2``
    computed driver-side with the shared left-fold arithmetic (M·K
    doubles per query, one array-of-arrays cell; broadcast and read by
    ``element_at`` projection — see :func:`_adc_lookup_sum`)."""
    import numpy as np

    fbooks = pq_books_float(pq_train_codebooks(emb, m, k, id_col=id_col))
    dsub = fbooks[0][1].shape[1]
    spark = emb.sparkSession
    qrows = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(id_col, "embedding")
        .collect()
    )
    table_rows = [
        (
            int(r[id_col]),
            _adc_tables(
                np.asarray([float(x) for x in r["embedding"]], dtype=np.float64),
                fbooks,
                m,
                dsub,
            ),
        )
        for r in qrows
    ]
    return local_df(
        spark, table_rows, "query_id long, dtab array<array<double>>"
    )


def train_ivfpq(
    emb: DataFrame,
    n_cells: int = IVF_CELLS,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
):
    """Train both IVF-PQ quantizers on ``emb``: the coarse k-means
    cells (``{cid: integer centroid}``, cluster.kmeans_fit_centroids)
    and the per-subspace codebooks trained on residuals against them
    (:func:`pq_train_codebooks` shape). Returns ``(coarse, books)``.
    The one trainer behind the bare build and the versioned build and
    refresh, so equal inputs give bit-identical artifacts on every
    path."""
    from sressentials_spark.operators.cluster import kmeans_fit_centroids

    coarse = kmeans_fit_centroids(emb, k=n_cells, iters=iters, id_col=id_col)
    books = pq_train_codebooks(
        emb, m, k, iters=iters, id_col=id_col, residual_coarse=coarse
    )
    return coarse, books


def build_ivfpq_index(
    emb: DataFrame,
    base_path: str,
    n_cells: int = IVF_CELLS,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
) -> str:
    """Materialize the IVF-PQ inverted lists (Jegou et al., TPAMI 2011
    SIV — the FAISS ``IVFPQ`` layout): a TRAINED coarse quantizer
    (integer-exact Lloyd's k-means, cluster.kmeans_fit_centroids)
    partitions the corpus into cells, and every vector's RESIDUAL
    against its cell centroid is PQ-coded with residual-trained
    codebooks. The whole serving artifact is frozen at build time:
    cell-partitioned code lists + two sidecars (``_coarse`` centroids,
    ``_pq_books`` codebooks) — self-contained, nothing recomputed at
    query time.

    This is THE billion-scale serving artifact: the per-vector payload
    is M small ints (~32x smaller than the raw floats, which stay in
    cold storage), and a query batch's scan is pruned to its probed
    cells at the PARTITION level — the probed fraction of an already-
    32x-compressed table is what makes exhaustive-within-cell search
    affordable at 100 TB. The probe width is a serve-time choice
    (:func:`pq_adc_topk_ivf_from_index`), not part of the artifact.
    BOTH quantizers are trained on purpose: k-means cells are tight
    (the hash-seeded cells of the cosine-IVF tier measurably do not
    shrink residuals, and residual coding then HURTS recall — measured
    in docs/ANN_EVAL.md), and within tight cells residual PQ recovers
    most of the cell ceiling."""
    from sressentials_spark import sinks

    spark = emb.sparkSession
    coarse, books = train_ivfpq(emb, n_cells, m, k, iters, id_col)
    lists = _encode_ivfpq_lists(emb, coarse, books, m=m, id_col=id_col)
    sinks.write_partitioned(lists, base_path, ["cell"])
    local_df(
        spark,
        [(int(cid), [int(x) for x in comp]) for cid, comp in sorted(coarse.items())],
        "cid long, cq array<long>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{base_path}/_coarse")
    local_df(
        spark,
        [
            (mi, int(cid), [int(x) for x in row])
            for mi, (cids, C) in enumerate(books)
            for cid, row in zip(cids.tolist(), C)
        ],
        "m int, cid long, cq array<long>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{base_path}/_pq_books")
    return base_path


def _encode_ivfpq_lists(
    emb: DataFrame,
    coarse: dict,
    books,
    *,
    m: int = PQ_M,
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode a vector set into IVF-PQ inverted-list rows under GIVEN
    (frozen) artifacts: integer-L2 home-cell assignment against the
    coarse centroids, exact residual vs the cell centroid, trained
    integer-argmin PQ codes. Shared by the one-shot build and the
    incremental ingest, so ingested rows are bit-identical to what a
    build over the merged corpus with the SAME artifacts would encode
    (pinned by tests)."""
    from sressentials_spark.operators.cluster import (
        QUANT_SCALE,
        assign_clusters,
        quantize_vec,
    )
    from sressentials_spark.operators.linalg import pq_encode_int_kernel

    spark = emb.sparkSession
    cents = F.broadcast(
        local_df(
            spark,
            [
                (int(cid), [float(x) / float(QUANT_SCALE) for x in comp])
                for cid, comp in sorted(coarse.items())
            ],
            "cell bigint, cv array<double>",
        )
    )
    kern = pq_encode_int_kernel(books)
    return (
        assign_clusters(
            emb.withColumn("q", quantize_vec("embedding")), coarse
        )
        .withColumn("cell", F.col("cluster").cast("long"))
        .join(cents, "cell")
        .withColumn(
            "rv",
            F.zip_with("embedding", "cv", lambda a, b: a.cast("double") - b),
        )
        .withColumn("_codes", kern(F.col("rv")))
        .select(
            F.col(id_col),
            "cell",
            *[
                F.element_at("_codes", i + 1).alias(f"code_{i}")
                for i in range(m)
            ],
        )
    )


def ivfpq_quantization_error(
    spark,
    emb: DataFrame,
    coarse: dict,
    books,
    lists: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-vector integer PQ quantization error under an index's FROZEN
    artifacts — ``coarse`` / ``books`` in their loader shapes and
    ``lists``, the inverted-list rows they encoded (the same seam as
    :func:`_ivfpq_adc_search`): for each listed row, the exact int64
    squared L2 distance between its quantized residual (raw embedding
    minus its assigned cell's coarse centroid, on the QUANT_SCALE
    grid — the same doubles-then-round chain the encoder ran) and the
    codeword its stored codes actually selected. This is the drift
    gauge's raw signal: rows encoded AFTER the artifacts were trained
    land farther from their codewords as the data distribution moves.

    Plan shape: the compressed lists join the raw vectors on
    ``id_col``, the cell centroids and all M codebooks attach as
    BROADCAST joins keyed on the stored codes (no shuffle — code
    lookup is a map-side hash probe), and the per-subspace errors are
    native ``zip_with``/``aggregate`` integer expressions. One pass
    over the index, no Python in the hot path."""
    from sressentials_spark.operators.cluster import QUANT_SCALE

    m = len(books)
    dsub = DEFAULT_DIM // m
    lists = lists.select(
        F.col(id_col),
        F.col("cell").cast("long").alias("cell"),
        *[F.col(f"code_{i}").cast("long").alias(f"code_{i}") for i in range(m)],
    )
    cents = F.broadcast(
        local_df(
            spark,
            [
                (int(cid), [float(x) / float(QUANT_SCALE) for x in comp])
                for cid, comp in sorted(coarse.items())
            ],
            "cell bigint, cv array<double>",
        )
    )
    df = (
        lists.join(emb.select(id_col, "embedding"), id_col)
        .join(cents, "cell")
        .withColumn(
            "q",
            F.transform(
                F.zip_with(
                    "embedding", "cv", lambda a, b: a.cast("double") - b
                ),
                lambda x: F.round(x * F.lit(float(QUANT_SCALE))).cast("long"),
            ),
        )
    )
    zero = F.lit(0).cast("long")
    for mi, (cids, C) in enumerate(books):
        bdf = F.broadcast(
            local_df(
                spark,
                [
                    (int(cid), [int(x) for x in row])
                    for cid, row in zip(cids.tolist(), C)
                ],
                f"code_{mi} bigint, bq_{mi} array<long>",
            )
        )
        df = df.join(bdf, f"code_{mi}").withColumn(
            f"e_{mi}",
            F.aggregate(
                F.zip_with(
                    F.slice("q", mi * dsub + 1, dsub),
                    f"bq_{mi}",
                    lambda a, b: (a - b) * (a - b),
                ),
                zero,
                lambda acc, x: acc + x,
            ),
        )
    err = df.select(
        id_col,
        sum(
            (F.col(f"e_{mi}") for mi in range(1, m)), F.col("e_0")
        ).alias("q_err"),
    )
    return err


def load_ivfpq_coarse(spark, base_path: str) -> dict[int, list[int]]:
    """The frozen trained coarse centroids persisted by
    :func:`build_ivfpq_index`, in kmeans_fit_centroids shape.

    Ascending-cid iteration order is part of the contract (the old
    Spark-job loader ``orderBy("cid")``-ed; part-file enumeration order
    is NOT trusted to reproduce it), so the dict is built sorted."""
    d = _read_sidecar_pydict(base_path, "_coarse")
    return {
        int(cid): [int(x) for x in cq]
        for cid, cq in sorted(zip(d["cid"], d["cq"]), key=lambda t: int(t[0]))
    }


def load_pq_books(spark, base_path: str):
    """The frozen residual codebooks persisted by
    :func:`build_ivfpq_index`, in :func:`pq_train_codebooks` shape."""
    import numpy as np

    d = _read_sidecar_pydict(base_path, "_pq_books")
    out: dict[int, list] = {}
    for mi, cid, cq in sorted(
        zip(d["m"], d["cid"], d["cq"]), key=lambda t: (t[0], t[1])
    ):
        out.setdefault(int(mi), []).append((int(cid), cq))
    books = []
    for mi in sorted(out):
        cids = np.array([c for c, _ in out[mi]], dtype=np.int64)
        C = np.stack([np.asarray(v, dtype=np.int64) for _, v in out[mi]])
        books.append((cids, C))
    return books


def pq_adc_topk_ivf_from_index(
    spark,
    emb: DataFrame,
    ivfpq_path: str,
    query_ids: list[int],
    topk: int = 10,
    nprobe: int = IVF_NPROBE,
    m: int = PQ_M,
    k: int = PQ_K,
    id_col: str = "vec_id",
    qrows: list | None = None,
) -> DataFrame:
    """IVF-PQ search (IVFADC): trained-coarse cell pruning composed
    with RESIDUAL compressed-domain asymmetric-distance scoring — each
    query ranks only the PQ code words living in its ``nprobe`` probed
    cells (exact integer L2 argmin against the frozen coarse
    centroids), by per-(probed cell, subspace) table lookup against
    the query's residual in that cell (``q - centroid(cell)``); no raw
    corpus vector is ever touched.

    Execution shape: probes, centroids and codebooks all come from the
    self-contained index sidecars (driver-side math over K*dim ints —
    no corpus job), the candidate scan reads ONLY the probed cells'
    partitions of the persisted inverted-list table
    (``PartitionFilters`` — whole directories skipped), codes unpivot
    to ``(m, code)`` and a broadcast per-(query, cell) distance-table
    join resolves every lookup. Distances re-associate in the fixed
    ``((d0+d1)+d2)+d3`` order, so the doubles are bit-identical to the
    DuckDB restatement. One shuffle (the per-query rank window)."""
    books = load_pq_books(spark, ivfpq_path)
    coarse = load_ivfpq_coarse(spark, ivfpq_path)
    return _ivfpq_adc_search(
        spark,
        emb,
        coarse,
        books,
        lambda probed: spark.read.parquet(ivfpq_path).filter(
            F.col("cell").isin(probed)
        ),
        query_ids,
        topk=topk,
        nprobe=nprobe,
        m=m,
        id_col=id_col,
        qrows=qrows,
    )


def _ivfpq_adc_search(
    spark,
    emb: DataFrame,
    coarse: dict,
    books,
    lists_for,
    query_ids: list[int],
    *,
    topk: int = 10,
    nprobe: int = IVF_NPROBE,
    m: int = PQ_M,
    id_col: str = "vec_id",
    qrows: list | None = None,
) -> DataFrame:
    """The IVFADC scoring core against GIVEN frozen artifacts:
    ``coarse`` / ``books`` in their loader shapes and ``lists_for``, a
    callable returning the inverted-list rows for the probed cells —
    the seam that lets the bare cell-partitioned store and the
    manifest-versioned store (operators/ivf_versioned.py) share one
    bit-identical search.

    Plan shape (r13): the per-(query, probed-cell) ADC distance table
    travels as ONE ``array<array<double>>`` column on the broadcast
    probe frame and every code lookup is an ``element_at`` projection —
    ONE broadcast hash join against the pruned lists, no m-way explode,
    no (m, code) lookup join, no re-aggregation shuffle. The per-pair
    distance still re-associates in the fixed ``((d0+d1)+d2)+...``
    left-fold order over the SAME driver-computed doubles, so results
    are bit-identical to the r12 join/groupBy formulation (the r12
    plan's ``_di`` partial sums each summed exactly one row)."""
    import numpy as np

    from sressentials_spark.operators.cluster import QUANT_SCALE
    from sressentials_spark.operators.linalg import quantize_exact

    fbooks = pq_books_float(books)
    cids_c = sorted(coarse)
    Cc = np.array([coarse[c] for c in cids_c], dtype=np.int64)
    Cf = Cc.astype(np.float64) / float(QUANT_SCALE)
    dsub = fbooks[0][1].shape[1]

    if qrows is None:
        qrows = (
            emb.filter(F.col(id_col).isin(query_ids))
            .select(id_col, "embedding")
            .collect()
        )
    # Probe selection: exact integer L2 against the frozen coarse
    # centroids (same grid + tie rule as the corpus assignment).
    probe_rows = []
    for r in qrows:
        qid = int(r[id_col])
        qv = np.asarray(r["embedding"], dtype=np.float64)
        Q = quantize_exact(qv[None, :])[0]
        diff = Q[None, :] - Cc
        dist = np.einsum("kd,kd->k", diff, diff)
        order = np.argsort(dist, kind="stable")[: min(nprobe, len(cids_c))]
        for j in order:
            pcell = int(cids_c[j])
            qr = qv - Cf[j]
            probe_rows.append(
                (qid, pcell, _adc_tables(qr, fbooks, m, dsub))
            )
    probes = local_df(
        spark, probe_rows,
        "query_id long, pcell long, dtab array<array<double>>",
    )
    probed = sorted({pc for _, pc, _ in probe_rows})

    lists = lists_for(probed)
    cand = (
        F.broadcast(probes)
        .join(lists, F.col("pcell") == F.col("cell"))
        .filter(F.col("query_id") != F.col(id_col))
    )
    scored = cand.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        _adc_lookup_sum(m).alias("adc_dist"),
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= topk)
    )


def _adc_tables(qr, fbooks, m: int, dsub: int) -> list[list[float]]:
    """Per-subspace ADC lookup tables for ONE (query, cell) residual:
    ``out[mi][code] = ||qr_sub(mi) - codebook[mi][code]||^2``.

    Accumulates dimension-by-dimension (``acc = acc + t*t`` per ``d``,
    vectorized across the k codewords) — elementwise IEEE ops in the
    identical sequential order as the scalar loop it replaces, so every
    double is bit-identical. Codeword ids index the inner array
    directly; ``_lloyd_int`` DROPS empty clusters without reindexing,
    so the array is sized to the max surviving id and the gaps hold
    NaN — unreachable by construction, because every stored code is an
    argmin over the surviving ids (the r12 lookup JOIN likewise had no
    row for a dropped id)."""
    out: list[list[float]] = []
    for mi in range(m):
        bcids, C = fbooks[mi]
        ids = [int(i) for i in bcids.tolist()]
        acc = None
        for d in range(dsub):
            t = qr[mi * dsub + d] - C[:, d]
            tt = t * t
            acc = tt if acc is None else acc + tt
        row = [float("nan")] * (max(ids) + 1)
        for pos, ki in enumerate(ids):
            row[ki] = float(acc[pos])
        out.append(row)
    return out


def _adc_lookup_sum(m: int):
    """The fixed-order ADC distance expression over a ``dtab``
    array-of-arrays column and ``code_0..code_{m-1}``:
    ``((dtab[0][code_0] + dtab[1][code_1]) + ...)`` — the same
    left-fold re-association order as the r12 join/groupBy plan."""
    def term(i: int):
        return F.element_at(
            F.element_at(F.col("dtab"), i + 1),
            F.col(f"code_{i}").cast("int") + F.lit(1),
        )

    total = term(0)
    for i in range(1, m):
        total = total + term(i)
    return total


def pq_adc_rerank_topk(
    spark,
    emb: DataFrame,
    ivfpq_path: str,
    query_ids: list[int],
    topk: int = 10,
    shortlist: int = 50,
    nprobe: int = IVF_NPROBE,
    m: int = PQ_M,
    k: int = PQ_K,
    id_col: str = "vec_id",
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """Two-stage serving (the production vector-search pattern):
    stage 1 ranks the probed cells' PQ codes by ADC and keeps a
    ``shortlist`` of candidates per query (compressed-domain, no raw
    vector touched); stage 2 re-ranks ONLY the shortlist by exact
    cosine against the raw vectors. Raw-vector I/O is
    O(queries x shortlist) — a few KB per query — while recall
    recovers to the cell ceiling: quantization error can reorder a
    shortlist but no longer decides the top-k
    (measured in docs/ANN_EVAL.md). The re-rank join is an
    id-equi-join against the corpus (pushed-down ``isin`` fetch), and
    the final rank is the usual per-query window."""
    # ONE query-row collect serves both stages: the ADC shortlist's
    # probe selection and the exact re-rank's broadcast query side read
    # the same (id, embedding) rows (two scan+collect jobs per serve
    # otherwise).
    qrows = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(id_col, "embedding")
        .collect()
    )
    short = pq_adc_topk_ivf_from_index(
        spark,
        emb,
        ivfpq_path,
        query_ids,
        topk=shortlist,
        nprobe=nprobe,
        m=m,
        k=k,
        id_col=id_col,
        qrows=qrows,
    ).select("query_id", "neighbor_id")
    queries = F.broadcast(
        local_df(
            spark, qrows, emb.select(id_col, "embedding").schema
        ).select(
            F.col(id_col).alias("query_id"), F.col("embedding").alias("qv")
        )
    )
    cand = short.join(
        emb.select(F.col(id_col).alias("neighbor_id"), "embedding"),
        "neighbor_id",
    ).join(queries, "query_id")
    qn = F.sqrt(dot(F.col("qv"), F.col("qv"), dim))
    nn = F.sqrt(dot(F.col("embedding"), F.col("embedding"), dim))
    scored = cand.select(
        "query_id",
        "neighbor_id",
        (dot(F.col("qv"), F.col("embedding"), dim) / (qn * nn)).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= topk)
    )
