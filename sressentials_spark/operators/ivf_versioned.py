"""Crash-atomic (manifest-versioned) IVF index lifecycle.

This module is the ONE mutation path for the ANN indexes and the only
IVF-PQ layout. The bare cell-partitioned cosine store
(operators/similarity.py: ``build_ivf_index``) is build-and-serve
only; every maintenance verb — ingest, rebalance, refresh, compact,
delete — runs here, and a lifecycle state is served as a
version-pinned read of one store. The
commit protocol is shared with the snapshot tables: version listing,
manifest reads, the publish-and-retry loop and vacuum all live in
operators/maintenance.py (:func:`~maintenance.publish_next`,
:func:`~maintenance.vacuum`), and this module only says what an index
commit stages and lists:

- data files are IMMUTABLE and append-only under ``data/commit-<id>/``
  (a parquet writer never reuses a part-file name);
- what makes an index version is a tiny JSON MANIFEST listing, per
  visible file, its cell and row count — plus the quantizer itself
  (K x dim numbers, small enough to live inline, so one atomic publish
  covers lists AND quantizers) and the list schema v1 recorded, which
  every version is read with and every ingest must match;
- the manifest link-lands with an exclusive ``os.link`` — a crashed
  writer leaves orphan commit dirs (reclaimed by vacuum), NEVER a
  half-split index, and racing writers resolve as optimistic
  concurrency (the loser re-plans against the new latest).

At 100 TB the economics are the snapshot tier's: the rebalance job
reads and writes O(oversized cells' rows), the publish is O(files)
JSON, readers resolve a version by reading one small file, and the
per-file row counts in the manifest make the SPLIT DECISION itself a
manifest-only computation — no count scan over the index at all.
Per-file cell attribution doubles as manifest-level scan pruning: a
query batch plans only its probed cells' files, the same
whole-directories-skipped effect as partition pruning but decided
driver-side from the manifest.

Both index tiers share every verb past the build. The manifest names
its tier — ``centroids`` for cosine-IVF, ``coarse`` + ``books`` for
IVF-PQ — so :func:`ingest_index_versioned` and
:func:`rebalance_index_versioned` read it from the latest version;
one encoder (:func:`_encode`) is the only code that knows the two list
formats, and the tier is chosen once, by the build.

Kill-between-steps model test: tests/test_ivf_versioned.py injects a
crash after every mutation step and asserts readers always see exactly
the pre-split or the post-split index, never a mix.
"""

from __future__ import annotations

import glob as globmod
import os
from typing import Callable

from pyspark.sql import DataFrame, functions as F

from sressentials_spark.localrel import local_df

from sressentials_spark.operators.maintenance import (
    DEFAULT_TARGET_BYTES,
    manifest_versions,
    publish_manifest,
    publish_next,
    read_manifest,
)
from sressentials_spark.operators.similarity import (
    DEFAULT_DIM,
    IVF_CELLS,
    IVF_NPROBE,
    PQ_ITERS,
    PQ_K,
    PQ_M,
    _ivf_query,
    ivf_annotate_frozen,
    ivf_seed_centroids,
)
from sressentials_spark.operators.dedup import md5_long

#: Rebalance trigger: a cell holding more than
#: ``rows * PCT // (n_cells * 100)`` of the index splits. 115% of the
#: uniform share keeps the trigger tight enough to fire on the skew
#: ingest actually produces, integer-exact and SQL-restateable.
IVF_REBALANCE_PCT = 115
IVF_SPLIT_SEED = "ivf-split-v1"


def _int_keyed(man: dict) -> dict:
    """A copy of ``man`` with the quantizer cell ids back to int (JSON
    object keys are strings), in ascending cell-id order whatever order
    the JSON object lists them in."""
    return {
        k: (
            {int(c): v for c, v in sorted(val.items(), key=lambda t: int(t[0]))}
            if k in ("centroids", "coarse")
            else val
        )
        for k, val in man.items()
    }


def read_ivf_manifest(base_path: str, version: int) -> dict:
    """One committed version: ``{"version", "files": [{"path", "cell",
    "rows"}]}`` plus the quantizer — ``centroids: {cid: [f64]}`` for
    the cosine-IVF tier, or ``coarse: {cid: [i64]}`` + ``books``
    (per-subspace ``[cid, [i64]]`` lists) for the IVF-PQ tier (cid
    keys back to int either way) — and the riders (e.g. the streaming
    ``stream_batch_id`` stamp). One small JSON read: quantizers and
    the file listing both live inline."""
    return _int_keyed(read_manifest(base_path, version))


def _plan_parent(base_path: str, parent: dict | None) -> dict:
    """The parent manifest a publish plan builds on, quantizer keys
    back to int. Every verb past the build needs a committed version."""
    if parent is None:
        raise ValueError(f"no index versions under {base_path}")
    return _int_keyed(parent)


def _commit_lists(
    df: DataFrame, data_dir: str, id_col: str = "vec_id"
) -> list[dict]:
    """Write annotated list rows under a fresh ``commit-<id>/``,
    one directory per cell (``cellp=<c>`` — a DUPLICATE of the real
    ``cell`` column, so the data files themselves keep ``cell`` and
    manifest-listed files read back standalone, no partition-discovery
    dependence). Returns manifest entries with per-file cell, row
    count, AND the ``id_col`` min/max — all read from the parquet
    FOOTERS (metadata pages only, no data read: the commit cost stays
    one write pass over the batch). The id range is what lets DELETE
    locate its files driver-side instead of scanning the index — the
    same file-skipping the snapshot tier's manifest stats buy.
    Attribution lists only THIS commit dir, so a racing writer's files
    can never be absorbed (the maintenance.py rule)."""
    import uuid

    commit_id = f"commit-{uuid.uuid4().hex[:16]}"
    commit_dir = os.path.join(data_dir, commit_id)
    (
        df.withColumn("cellp", F.col("cell"))
        .write.partitionBy("cellp")
        .mode("error")
        .parquet(commit_dir)
    )
    import pyarrow.parquet as pq

    entries = []
    for d in sorted(globmod.glob(os.path.join(commit_dir, "cellp=*"))):
        cell = int(os.path.basename(d).split("=", 1)[1])
        for f in sorted(globmod.glob(os.path.join(d, "*.parquet"))):
            rel = os.path.join(os.path.basename(d), os.path.basename(f))
            meta = pq.ParquetFile(f).metadata
            idx = meta.schema.names.index(id_col)
            lo = hi = None
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    lo = hi = None
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            entry = {
                "path": f"{commit_id}/{rel}",
                "cell": cell,
                "rows": int(meta.num_rows),
            }
            if lo is not None:
                entry["min_id"] = int(lo)
                entry["max_id"] = int(hi)
            entries.append(entry)
    return entries


def _pq_quantizers(coarse: dict, books) -> dict:
    """A trained IVF-PQ quantizer pair as manifest keys: ``coarse``
    (``{cid: [i64 components]}``) and ``books`` (``pq_train_codebooks``
    shape as nested lists, per subspace ``[[cid, [i64 components]],
    ...]``). Integer-exact: both live on the QUANT_SCALE integer grid,
    so JSON round-trips them losslessly."""
    return {
        "coarse": {
            int(c): [int(x) for x in v] for c, v in sorted(coarse.items())
        },
        "books": [
            [[int(cid), [int(x) for x in row]] for cid, row in zip(cids.tolist(), C)]
            for cids, C in books
        ],
    }


def _books_from_json(js) -> list:
    import numpy as np

    out = []
    for sub in js:
        cids = np.array([c for c, _ in sub], dtype=np.int64)
        C = np.stack([np.asarray(v, dtype=np.int64) for _, v in sub])
        out.append((cids, C))
    return out


def _encode(quantizer: dict, rows: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """List rows of ``rows`` (carrying ``id_col`` and ``embedding``)
    under a manifest quantizer with int cell keys — the one place that
    knows both list formats. The manifest names its tier: ``coarse`` +
    ``books`` encode IVF-PQ codes (integer-L2 home cell, residual PQ
    codes), ``centroids`` assign the cosine home cell and keep the
    vectors. Every build, refresh, ingest and rebalance encodes
    through here."""
    from sressentials_spark.operators import similarity as S

    if "coarse" in quantizer:
        books = _books_from_json(quantizer["books"])
        return S._encode_ivfpq_lists(
            rows, quantizer["coarse"], books, m=len(books), id_col=id_col
        )
    ids, mat = _load_centroids(quantizer)
    return ivf_annotate_frozen(rows, ids, mat, IVF_NPROBE).drop("cells")


def _ddl(lists: DataFrame) -> str:
    """The list schema as the manifest records it: a DDL string of
    column names and types (nullability is not recorded; a parquet
    read makes every column nullable)."""
    return ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in lists.schema
    )


def _publish_v1(base_path: str, quantizer: dict, lists: DataFrame) -> int:
    """Commit ``lists`` and ``quantizer`` as version 1 of a fresh
    store: the one first publish behind both builds. The manifest
    records the list schema (:func:`_ddl`); ``publish_next`` carries it
    into every later version."""
    entries = _commit_lists(lists, os.path.join(base_path, "data"))
    publish_manifest(
        base_path,
        1,
        {"version": 1, **quantizer, "schema": _ddl(lists), "files": entries},
    )
    return 1


def build_ivf_index_versioned(
    emb: DataFrame,
    base_path: str,
    n_cells: int = IVF_CELLS,
    id_col: str = "vec_id",
) -> int:
    """Commit version 1 of a manifest-versioned IVF index: the same
    hash-seeded centroids and Arrow assignment pass as
    :func:`similarity.build_ivf_index` (results are pinned identical by
    tests), but lists land as immutable commit files and the centroid
    set rides INSIDE the manifest. Per-row probe arrays are NOT stored
    — the manifest centroids are the single probe truth, so a split
    can never leave a row pointing at a retired cell."""
    ids, mat = ivf_seed_centroids(emb, n_cells, id_col=id_col)
    quantizer = {
        "centroids": {
            int(i): [float(x) for x in row] for i, row in zip(ids, mat)
        }
    }
    return _publish_v1(base_path, quantizer, _encode(quantizer, emb, id_col))


def _load_centroids(man: dict):
    import numpy as np

    ids = sorted(man["centroids"])
    mat = np.stack(
        [np.asarray(man["centroids"][i], dtype=np.float64) for i in ids]
    )
    return ids, mat


def read_ivf_index_version(
    spark,
    base_path: str,
    version: int | None = None,
    cells: list[int] | None = None,
) -> DataFrame:
    """The index lists exactly as of ``version`` (default latest),
    optionally pruned to ``cells`` at the MANIFEST level — only the
    named cells' files are handed to the scan, the driver-side twin of
    partition pruning. Every version is read with the list schema v1
    recorded, so no file footer decides the columns."""
    version = version or manifest_versions(base_path)[-1]
    man = read_ivf_manifest(base_path, version)
    entries = man["files"]
    if cells is not None:
        want = set(cells)
        entries = [e for e in entries if e["cell"] in want]
    if not entries:
        return local_df(spark, [], man["schema"])
    return spark.read.schema(man["schema"]).parquet(
        *[os.path.join(base_path, "data", e["path"]) for e in entries]
    )


def cosine_topk_ivf_versioned(
    spark,
    base_path: str,
    query_ids: list[int],
    k: int = 10,
    version: int | None = None,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    dim: int = DEFAULT_DIM,
    query_src: DataFrame | None = None,
) -> DataFrame:
    """IVF top-k served from a committed version: probes derive from
    the MANIFEST centroid set (the collected query rows are probed on
    the driver by the same numpy body as the build's Arrow kernel,
    ``linalg.ivf_cells`` — always consistent with the lists the same
    manifest names), and the corpus scan plans only the probed cells'
    files. Bit-identical to the bare index's serve at the same
    centroid set (pinned by tests).

    ``query_src`` (``id_col`` + ``embedding``) is where the query
    vectors come from — normally the source embeddings table, a
    point-lookup-cheap O(queries) read. When omitted, they resolve by
    scanning the FULL index version (every manifest file, then
    ``isin`` filter): an O(index) read per batch that exists only as a
    self-contained fallback — at scale, always pass ``query_src`` (the
    corpus scan stays manifest-pruned either way)."""
    import numpy as np

    from sressentials_spark.operators.linalg import ivf_cells

    version = version or manifest_versions(base_path)[-1]
    man = read_ivf_manifest(base_path, version)  # centroids ride inline
    ids, mat = _load_centroids(man)
    src = (
        query_src
        if query_src is not None
        else read_ivf_index_version(spark, base_path, version)
    ).select(id_col, "embedding")
    qrows = (
        src.filter(F.col(id_col).isin(query_ids))
        .coalesce(spark.sparkContext.defaultParallelism)
        .collect()
    )
    qann_rows = []
    if qrows:
        vnorm, cells = ivf_cells(ids, mat, nprobe)(
            np.asarray([r["embedding"] for r in qrows], dtype=np.float64)
        )
        qann_rows = [
            (r[id_col], r["embedding"], float(n), [int(c) for c in cs])
            for r, n, cs in zip(qrows, vnorm, cells)
        ]
    probed = sorted({c for r in qann_rows for c in r[3]})
    corpus = read_ivf_index_version(spark, base_path, version, cells=probed)
    schema = f"{_ddl(src)}, `norm` double, `cells` array<bigint>"
    return _ivf_query(
        corpus, query_ids, k, id_col, dim,
        filter_col=None, prune_cells=False,
        queries_src=local_df(spark, qann_rows, schema),
    )


def ingest_index_versioned(
    emb_batch: DataFrame,
    base_path: str,
    id_col: str = "vec_id",
    fault: Callable[[str], None] | None = None,
    retries: int = 5,
    manifest_extra: dict | None = None,
) -> int:
    """Append a batch as a new committed version of either tier: the
    batch is encoded (:func:`_encode`) under the LATEST manifest's
    FROZEN quantizers — centroids for the cosine tier, coarse centroids
    and residual codebooks for IVF-PQ — its lists land as a fresh
    immutable commit, and the new manifest = parent's files + the
    batch's files, quantizers unchanged, published by one atomic link.
    A crashed ingest leaves orphan commit files and the parent version
    fully intact (same warranty as the rebalance); concurrent readers
    of the parent version are never disturbed. Cost O(batch), never
    O(index). The trade is quantizer drift (frozen artifacts age as the
    data moves; :func:`ivfpq_refresh_decision` gauges it for IVF-PQ),
    and the manifest pins exactly which quantizers encoded every
    visible row.

    Losing a publish race is RECOVERED here, not documented away (the
    Iceberg fast-append retry): on ``FileExistsError`` the ingest
    re-reads the new latest and re-publishes on top of it — reusing its
    already-staged commit files when the winner left the quantizers
    unchanged (another ingest: the encode is quantizer-determined, so
    the staged rows are still exactly right), and RE-ENCODING the batch
    when the winner was a rebalance or refresh (a split retires cells;
    appending rows under a retired cell id would make them invisible to
    every probe). ``retries`` bounds pathological contention (past it
    the ``FileExistsError`` re-raises); the staged files of abandoned
    attempts are vacuum fodder. ``fault("staged")`` fires once, after
    the first staging; an empty batch commits nothing. A batch whose
    encoded columns differ from the list schema v1 recorded raises
    ``ValueError`` before anything is staged.

    ``manifest_extra`` rides verbatim in the published manifest —
    the hook a transactional upstream uses to make ingest IDEMPOTENT:
    a streaming writer stamps its micro-batch id and skips redelivered
    batches whose stamp is already committed (streaming/ann_ingest.py:
    the Structured-Streaming foreachBatch exactly-once recipe, the
    manifest doubling as the transaction log)."""
    fault = fault or (lambda step: None)
    staged: dict = {}

    def plan(parent: dict | None) -> dict | None:
        man = _plan_parent(base_path, parent)
        under = [parent.get(k) for k in ("centroids", "coarse", "books")]
        if staged.get("under") != under:
            lists = _encode(man, emb_batch, id_col)
            if _ddl(lists) != man["schema"]:
                raise ValueError(
                    f"{base_path} lists are ({man['schema']}); the batch "
                    f"encodes to ({_ddl(lists)})"
                )
            first = not staged
            staged["under"] = under
            staged["entries"] = _commit_lists(
                lists, os.path.join(base_path, "data")
            )
            if first and staged["entries"]:
                fault("staged")
        if not staged["entries"]:
            return None
        return {
            "files": man["files"] + staged["entries"],
            **(manifest_extra or {}),
        }

    return publish_next(base_path, plan, retries=retries, fault=fault)


#: Child cell ids for IVF-PQ rebalance splits are the seed member's
#: vec_id shifted past any kmeans-born cid (those are < n_cells) and
#: any plain vec_id, so a split can never collide with a live cell id
#: (a vector lives in exactly one cell, so at most one live child can
#: derive from a given vec_id at a time).
IVFPQ_CHILD_ID_BASE = 1 << 32


def rebalance_index_versioned(
    spark,
    base_path: str,
    emb: DataFrame | None = None,
    *,
    id_col: str = "vec_id",
    fault: Callable[[str], None] | None = None,
    retries: int = 5,
) -> dict:
    """CRASH-ATOMIC rebalance of either tier: cells over
    ``rows * IVF_REBALANCE_PCT // (n_centroids * 100)`` split into two
    hash-picked child seeds (``IVF_SPLIT_SEED`` md5, then the id), the
    members re-encoded (:func:`_encode`) under the two children,
    committed as one manifest version.

    The latest manifest names the tier, and only two steps depend on
    it. Member vectors: the cosine tier's lists hold them (``emb`` must
    be omitted); IVF-PQ lists store CODES, residuals against the cell
    centroid, so moving a member changes its residual basis and its
    raw vector is fetched from ``emb`` by id (required; an id-pushdown
    read of O(oversized cells' rows) — the raw corpus is cold storage)
    and re-encoded under the FROZEN codebooks (global, not per-cell, so
    a split does not retrain them; the refresh verb owns that). Child
    quantizer entries: the cosine tier keys the seed's float embedding
    by its ``vec_id``; IVF-PQ keys the seed on the QUANT_SCALE integer
    grid (``quantize_exact``, the half-up grid every probe ranks
    against) by ``vec_id + IVFPQ_CHILD_ID_BASE``. A tier / ``emb``
    mismatch raises ``ValueError`` before anything is staged.

    Ordering: every split's child lists land as immutable commit files
    first; the new manifest (old entries minus split cells' files, plus
    child files, quantizer cells swapped, codebooks byte-identical)
    publishes LAST via one atomic exclusive link. A crash anywhere
    before the link leaves the previous version fully intact and
    readable — orphan commit dirs are reclaimed by
    :func:`maintenance.vacuum`; there is no window where a reader can
    observe retired lists, missing rows, or a quantizer that disagrees
    with the lists (the model tests kill the job after every step and
    check exactly this).

    The split DECISION reads only the manifest (per-file row counts):
    at 100 TB, deciding costs one JSON read; the job itself costs
    O(oversized cells' rows), never O(index).

    ``fault`` is the test seam: called with a step label after each
    mutation (``staged:<cell>``, ``prepared``, ``published``); a hook
    that raises simulates a kill at that point.

    The split loop is one staging job per oversized cell, and the
    threshold arithmetic bounds how many that can be: a cell must hold
    >115% of the uniform share, so fewer than ``n_cells * 100/115``
    cells can qualify — and in the skew regime this op exists for
    (ingest heat concentrated in a FEW cells) the loop is a handful of
    O(cell) jobs. If most cells qualify, the index is mis-sized, and
    the honest verb is a re-seeded rebuild, not a rebalance.
    """
    import numpy as np

    from sressentials_spark.operators.linalg import quantize_exact

    fault = fault or (lambda step: None)
    stats: dict = {}
    rank = md5_long(
        F.concat(F.lit(IVF_SPLIT_SEED + ":"), F.col(id_col).cast("string"))
    )

    # A lost publish race re-runs the whole plan: unlike ingest, the
    # staged work is NOT reusable — the winner changed the file set
    # (and maybe the quantizer), so the split decision's inputs are
    # stale. Abandoned stages are vacuum fodder.
    def plan(parent: dict | None) -> dict | None:
        man = _plan_parent(base_path, parent)
        pq = "coarse" in man
        if pq != (emb is not None):
            raise ValueError(
                f"{base_path} is an IVF-PQ store: its rebalance re-encodes "
                "from the raw corpus, pass emb"
                if pq
                else f"{base_path} is a cosine-IVF store: its lists hold "
                "the vectors, pass no emb"
            )
        version = man["version"]
        key = "coarse" if pq else "centroids"
        sizes: dict[int, int] = {}
        for e in man["files"]:
            sizes[e["cell"]] = sizes.get(e["cell"], 0) + e["rows"]
        n_rows = sum(sizes.values())
        cents = dict(man[key])
        threshold = n_rows * IVF_REBALANCE_PCT // (len(cents) * 100)
        oversized = sorted(c for c, n in sizes.items() if n > threshold)

        # The PQ re-encode can only be as complete as the caller's
        # corpus: if `emb` is stale (e.g. a concurrent ingest committed
        # rows after the caller read the corpus — the same hazard on the
        # lost-publish-race retry, where the re-read manifest is newer
        # than `emb`), the per-cell inner join below would silently drop
        # those members from the rewritten child lists — permanent row
        # loss. Verify ONCE, up front, that every oversized cell's
        # manifest member id resolves in `emb` — one left_anti pass over
        # the union instead of a full-corpus join per cell — and abort
        # before any staging; the caller re-reads the source of truth
        # and retries (refresh_ivfpq_index_versioned's contract).
        if pq and oversized:
            missing = (
                read_ivf_index_version(spark, base_path, version, cells=oversized)
                .select(id_col)
                .join(emb.select(id_col), id_col, "left_anti")
                .count()
            )
            if missing:
                raise ValueError(
                    f"corpus is stale for cells {oversized}: {missing} member "
                    f"id(s) in manifest v{version} of {base_path} are absent "
                    "from the supplied embeddings — re-read the source-of-truth "
                    "corpus and retry the rebalance"
                )

        def child(r) -> tuple[int, list]:
            if pq:
                vec = quantize_exact(np.asarray(r["embedding"], dtype=np.float64))
                return int(r[id_col]) + IVFPQ_CHILD_ID_BASE, [int(x) for x in vec]
            return int(r[id_col]), [float(x) for x in r["embedding"]]

        data_dir = os.path.join(base_path, "data")
        new_entries: list[dict] = []
        for c in oversized:
            lists = read_ivf_index_version(spark, base_path, version, cells=[c])
            members = (
                emb.join(lists.select(id_col), id_col).select(id_col, "embedding")
                if pq
                else lists.drop("norm", "cell")
            )
            seeds = (
                members.withColumn("_h", rank)
                .orderBy("_h", id_col)
                .limit(2)
                .select(id_col, "embedding")
                .collect()
            )
            children = dict(child(r) for r in seeds)
            new_entries += _commit_lists(
                _encode({**man, key: children}, members, id_col), data_dir
            )
            cents.pop(c, None)
            cents.update(children)
            fault(f"staged:{c}")

        stats.update(
            cells_split=len(oversized),
            split_cells=oversized,
            threshold=int(threshold),
            n_centroids=len(cents),
        )
        if not oversized:
            return None
        split = set(oversized)
        files = [e for e in man["files"] if e["cell"] not in split]
        return {
            key: dict(sorted(cents.items())),
            "files": files + new_entries,
        }

    version = publish_next(base_path, plan, retries=retries, fault=fault)
    return {**stats, "version": version}


# ---- IVF-PQ on the same commit discipline --------------------------------


def build_ivfpq_index_versioned(
    emb: DataFrame,
    base_path: str,
    n_cells: int = IVF_CELLS,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
) -> int:
    """Commit version 1 of an IVF-PQ index (Jegou et al., TPAMI 2011
    SIV — the FAISS ``IVFPQ`` layout): a TRAINED coarse quantizer
    (integer-exact Lloyd's k-means) partitions the corpus into cells,
    and every vector's RESIDUAL against its cell centroid is PQ-coded
    with residual-trained codebooks (:func:`similarity.train_ivfpq`,
    :func:`similarity._encode_ivfpq_lists`). The per-vector payload is
    M small ints (~32x under the raw floats, which stay in cold
    storage), and a serve reads only its probed cells' files. BOTH
    quantizers are trained on purpose: k-means cells are tight (the
    hash-seeded cells of the cosine-IVF tier do not shrink residuals,
    and residual coding then HURTS recall — docs/ANN_EVAL.md), and
    within tight cells residual PQ recovers most of the cell ceiling.
    Both frozen artifacts ride inside the atomically published
    manifest, so lists and quantizers can never disagree; the probe
    width is a serve-time choice (:func:`pq_adc_topk_ivfpq_versioned`)."""
    from sressentials_spark.operators import similarity as S

    quantizer = _pq_quantizers(*S.train_ivfpq(emb, n_cells, m, k, iters, id_col))
    return _publish_v1(base_path, quantizer, _encode(quantizer, emb, id_col))


def pq_adc_topk_ivfpq_versioned(
    spark,
    emb: DataFrame,
    base_path: str,
    query_ids: list[int],
    topk: int = 10,
    version: int | None = None,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    qrows: list | None = None,
) -> DataFrame:
    """IVFADC search (Jegou et al. 2011 SIV) served from a committed
    IVF-PQ version (default latest): each query ranks only the PQ code
    words living in its ``nprobe`` probed cells (exact integer L2
    against the manifest's coarse centroids), by per-(probed cell,
    subspace) table lookup against its residual in that cell; no raw
    corpus vector is touched. Probes, distance tables and codes all
    derive from ONE manifest (quantizers inline), and the candidate
    scan plans only the probed cells' files (scoring core:
    similarity._ivfpq_adc_search; one shuffle, the per-query rank
    window). ``qrows`` are the collected ``(id_col, embedding)`` query
    rows when the caller already holds them (the rerank does)."""
    from sressentials_spark.operators import similarity as S

    version = version or manifest_versions(base_path)[-1]
    man = read_ivf_manifest(base_path, version)  # quantizers ride inline
    books = _books_from_json(man["books"])
    return S._ivfpq_adc_search(
        spark,
        emb,
        man["coarse"],
        books,
        lambda probed: read_ivf_index_version(
            spark, base_path, version, cells=probed
        ),
        query_ids,
        topk=topk,
        nprobe=nprobe,
        m=len(books),
        id_col=id_col,
        qrows=qrows,
    )


def compact_ivf_index_versioned(
    spark,
    base_path: str,
    *,
    target_bytes: int | None = None,
    min_files: int = 2,
    id_col: str = "vec_id",
    fault: Callable[[str], None] | None = None,
    retries: int = 5,
) -> dict:
    """CRASH-ATOMIC small-file compaction — the missing fourth verb of
    the table-format quartet (append/ingest, rewrite/rebalance-delete,
    expire/vacuum, COMPACT): every ingest lands each touched cell as a
    fresh small commit file, so a hot cell accumulates one file per
    batch and its serve-time scan pays per-file open cost instead of
    sequential reads. Compaction rewrites each fragmented cell
    (``>= min_files`` files, and only when that reduces the file
    count) into ``ceil(cell_bytes / target_bytes)`` size-targeted
    files and publishes ONE manifest swapping exactly those cells'
    files — rows, cells and quantizers are untouched, so serving is
    bit-equal by construction (pinned by tests), and any committed
    version still reads exactly as committed. A crash before the link
    leaves the fragmented version fully live; replaced files are
    reclaimed when vacuum expires the old version. Works on BOTH tiers
    (the verb never looks past ``cell`` and the id column).

    Cost: O(fragmented cells' bytes) read+write — the same
    maintenance economics as rebalance, and like it the per-cell loop
    is bounded by how much fragmentation accumulated since the last
    pass. A lost publish race re-plans against the new latest (the
    winner changed the file set; staged rewrites of the lost attempt
    are vacuum fodder)."""
    import math

    fault = fault or (lambda step: None)
    target = int(target_bytes or DEFAULT_TARGET_BYTES)
    data_dir = os.path.join(base_path, "data")
    stats: dict = {}

    def plan(parent: dict | None) -> dict | None:
        man = _plan_parent(base_path, parent)
        by_cell: dict[int, list[dict]] = {}
        for e in man["files"]:
            by_cell.setdefault(e["cell"], []).append(e)
        todo: dict[int, tuple[list[dict], int]] = {}
        for cell, es in sorted(by_cell.items()):
            if len(es) < min_files:
                continue
            total = sum(
                os.path.getsize(os.path.join(data_dir, e["path"])) for e in es
            )
            k = max(1, math.ceil(total / target))
            if k < len(es):
                todo[cell] = (es, k)
        n_files = len(man["files"])
        stats.update(
            cells_compacted=len(todo), files_before=n_files, files_after=n_files
        )
        if not todo:
            return None
        replaced: set[str] = set()
        new_entries: list[dict] = []
        for cell, (es, k) in sorted(todo.items()):
            rows = spark.read.schema(man["schema"]).parquet(
                *[os.path.join(data_dir, e["path"]) for e in es]
            )
            # Range-partition on the id so each compacted file covers a
            # disjoint id interval: round-robin would give every file
            # the cell's full id span in its footer min/max, and one
            # compaction pass would degrade delete's driver-side
            # manifest-stats pruning to scanning every compacted file.
            new_entries += _commit_lists(
                rows.repartitionByRange(k, id_col), data_dir, id_col=id_col
            )
            replaced.update(e["path"] for e in es)
            fault(f"staged:{cell}")
        kept = [e for e in man["files"] if e["path"] not in replaced]
        stats["files_after"] = len(kept) + len(new_entries)
        return {"files": kept + new_entries}

    version = publish_next(base_path, plan, retries=retries, fault=fault)
    return {**stats, "version": version}


def delete_ivf_index_versioned(
    spark,
    base_path: str,
    ids: list[int],
    id_col: str = "vec_id",
    fault: Callable[[str], None] | None = None,
    retries: int = 5,
) -> dict:
    """CRASH-ATOMIC row delete — copy-on-write at FILE granularity
    (the Iceberg COW delete): rewrite only the list files that
    actually contain the target ids (minus those rows, same cells),
    publish a manifest swapping exactly those files, and leave every
    other file byte-untouched. Works on BOTH tiers (cosine-IVF and
    IVF-PQ lists both carry ``cell`` as a data column); quantizers are
    untouched — removing rows never moves a centroid, and serving
    quality drift stays the refresh gauge's business.

    This is the takedown verb a training-data estate needs
    (right-to-be-forgotten, dedup-driven removals): a crash anywhere
    before the final link leaves the pre-delete version fully live
    (rewritten files are staged commits — vacuum fodder), readers of
    any committed version are never disturbed, and the PRE-delete
    version still time-travels until vacuum expires it — which is also
    the compliance story: the data is provably gone exactly when
    vacuum reclaims the unreferenced files.

    Cost: the locate pass prunes DRIVER-SIDE on the manifest's
    per-file ``min_id``/``max_id`` stats (footer-derived at commit
    time, free), then id-column-scans only the files whose range
    intersects a victim — for id-clustered commits (every ingest
    batch) this skips whole commits without opening them, the same
    file-skipping the snapshot tier's manifest stats buy; files from
    manifests predating the stats scan unconditionally. Rewrite is
    O(affected files). A lost publish race re-locates against the new
    latest (the winner may have rewritten or split the very files this
    delete targeted; staged rewrites of the lost attempt are vacuum
    fodder).

    LOCAL-FILESYSTEM CONTRACT (module-wide, explicit here because this
    verb would fail hard first): the hit-mapping below resolves
    ``input_file_name`` URIs back to manifest entries via
    ``os.path.realpath``, which only exists for driver-visible POSIX
    paths — an ``hdfs://``/``s3a://``-backed ``base_path`` raises
    RuntimeError on every delete that finds victims rather than
    publishing a wrong manifest. The rest of the module shares the
    assumption (``glob``/``getsize``/``os.link`` in commit, compact
    and vacuum), matching the sandbox and the single-writer local
    layout; porting to an object store means swapping the path
    resolution to manifest-relative suffix matching and the atomic
    link publish to a conditional put — isolated behind
    ``_commit_lists``/``atomic_publish_json``/this mapping."""
    import bisect

    fault = fault or (lambda step: None)
    want = sorted(set(int(i) for i in ids))

    def _may_contain(e: dict) -> bool:
        if "min_id" not in e or "max_id" not in e:
            return True  # pre-stats manifest entry: must scan
        i = bisect.bisect_left(want, int(e["min_id"]))
        return i < len(want) and want[i] <= int(e["max_id"])

    stats: dict = {}

    def plan(parent: dict | None) -> dict | None:
        man = _plan_parent(base_path, parent)
        paths = {
            os.path.join(base_path, "data", e["path"]): e for e in man["files"]
        }
        candidates = [p for p, e in paths.items() if _may_contain(e)]
        stats.update(
            deleted_rows=0, files_rewritten=0, files_scanned=len(candidates)
        )
        if not candidates:
            return None
        hits = (
            spark.read.schema(man["schema"])
            .parquet(*candidates)
            .select(F.col(id_col), F.input_file_name().alias("_f"))
            .filter(F.col(id_col).isin(want))
            .groupBy("_f")
            .count()
            .collect()
        )
        if not hits:
            return None
        # input_file_name is a file URI; map it back to the MANIFEST's
        # own path strings via the candidate list, comparing realpaths
        # (normpath equality breaks under symlinked scratch dirs or a
        # relative base_path — and a silent mismatch would keep every
        # victim-bearing file in the new manifest while also appending
        # the rewritten survivors: victims stay served, survivors
        # duplicate). Every hit MUST resolve to a known candidate;
        # abort rather than publish a manifest that keeps victims live.
        from urllib.parse import unquote, urlparse

        real_to_candidate = {os.path.realpath(p): p for p in candidates}
        affected: dict[str, int] = {}
        for r in hits:
            local = unquote(urlparse(r["_f"]).path)
            cand = real_to_candidate.get(os.path.realpath(local))
            if cand is None:
                raise RuntimeError(
                    f"delete located victim rows in {r['_f']!r}, which "
                    f"resolves to no manifest entry of {base_path} "
                    f"v{man['version']} — refusing to publish a delete that "
                    "would leave victims visible"
                )
            affected[cand] = int(r["count"])
        survivors = spark.read.schema(man["schema"]).parquet(*affected).filter(
            ~F.col(id_col).isin(want)
        )
        entries = _commit_lists(survivors, os.path.join(base_path, "data"))
        fault("staged")
        kept = [e for p, e in paths.items() if p not in affected]
        stats.update(
            deleted_rows=sum(affected.values()), files_rewritten=len(affected)
        )
        return {"files": kept + entries}

    version = publish_next(base_path, plan, retries=retries, fault=fault)
    return {**stats, "version": version}


def refresh_ivfpq_index_versioned(
    emb: DataFrame,
    base_path: str,
    n_cells: int = IVF_CELLS,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    fault: Callable[[str], None] | None = None,
) -> int:
    """CRASH-ATOMIC codebook refresh — the maintenance verb the drift
    gauge (:func:`ivfpq_refresh_decision`) schedules: retrain
    BOTH quantizers on the CURRENT corpus ``emb``, re-encode every row
    under the fresh artifacts, and publish lists + coarse centroids +
    codebooks as ONE new manifest version. Readers of the previous
    version are never disturbed; a crash anywhere before the final
    link leaves the old quantizers fully live (staged files are vacuum
    fodder): lists and quantizers swap in the same publish.

    Cost is O(corpus) — a refresh IS the periodic rebuild, amortized
    across the many O(batch) ingests it re-anchors. Single
    maintenance writer by contract: losing the publish race (e.g. to
    a concurrent ingest, whose batch the caller-supplied ``emb`` may
    not contain) raises ``FileExistsError`` to the caller, who
    re-reads the source-of-truth corpus and re-decides — retrying with
    a stale ``emb`` would silently drop the winner's rows (hence
    ``retries=0``)."""
    from sressentials_spark.operators import similarity as S

    fault = fault or (lambda step: None)

    def plan(parent: dict | None) -> dict:
        _plan_parent(base_path, parent)
        quantizer = _pq_quantizers(
            *S.train_ivfpq(emb, n_cells, m, k, iters, id_col)
        )
        entries = _commit_lists(
            _encode(quantizer, emb, id_col), os.path.join(base_path, "data")
        )
        fault("staged")
        return {**quantizer, "files": entries}

    return publish_next(base_path, plan, retries=0, fault=fault)


IVFPQ_REFRESH_DRIFT_PERMILLE = 1050


def ivfpq_refresh_decision(
    spark,
    emb: DataFrame,
    base_path: str,
    split_id: int,
    version: int | None = None,
    threshold_permille: int = IVFPQ_REFRESH_DRIFT_PERMILLE,
    id_col: str = "vec_id",
) -> DataFrame:
    """Codebook-refresh POLICY over a committed IVF-PQ version (default
    latest) whose rows ``id >= split_id`` were INGESTED under
    artifacts trained before they existed: compare their mean integer
    quantization error (:func:`similarity.ivfpq_quantization_error`
    over the version's lists, coarse centroids and codebooks) against
    the HISTORY rows the artifacts were trained on, and decide whether
    quantizer drift has crossed the refresh threshold. The ratio is
    computed as ``1000 * batch_err * hist_n // (hist_err * batch_n)``
    in exact arbitrary-precision integers (the four aggregates are a
    bounded one-row collect — the convergence-scalar pattern), so the
    permille and the decision are bit-reproducible by the DuckDB
    restatement (HUGEINT arithmetic). ``decision = 'refresh'`` when
    the batch's rows sit more than ``threshold_permille - 1000``
    permille farther from their codewords than the training slice's
    own quantization noise floor — the signal that schedules
    :func:`refresh_ivfpq_index_versioned` instead of a timer."""
    from sressentials_spark.operators import similarity as S

    version = version or manifest_versions(base_path)[-1]
    man = read_ivf_manifest(base_path, version)  # quantizers ride inline
    err = S.ivfpq_quantization_error(
        spark,
        emb,
        man["coarse"],
        _books_from_json(man["books"]),
        read_ivf_index_version(spark, base_path, version),
        id_col=id_col,
    )
    hist = F.col(id_col) < split_id
    row = err.agg(
        F.sum(F.when(hist, 1).otherwise(0)).cast("long").alias("hist_n"),
        F.sum(F.when(~hist, 1).otherwise(0)).cast("long").alias("batch_n"),
        F.sum(F.when(hist, F.col("q_err"))).cast("long").alias("hist_err"),
        F.sum(F.when(~hist, F.col("q_err"))).cast("long").alias("batch_err"),
    ).first()
    hist_n, batch_n = int(row["hist_n"]), int(row["batch_n"])
    if hist_n == 0 or batch_n == 0:
        # Degenerate split (split_id outside the corpus id range): one
        # side's SUM is NULL and the ratio is undefined — a clear error
        # beats int(None)/ZeroDivisionError surfacing from the guts.
        raise ValueError(
            f"split_id={split_id} leaves an empty "
            f"{'history' if hist_n == 0 else 'batch'} side "
            f"(hist_n={hist_n}, batch_n={batch_n}); the drift ratio needs "
            "both a training slice and an ingested slice"
        )
    hist_err, batch_err = int(row["hist_err"]), int(row["batch_err"])
    if hist_err == 0 and batch_err > 0:
        # Zero training noise floor with nonzero batch error: the drift
        # ratio is unbounded, so no permille is honest — refuse with the
        # actionable reading (any drift off a zero floor means refresh).
        raise ValueError(
            "training slice has zero quantization error but the ingested "
            f"slice does not (batch_err={batch_err}): the drift ratio is "
            "unbounded — schedule a refresh unconditionally"
        )
    drift = (
        0
        if batch_err == 0
        else 1000 * batch_err * hist_n // (hist_err * batch_n)
    )
    decision = (
        "refresh" if drift > int(threshold_permille) else "keep"
    )
    return local_df(
        spark,
        [(hist_n, batch_n, hist_err, batch_err, drift, decision)],
        "hist_n bigint, batch_n bigint, hist_err bigint, batch_err bigint, "
        "drift_permille bigint, decision string",
    )


def ivf_index_history(spark, base_path: str) -> "DataFrame":
    """The index's committed-version catalog as a queryable DataFrame —
    the versioned tier's twin of Iceberg's ``snapshots`` metadata
    table: one row per live manifest with its logical stats
    (``version``, ``n_files``, ``n_rows``, ``n_cells``) and the
    streaming high-water stamp (``stream_batch_id``, null when the
    version predates any stamped ingest). Everything derives from the
    manifests alone — O(live versions) small JSON reads driver-side,
    never a data-file scan — which is exactly the operational surface a
    maintenance scheduler wants: row growth between versions is the
    ingest audit, n_cells jumps mark rebalances, a full file-set swap
    at constant rows marks a refresh/compact, and the stamp column is
    the exactly-once ingest ledger. ``n_rows``/``n_cells`` are
    relationally restatable (counts + the split rule), so the verb can
    sit under the oracle gate; ``n_files`` is physical layout and stays
    a model-tested column."""
    rows = []
    for v in manifest_versions(base_path):
        man = read_ivf_manifest(base_path, v)
        quant = man.get("centroids") or man.get("coarse") or {}
        stamp = man.get("stream_batch_id")
        rows.append(
            (
                int(v),
                len(man["files"]),
                int(sum(e["rows"] for e in man["files"])),
                len(quant),
                int(stamp) if stamp is not None else None,
            )
        )
    return local_df(
        spark,
        rows,
        "version bigint, n_files bigint, n_rows bigint, n_cells bigint, "
        "stream_batch_id bigint",
    )
