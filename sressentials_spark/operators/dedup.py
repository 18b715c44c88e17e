"""Near-duplicate detection operators for training-data pipelines.

Four detectors over a ``documents``-shaped table, all pure column
expressions (whole-stage codegen; the only Python is plan assembly):

* **exact** — content-hash groupBy (:mod:`.text`);
* **n-gram Jaccard** — exact pairwise similarity via a shingle
  inverted-index join (optionally document-frequency-capped);
* **SimHash** — 48-bit signatures + banded Hamming-LSH candidate join;
* **MinHash + LSH** — banded minhash signatures for candidate
  generation, exact-Jaccard verification.

Every hash is derived from ``md5`` (``conv(substr(md5(x),1,15),16,10)``
→ the same 60-bit integer DuckDB computes with
``('0x'||substr(md5(x),1,15))::BIGINT``), so each operator's output is
bit-reproducible against a relational oracle — see
``sressentials_spark.catalog``.

Performance note: Spark's higher-order functions (``transform`` /
``aggregate`` / ``zip_with``) evaluate their lambdas per element in the
expression interpreter — they never enter whole-stage codegen. The
round-1 implementation built shingles and minhash signatures that way
and spent minutes in interpreted lambda frames at sf0.1. Everything
here is therefore expressed over *exploded rows* with plain codegen
expressions and map-side-combinable aggregates instead: shingling is
``posexplode`` + array indexing, minhash is 24 ``min()`` aggregate
buffers over one hashed-shingle table, simhash is a single ``sum()``
over an exploded (doc, bit) vote table, and Jaccard verification is a
relational intersection count — no arrays are carried through any
shuffle.

Scale notes (100 TB): the shingle join shuffles on the shingle string —
uniform for rare shingles but quadratic in document frequency for
common ones; production runs cap shingle DF (``max_df`` — drop shingles
appearing in > N docs; they contribute only to already-similar pairs)
and lean on MinHash-LSH, which replaces the all-pairs explosion with
``bands × (docs sharing a band bucket)``. Band buckets are themselves
capped (``DEFAULT_MAX_BUCKET``) so a degenerate bucket (e.g. the empty-ish
document cluster) cannot go quadratic. All groupBys key on hashes or
(doc, shingle) composites → uniformly distributed shuffles.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sressentials_spark.artifacts import (  # noqa: F401 (re-exported)
    ARTIFACT_EVENTS,
    free,
    get_or_build,
    release_persisted,
    tracked_persist,
    tracking,
)
from sressentials_spark.operators.text import tokens
from sressentials_spark.scratch import register_scratch


#: 60-bit md5-derived integer hash (DuckDB-reproducible).
def md5_long(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c.cast("binary")), 1, 15), 16, 10).cast("long")


MERSENNE31 = 2147483647  # 2^31 - 1, modulus for minhash permutations

#: SimHash geometry: 48 signature bits, banded 4 × 12 for Hamming LSH.
SIMHASH_BITS = 48
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS

#: MinHash geometry: 24 hashes = 12 bands × 2 rows. With the exact-
#: Jaccard verification threshold at 0.8, the banded candidate recall
#: is ~1 - (1 - 0.8^2)^12 ≈ 1 - 2e-6 under the random-permutation
#: model; on the fixed testdata it is exhaustively verified against the
#: exact-join ground truth by tests/test_dedup.py.
MINHASH_HASHES = 24
MINHASH_BANDS = 12
MINHASH_ROWS = MINHASH_HASHES // MINHASH_BANDS

#: Default cap on LSH band-bucket size: a bucket with B members emits
#: B(B-1)/2 candidate pairs, so one degenerate bucket (boilerplate
#: documents, empty shingle sets hashing alike) can dominate the whole
#: job. Buckets above the cap are dropped from candidate generation;
#: genuine near-duplicate pairs inside an over-full bucket are still
#: found through their other (MINHASH_BANDS - 1) bands with
#: probability ~1-(1-J^rows)^(bands-1).
DEFAULT_MAX_BUCKET = 10_000

#: Shingle width, verification threshold and id column of the MinHash
#: pipeline (batch pairs, dedup index, both ingest triages).
MINHASH_N = 3
MINHASH_THRESHOLD = 0.8
MINHASH_ID = "doc_id"
#: A flat band row's key: the band join's equi-join key and the
#: bucketed index's bucket key.
BAND_KEYS = ["band"] + [f"r{r}" for r in range(MINHASH_ROWS)]


def minhash_params(num_hashes: int = MINHASH_HASHES) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for h_i(x) = (a*x + b) mod p."""
    return [
        ((i * 2654435761 + 104729) % MERSENNE31 or 1, (i * 97 + 1_000_003) % MERSENNE31)
        for i in range(1, num_hashes + 1)
    ]


def shingle_rows(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct (id, shingle) rows: word n-grams of ``text_col``.

    ``posexplode`` + direct array indexing keeps n-gram assembly inside
    whole-stage codegen (no per-element lambda interpretation); the
    ``distinct`` shuffles on the uniform (id, shingle) composite key.
    Documents with fewer than ``n`` tokens contribute no rows.
    """
    t = docs.select(F.col(id_col), tokens(text_col).alias("_tk"))
    pos = t.select(
        F.col(id_col),
        F.col("_tk"),
        F.posexplode("_tk").alias("_pos", "_tok"),
    ).filter(F.col("_pos") <= F.size("_tk") - n)
    gram = F.concat_ws(
        " ",
        F.col("_tok"),
        *[F.col("_tk")[F.col("_pos") + i] for i in range(1, n)],
    )
    return pos.select(F.col(id_col), gram.alias("g")).distinct()


def _jaccard(
    inter: DataFrame, sizes_a: DataFrame, sizes_b: DataFrame, id_col: str = MINHASH_ID
) -> DataFrame:
    """The ``intersection_size`` / ``union_size`` / ``jaccard``
    projection of ``(doc_a, doc_b, ..., intersection_size)`` rows, with
    each side's shingle-set size looked up in its ``(id, n_sh)``
    table; the other ``inter`` columns are kept."""
    union = F.col("n_a") + F.col("n_b") - F.col("intersection_size")
    keys = [c for c in inter.columns if c != "intersection_size"]
    return (
        inter.join(
            sizes_a.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a")), "doc_a"
        )
        .join(
            sizes_b.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b")), "doc_b"
        )
        .select(
            *keys,
            "intersection_size",
            union.alias("union_size"),
            (F.col("intersection_size").cast("double") / union).alias("jaccard"),
        )
    )


def _pair_jaccard(ex: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """All-pairs exact Jaccard via inverted-index join on (id, g) rows."""
    sizes = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("intersection_size"))
    )
    return _jaccard(inter, sizes, sizes, id_col)


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs (``jaccard >= threshold``).

    ``max_df`` caps shingle document frequency: shingles occurring in
    more than ``max_df`` documents are removed from every document's
    shingle set *before* the pair join (both the intersection and the
    set sizes see the capped sets, so the result is exactly the Jaccard
    of the reduced sets). A shingle with document frequency B fans out
    into B(B-1)/2 join rows, so this bounds the otherwise-quadratic
    blowup from boilerplate n-grams; high-DF shingles carry almost no
    similarity signal (they connect everything to everything), so at a
    sane cap the >=threshold pair set is unchanged in practice —
    equivalence at the bench threshold is pinned by
    ``tests/test_dedup.py::test_jaccard_capped_equals_uncapped``.
    """
    ex = shingle_rows(docs, n, id_col)
    if max_df is not None:
        heavy = (
            ex.groupBy("g")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("g")
        )
        ex = ex.join(F.broadcast(heavy), "g", "left_anti")
    # Three consumers (sizes + both sides of the inverted-index join;
    # four with the DF cap) and per-consumer pruning defeats exchange
    # reuse — persist the shingle table rather than re-tokenizing.
    ex = tracked_persist(ex)
    return _pair_jaccard(ex, id_col).filter(F.col("jaccard") >= threshold)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash_signatures(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """48-bit SimHash per document from token-frequency-weighted md5 bits.

    Each token votes ±1 per bit position; the signature takes the sign.
    Structured as explode-to-(id, bit, vote) with ONE ``sum`` buffer —
    round 1 used 48 separate ``sum()`` columns plus a 48-term signature
    fold, whose generated aggregate blew past JIT method limits and ran
    interpreted (283s at sf0.1). Both aggregates here are map-side
    combinable; the (id, bit) shuffle key is uniform by construction.
    """
    ex = docs.select(
        F.col(id_col), F.explode(tokens("text")).alias("tok")
    ).select(F.col(id_col), md5_long(F.col("tok")).alias("h"))
    bits = ex.select(
        F.col(id_col),
        F.col("h"),
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("bit"),
    ).select(
        F.col(id_col),
        F.col("bit"),
        (
            F.expr("shiftright(h, bit)").bitwiseAND(F.lit(1)) * 2 - 1
        ).cast("long").alias("vote"),
    )
    votes = bits.groupBy(id_col, "bit").agg(F.sum("vote").alias("v"))
    sig = votes.groupBy(id_col).agg(
        F.sum(
            F.when(
                F.col("v") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")
            ).otherwise(F.lit(0).cast("long"))
        ).alias("simhash")
    )
    return sig


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """Near-duplicate pairs by banded Hamming LSH over SimHash.

    Candidates share at least one of the 4 12-bit bands (any pair
    within Hamming distance 3 is guaranteed caught; larger distances
    probabilistically); the exact ``bit_count(xor)`` filter then keeps
    pairs with distance <= ``max_hamming``.

    The per-doc signature table (id + one long) is persisted: it feeds
    both sides of the band self-join, and without the persist each side
    recomputes the full tokenize+explode+aggregate pipeline.
    """
    # Session-share the per-doc signature table (id + one long) the
    # same way the minhash shingle/signature artifacts are shared: the
    # recall eval re-derives this pair plan in the same pass, and the
    # signatures are the expensive shareable input — sharing the
    # VERIFIED pair table instead (r12) moved a persist-materialization
    # cost into the producer query (r12 VERDICT item 1).
    sig = get_or_build(
        docs.sparkSession,
        ("simhash_sig", docs, id_col),
        lambda: tracked_persist(simhash_signatures(docs, id_col)),
    )
    mask = (1 << SIMHASH_BAND_BITS) - 1
    bands = sig.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("simhash", i * SIMHASH_BAND_BITS)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for i in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bv"),
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.bv") == F.col("b.bv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.select(
        "doc_a", "doc_b", ham.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def signatures_from_shingles(ex: DataFrame, id_col: str = MINHASH_ID) -> DataFrame:
    """Minhash signatures ``s1..s{k}`` plus the shingle-set size
    ``n_sh`` from a prebuilt (id, g) shingle table.

    One hashed-shingle projection, then a single groupBy with 24
    ``min()`` buffers — each buffer's update is three integer ops, all
    codegen, all map-side combinable. (Round 1 computed 24
    ``array_min(transform(...))`` lambdas per row: interpreted,
    per-element, and re-evaluating the shingle hash 24×.) The set size
    rides the same shuffle as a 25th buffer instead of paying a second
    aggregation over ``ex``; exact verification reads it.
    """
    hv = ex.select(
        F.col(id_col),
        F.pmod(md5_long(F.col("g")), F.lit(MERSENNE31)).alias("h"),
    )
    sigs = [
        F.min(
            F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(MERSENNE31))
        ).alias(f"s{i}")
        for i, (a, b) in enumerate(minhash_params(), start=1)
    ]
    return hv.groupBy(id_col).agg(*sigs, F.count(F.lit(1)).alias("n_sh"))


def _minhash_frames(
    docs: DataFrame, n: int = MINHASH_N, id_col: str = MINHASH_ID
) -> tuple[DataFrame, DataFrame]:
    """The (id, shingle) table and its signatures, both persisted and
    tracked: the shingle table feeds the signature build and both sides
    of the intersection join, the one-row-per-document signature table
    feeds the band rows, the bucket cap and both size lookups, and
    per-consumer column pruning defeats exchange reuse — unpersisted,
    each consumer would re-run the tokenize+explode+distinct pipeline."""
    ex = tracked_persist(shingle_rows(docs, n, id_col))
    return ex, tracked_persist(signatures_from_shingles(ex, id_col))


def minhash_tables(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """:func:`_minhash_frames` as one session artifact per corpus plan:
    the batch pairs and every consumer of them share the shingle and
    signature tables exactly, the way the log pipelines share one
    parse."""
    return get_or_build(
        docs.sparkSession,
        ("minhash", docs, n, id_col),
        lambda: _minhash_frames(docs, n, id_col),
    )


def band_rows_flat(sig: DataFrame) -> DataFrame:
    """One (id, band, r0, r1) row per band of a signature table — the
    band join's native key layout, and (unlike a struct column)
    directly bucketable by ``write_bucketed``."""
    band_structs = [
        F.struct(
            F.lit(bi).alias("band"),
            *[
                F.col(f"s{bi * MINHASH_ROWS + r + 1}").alias(f"r{r}")
                for r in range(MINHASH_ROWS)
            ],
        )
        for bi in range(MINHASH_BANDS)
    ]
    return sig.select(F.col(MINHASH_ID), F.inline(F.array(*band_structs)))


@dataclass(frozen=True)
class MinhashSide:
    """One side of the MinHash band join, keyed on :data:`MINHASH_ID`:
    (id, g) shingle rows, (id, s1..s24, n_sh) signatures and their flat
    (id, band, r0, r1) band rows — in-memory frames
    (:func:`minhash_side`) or the bucketed index tables
    (:meth:`DedupIndexTables.side`)."""

    shingles: DataFrame
    signatures: DataFrame
    bands: DataFrame

    @classmethod
    def of(cls, shingles: DataFrame, signatures: DataFrame) -> "MinhashSide":
        return cls(shingles, signatures, band_rows_flat(signatures))

    def union(self, other: "MinhashSide") -> "MinhashSide":
        return MinhashSide(
            self.shingles.unionByName(other.shingles),
            self.signatures.unionByName(other.signatures),
            self.bands.unionByName(other.bands),
        )


def minhash_side(docs: DataFrame) -> MinhashSide:
    """An in-memory side over ``docs``; its persisted frames are freed
    by the caller's :func:`~sressentials_spark.artifacts.tracking`
    scope or by the release."""
    return MinhashSide.of(*_minhash_frames(docs))


def _cap_buckets(*bands: DataFrame) -> list[DataFrame]:
    """Each band table of one band join without the buckets that hold
    more than :data:`DEFAULT_MAX_BUCKET` members over all of them
    together (read at call time). Broadcast anti-joins keep a bucketed
    side's distribution: no exchange is inserted above its scan."""
    over = (
        reduce(DataFrame.unionByName, [b.select(*BAND_KEYS) for b in bands])
        .groupBy(*BAND_KEYS)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > DEFAULT_MAX_BUCKET)
        .select(*BAND_KEYS)
    )
    return [b.join(F.broadcast(over), BAND_KEYS, "left_anti") for b in bands]


def _band_pairs(a: DataFrame, b: DataFrame) -> DataFrame:
    """Candidate ``(doc_a, doc_b)`` pairs, ``doc_a < doc_b``, sharing a
    full band bucket (one row per shared band). Candidates travel as
    bare id pairs — signatures and shingles never ride the band
    join."""
    return (
        a.select(*BAND_KEYS, F.col(MINHASH_ID).alias("doc_a"))
        .join(b.select(*BAND_KEYS, F.col(MINHASH_ID).alias("doc_b")), BAND_KEYS)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )


def _verify(cand: DataFrame, a: MinhashSide, b: MinhashSide) -> DataFrame:
    """Exact-Jaccard verification of distinct candidates whose ``doc_a``
    is on side ``a`` and ``doc_b`` on side ``b``, keeping
    ``jaccard >= MINHASH_THRESHOLD``. Relational: the candidates are
    intersected against the shingle rows (two joins + one count), so no
    shingle array ever travels through a shuffle; set sizes come from
    the signatures' ``n_sh``. Other candidate columns ride along."""
    inter = (
        cand.join(a.shingles.select(F.col(MINHASH_ID).alias("doc_a"), "g"), "doc_a")
        .join(b.shingles.select(F.col(MINHASH_ID).alias("doc_b"), "g"), ["doc_b", "g"])
        .groupBy(*cand.columns)
        .agg(F.count(F.lit(1)).alias("intersection_size"))
    )
    return _jaccard(inter, a.signatures, b.signatures).filter(
        F.col("jaccard") >= MINHASH_THRESHOLD
    )


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """MinHash-LSH candidate pairs verified with exact Jaccard.

    Signatures are banded (``MINHASH_BANDS`` bands × ``MINHASH_ROWS``
    rows); documents sharing any full band bucket become candidates —
    the at-scale replacement for the all-pairs shingle join — and only
    candidates pay the exact verification. Band buckets larger than
    :data:`DEFAULT_MAX_BUCKET` are dropped from candidate generation
    (see there for the recall argument). The shingle and signature
    tables are the session-shared :func:`minhash_tables`.
    """
    side = MinhashSide.of(*minhash_tables(docs))
    (bands,) = _cap_buckets(side.bands)
    return _verify(_band_pairs(bands, bands).distinct(), side, side)


def minhash_triage(
    history: MinhashSide, batch_docs: DataFrame, *, batch_quadrant: bool
) -> DataFrame:
    """Incremental-ingest near-dup triage: route each document of
    ``batch_docs`` against the already-ingested ``history`` side (every
    history id below every batch id) and, with ``batch_quadrant``,
    against earlier (smaller-id) rows of its own batch — the
    deterministic arrival order that makes the in-batch decision
    reproducible regardless of partitioning.

    One row per batch document: ``n_hist_matches`` (verified partners
    in history), with ``batch_quadrant`` also ``n_batch_matches``, and
    ``status`` — ``'dup_of_history'`` > ``'dup_in_batch'`` >
    ``'kept'``. Candidate generation is the banded join restricted to
    pairs whose larger side is a batch document, so the
    history×history quadrant (the quadratic bulk a full-corpus dedup
    would re-pay on every ingest) never materializes, and ``doc_b`` of
    every pair is a batch document: its shingle join and size lookup
    touch only the batch frames. Per batch the cost is its own shingles
    and signatures plus one band join; against the bucketed index side
    that join's history input is pre-hashed on the band key (zero
    shuffle, pinned by tests/test_sinks.py), so ingest cost scales with
    the batch, not the corpus. The bucket cap counts history ∪ batch.

    Without ``batch_quadrant`` (the streaming consumer, one call per
    micro-batch) each verdict depends only on (document, history), so
    the triage is BATCHING-INVARIANT: the union of verdicts over any
    partitioning of the arrivals equals the one-shot triage of the
    whole split. Smaller batches only make buckets colder, so
    per-micro-batch capping never drops a candidate the one-shot would
    keep. New-vs-new duplicates are then the periodic compaction's
    job, which runs with ``batch_quadrant``.
    """
    batch = minhash_side(batch_docs)
    hist_bands, batch_bands = _cap_buckets(history.bands, batch.bands)
    cand, a, hist = _band_pairs(hist_bands, batch_bands), history, F.lit(True)
    if batch_quadrant:
        # Tag each pair with its quadrant; a constant tag on the
        # history-only pairs would become a group key of its own.
        cand = cand.withColumn("hist", F.lit(True)).unionByName(
            _band_pairs(batch_bands, batch_bands).withColumn("hist", F.lit(False))
        )
        a, hist = history.union(batch), F.col("hist")
    per_doc = (
        _verify(cand.distinct(), a, batch)
        .groupBy(F.col("doc_b").alias(MINHASH_ID))
        .agg(F.count_if(hist).alias("n_hist"), F.count_if(~hist).alias("n_batch"))
    )
    n_hist = F.coalesce("n_hist", F.lit(0)).cast("long")
    n_batch = F.coalesce("n_batch", F.lit(0)).cast("long")
    counts = [n_hist.alias("n_hist_matches")]
    status = F.when(n_hist > 0, F.lit("dup_of_history"))
    if batch_quadrant:
        counts.append(n_batch.alias("n_batch_matches"))
        status = status.when(n_batch > 0, F.lit("dup_in_batch"))
    return (
        batch_docs.select(MINHASH_ID)
        .join(per_doc, MINHASH_ID, "left")
        .select(MINHASH_ID, *counts, status.otherwise(F.lit("kept")).alias("status"))
    )


# --------------------------------------------------------------------------
# Embedding cosine near-duplicates
# --------------------------------------------------------------------------

#: Embedding dimensionality of the testdata corpus. The dot-product
#: expressions are unrolled to this length so they stay inside
#: whole-stage codegen (Spark's array HOFs are interpreted per element
#: — round 1's fold cost ~3 ms per 64-dim dot product).
DEFAULT_DIM = 64


def _dot(a: Column, b: Column, dim: int = DEFAULT_DIM) -> Column:
    """Deterministic left-fold dot product, unrolled over ``dim`` elements.

    Left-associated ``0.0 + a[0]*b[0] + a[1]*b[1] + ...`` — the exact
    summation order of a sequential fold (and DuckDB's ``list_sum``),
    so results are bit-identical to the oracle, but the whole chain is
    one codegen'd arithmetic expression instead of an interpreted HOF.

    Both arrays must hold exactly ``dim`` elements: shorter input fails
    under ANSI ``element_at``, and a cheap ``size()`` guard turns the
    other mismatches — longer vectors (which an unguarded chain would
    silently truncate) and NULLs — into a loud ``raise_error`` naming
    the expected and actual lengths. Callers should go through
    :func:`sressentials_spark.operators.linalg.dot`, which dispatches
    dims above ``UNROLL_MAX_DIM`` to the Arrow kernel (identical
    values, constant plan size).
    """
    acc = F.lit(0.0)
    for i in range(dim):
        acc = acc + (
            F.element_at(a, i + 1).cast("double")
            * F.element_at(b, i + 1).cast("double")
        )
    return F.when((F.size(a) == dim) & (F.size(b) == dim), acc).otherwise(
        F.raise_error(
            F.format_string(
                f"dot: expected {dim}-element vectors, got size(a)=%s size(b)=%s",
                F.size(a),
                F.size(b),
            )
        )
    )


def cosine(a: Column, b: Column, dim: int = DEFAULT_DIM) -> Column:
    from sressentials_spark.operators import linalg

    return linalg.dot(a, b, dim) / (F.sqrt(linalg.dot(a, a, dim)) * F.sqrt(linalg.dot(b, b, dim)))


def with_norm(
    emb: DataFrame, vec_col: str = "embedding", dim: int = DEFAULT_DIM
) -> DataFrame:
    """Attach the L2 norm once per vector (pairs then pay one dot each
    instead of three)."""
    from sressentials_spark.operators import linalg

    if dim > linalg.UNROLL_MAX_DIM:
        return emb.withColumn("norm", linalg.norm_arrow(F.col(vec_col)))
    return emb.withColumn("norm", F.sqrt(_dot(F.col(vec_col), F.col(vec_col), dim)))


def embedding_cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """All-pairs embedding cosine near-duplicates (brute force).

    Quadratic by construction — the correctness baseline. The scale
    path buckets vectors first (see
    :mod:`sressentials_spark.operators.similarity`) so each join
    compares only within-bucket candidates.
    """
    n = with_norm(emb, dim=dim)
    a, b = n.alias("a"), n.alias("b")
    from sressentials_spark.operators import linalg

    cos = linalg.dot(F.col("a.embedding"), F.col("b.embedding"), dim) / (
        F.col("a.norm") * F.col("b.norm")
    )
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


#: Banded hyperplane-LSH layout for embedding near-dup candidates:
#: EMB_LSH_BANDS band tables of EMB_LSH_BAND_BITS sign bits each (128
#: planes total). A pair is a candidate if ALL bits of ANY band agree.
#: Sizing is the whole game: an unrelated pair (cosine ~ 0, per-bit
#: agreement 1/2) collides with a band w.p. 2^-band_bits, so the
#: expected candidate fraction of the n^2/2 pair space is
#: bands/2^band_bits = 16/256 ~ 6% — the knob that keeps the
#: verification join subquadratic (4-bit bands measured 40% of ALL
#: pairs as candidates at sf0.1: quadratic in disguise). For true
#: near-dups at cosine c the per-bit agreement is p = 1 - acos(c)/pi,
#: giving recall 1-(1-p^8)^16 ~ 0.40 at c = 0.45 — approximate by
#: design, like every banded LSH; the oracle restates the identical
#: bands so parity is exact, and emitted pairs are exactly verified.
EMB_LSH_BANDS = 16
EMB_LSH_BAND_BITS = 8


def embedding_near_dup_lsh(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    dim: int = DEFAULT_DIM,
    bands: int = EMB_LSH_BANDS,
    band_bits: int = EMB_LSH_BAND_BITS,
) -> DataFrame:
    """Banded-LSH embedding near-dup pairs with exact cosine verify.

    The scale path replacing :func:`embedding_cosine_pairs` — the same
    shape as the MinHash pipeline (candidates from a bucketed
    equi-join, bare-id pairs, relational verification):

    1. one Arrow-kernel pass signs all ``bands*band_bits`` hyperplane
       projections into ``bands`` packed long band values per vector
       (:func:`sressentials_spark.operators.linalg.norm_bands_kernel` —
       signatures wider than 64 bits can't live in one long);
    2. the band array explodes to ``(id, band, val)`` rows;
    3. candidates come from a self-equi-join on ``(band, val)`` —
       shuffle keyed on band values, fan-in corpus/2^band_bits per
       band bucket — deduped as bare-id pairs;
    4. each candidate pair is verified with the exact fold cosine
       against the corpus (two hash joins), keeping only
       ``cosine >= threshold``.

    Candidate recall is < 1 by LSH design (see the band constants);
    every emitted pair is exactly verified, so precision is 1.
    """
    from sressentials_spark.operators import linalg

    # (id, band, val) rows are persisted: they feed both sides of the
    # candidate self-join, and each unpersisted side would re-run the
    # 128-projection Arrow kernel over the whole corpus.
    sig = emb.withColumn(
        "_nb", linalg.norm_bands_kernel(bands, band_bits)(F.col("embedding"))
    ).select(id_col, F.col("_nb.bands").alias("bands"))
    exploded = tracked_persist(
        sig.select(id_col, F.posexplode("bands").alias("band", "val"))
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
        )
        .distinct()
    )
    # Persisted: the norm-annotated corpus feeds BOTH verification
    # joins (x and y sides); unpersisted, each side would re-run the
    # norm pass over the whole corpus (same treatment as the minhash
    # pipeline's shared subplans).
    n = tracked_persist(
        with_norm(emb, dim=dim).select(
            F.col(id_col), F.col("embedding"), F.col("norm")
        )
    )
    cos = linalg.dot(F.col("x.embedding"), F.col("y.embedding"), dim) / (
        F.col("x.norm") * F.col("y.norm")
    )
    return (
        cand.join(n.alias("x"), F.col("vec_a") == F.col(f"x.{id_col}"))
        .join(n.alias("y"), F.col("vec_b") == F.col(f"y.{id_col}"))
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_decontaminate(
    emb: DataFrame,
    is_benchmark: Column,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    dim: int = DEFAULT_DIM,
    bands: int = EMB_LSH_BANDS,
    band_bits: int = EMB_LSH_BAND_BITS,
) -> DataFrame:
    """Embedding-space decontamination: corpus vectors too close to a
    held-out benchmark set.

    The n-gram decontaminator (curation.decontaminate) misses
    paraphrased leakage; this is its embedding-space complement — the
    second gate a training corpus passes before a benchmark score can
    be trusted. Same asymmetric shape as the incremental-ingest triage:
    the big side is the corpus, the small side the benchmark, and
    all-pairs never materializes:

    1. one Arrow pass signs the banded hyperplane signatures for ALL
       vectors (corpus + benchmark share the projection planes);
    2. candidates come from a (band, val) equi-join where the
       BENCHMARK side broadcasts — benchmark suites are thousands of
       rows, so the corpus band rows never shuffle;
    3. candidates are exactly re-scored with the fold cosine; hits
       aggregate per corpus vector.

    Returns ``(id_col, n_benchmark_hits, max_cosine)`` for flagged
    corpus vectors only — the drop list (or audit queue). Recall is
    bounded by LSH band collision (same constants and caveat as
    :func:`embedding_near_dup_lsh`); precision is 1 (exact verify).
    """
    from sressentials_spark.operators import linalg

    flagged = emb.withColumn("_bench", is_benchmark)
    sig = flagged.withColumn(
        "_nb", linalg.norm_bands_kernel(bands, band_bits)(F.col("embedding"))
    ).select(id_col, "_bench", F.col("_nb.bands").alias("bands"))
    exploded = tracked_persist(
        sig.select(
            id_col, "_bench", F.posexplode("bands").alias("band", "val")
        )
    )
    corp = exploded.filter(~F.col("_bench")).select(
        F.col(id_col).alias("corpus_id"), "band", "val"
    )
    bench = exploded.filter(F.col("_bench")).select(
        F.col(id_col).alias("bench_id"), "band", "val"
    )
    cand = (
        corp.join(F.broadcast(bench), ["band", "val"])
        .select("corpus_id", "bench_id")
        .distinct()
    )
    n = tracked_persist(
        with_norm(flagged, dim=dim).select(
            F.col(id_col), F.col("_bench"), F.col("embedding"), F.col("norm")
        )
    )
    cos = linalg.dot(F.col("x.embedding"), F.col("y.embedding"), dim) / (
        F.col("x.norm") * F.col("y.norm")
    )
    hits = (
        cand.join(
            n.filter(~F.col("_bench")).alias("x"),
            F.col("corpus_id") == F.col(f"x.{id_col}"),
        )
        .join(
            F.broadcast(n.filter(F.col("_bench")).alias("y")),
            F.col("bench_id") == F.col(f"y.{id_col}"),
        )
        .select("corpus_id", "bench_id", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
    return (
        hits.groupBy("corpus_id")
        .agg(
            F.count(F.lit(1)).alias("n_benchmark_hits"),
            F.max("cosine").alias("max_cosine"),
        )
        .select(
            F.col("corpus_id").alias(id_col), "n_benchmark_hits", "max_cosine"
        )
    )


#: SemDeDup quantization grid. Coarser than the k-means grid (2^20) on
#: purpose: the duplicate test squares the dot product, so the grid
#: must keep ``q^2 * dot^2`` inside int64 — at 2^10, components are
#: <= ~512, ``dot <= dim * 512^2 ~ 2^24``, and the cross-multiplied
#: comparison peaks near 2^53. Quantization error (~1e-3 per
#: component) is noise against a 0.4 cosine threshold, and both
#: engines quantize identically so the DECISION is bit-reproducible.
SEMDEDUP_SCALE = 1 << 10

#: Cosine threshold as a rational p/q so the >= test is exact integer
#: cross-multiplication (no float compare to drift between engines).
#: 2/5 = 0.4 — same operating point as embedding_near_dup_lsh.
SEMDEDUP_COS = (2, 5)


def semantic_dedup(
    emb: DataFrame,
    assignments: DataFrame,
    threshold: tuple[int, int] = SEMDEDUP_COS,
    scale: int = SEMDEDUP_SCALE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup: cluster-bounded semantic deduplication (Abbas et al.
    2023, arXiv:2303.09540) — the third embedding-dedup strategy next
    to banded LSH (probabilistic candidates) and connected components
    (transitive groups).

    Pairwise cosine over a web-scale corpus is quadratic; SemDeDup's
    observation is that near-duplicates land in the same k-means
    cluster, so it suffices to compare WITHIN clusters. With K scaled
    proportionally to corpus size (the paper runs ~110k clusters over
    LAION-440M) expected cluster size — and therefore per-cluster pair
    work — stays CONSTANT, making total work O(N * avg_cluster_size):
    the clustering is the candidate generator. Each vector is kept iff
    no LOWER-id member of its cluster sits within the cosine
    threshold (lowest-id representative — a total order, so the
    keep/drop decision is unique and hash-gate stable).

    Exactness: vectors are quantized to the ``scale`` grid once, and
    the threshold test is integer cross-multiplication —
    ``dot > 0 AND q^2*dot^2 >= p^2*|a|^2*|b|^2`` for cosine >= p/q —
    so engine and DuckDB oracle agree bit-for-bit (zero-norm vectors
    are never duplicates). Dots run through the exact int64 Arrow
    kernel (linalg.int_dot_arrow), one batch per join partition.

    Scale shape: one Arrow pass for (q, |q|^2); the self-join
    shuffles each side ONCE on the uniform cluster key and never
    leaves its cluster; output aggregates per vector. Skew guard at
    100 TB: an oversized cluster is sub-split by re-clustering its
    members (the paper's K keeps clusters ~4k vectors) — pair work is
    bounded by design, not by hope.

    Returns ``(id_col, cluster, status 'kept'|'semantic_dup',
    dup_of, n_prior_matches)``; ``dup_of`` is -1 for kept rows (not
    NULL — keeps the column int64 through both engines' pandas
    bridges).
    """
    from sressentials_spark.operators import linalg
    from sressentials_spark.operators.cluster import quantize_vec

    p, q = threshold
    qv = emb.select(
        F.col(id_col), quantize_vec(vec_col, scale).alias("qv")
    ).withColumn("n2", linalg.int_dot_arrow(F.col("qv"), F.col("qv")))
    members = tracked_persist(
        assignments.select(id_col, "cluster").join(qv, id_col)
    )
    a = members.select(
        F.col(id_col).alias("prior_id"),
        F.col("cluster").alias("a_cluster"),
        F.col("qv").alias("aq"),
        F.col("n2").alias("an2"),
    )
    b = members.select(
        F.col(id_col).alias("cand_id"),
        F.col("cluster").alias("b_cluster"),
        F.col("qv").alias("bq"),
        F.col("n2").alias("bn2"),
    )
    hits = (
        a.join(
            b,
            (F.col("a_cluster") == F.col("b_cluster"))
            & (F.col("prior_id") < F.col("cand_id")),
        )
        .withColumn("dot", linalg.int_dot_arrow(F.col("aq"), F.col("bq")))
        .filter(
            (F.col("an2") > 0)
            & (F.col("bn2") > 0)
            & (F.col("dot") > 0)
            & (
                F.lit(q * q) * F.col("dot") * F.col("dot")
                >= F.lit(p * p) * F.col("an2") * F.col("bn2")
            )
        )
    )
    agg = hits.groupBy(F.col("cand_id").alias(id_col)).agg(
        F.min("prior_id").alias("dup_of_raw"),
        F.count(F.lit(1)).alias("n_matches_raw"),
    )
    return (
        members.select(id_col, "cluster")
        .join(agg, id_col, "left")
        .select(
            F.col(id_col),
            F.col("cluster").cast("long").alias("cluster"),
            F.when(F.col("dup_of_raw").isNull(), F.lit("kept"))
            .otherwise(F.lit("semantic_dup"))
            .alias("status"),
            F.coalesce(F.col("dup_of_raw"), F.lit(-1))
            .cast("long")
            .alias("dup_of"),
            F.coalesce(F.col("n_matches_raw"), F.lit(0))
            .cast("long")
            .alias("n_prior_matches"),
        )
    )


# --------------------------------------------------------------------------
# Persisted dedup index (the 100 TB ingest shape, materialized)
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class DedupIndexTables:
    """Names of the bucketed session-catalog tables making up a
    persisted MinHash dedup index (see :func:`build_dedup_index`)."""

    shingles: str    # (id, g)               bucketed+sorted on id
    signatures: str  # (id, s1..s24, n_sh)   bucketed+sorted on id
    bands: str       # (id, band, r0, r1)    bucketed+sorted on (band, r0, r1)

    def side(self, spark) -> MinhashSide:
        """The index as the history side of :func:`minhash_triage`."""
        from sressentials_spark import sinks

        return MinhashSide(
            *(sinks.read_bucketed(spark, t) for t in (self.shingles, self.signatures, self.bands))
        )


def build_dedup_index(
    docs: DataFrame, base_path: str, table_prefix: str, num_buckets: int = 8
) -> DedupIndexTables:
    """Materialize the MinHash dedup index over an ingested corpus as
    three BUCKETED parquet tables (``sinks.write_bucketed``):

    * shingles ``(id, g)`` bucketed on ``id`` — the exact-verification
      side;
    * signatures ``(id, s1..s24, n_sh)`` bucketed on ``id`` — set
      sizes for Jaccard;
    * bands ``(id, band, r0, r1)`` bucketed AND sorted on
      ``(band, r0, r1)`` — the LSH candidate join's build side.

    This is the artifact the incremental-ingest story rides at 100 TB:
    the history's shingling/signature cost is paid ONCE at index-build
    time; every subsequent ingest batch joins against these tables
    with ZERO shuffle on the history side (the band join's history
    input is already hash-distributed on the join key — pinned by
    tests/test_sinks.py), so ingest cost scales with the batch, not
    the corpus. Size ``num_buckets ≈ band_table_bytes / 256 MB`` at the
    target scale.
    """
    from sressentials_spark import sinks

    t = DedupIndexTables(
        shingles=f"{table_prefix}_shingles",
        signatures=f"{table_prefix}_signatures",
        bands=f"{table_prefix}_bands",
    )
    with tracking() as frames:
        try:
            side = minhash_side(docs)
            for frame, table, sub, keys in (
                (side.shingles, t.shingles, "shingles", [MINHASH_ID]),
                (side.signatures, t.signatures, "signatures", [MINHASH_ID]),
                (side.bands, t.bands, "bands", BAND_KEYS),
            ):
                sinks.write_bucketed(frame, table, f"{base_path}/{sub}", keys, num_buckets)
        finally:
            free(frames)
    return t


def dedup_index_tables(
    spark, sf_dir: str, docs: DataFrame, split: int
) -> DedupIndexTables:
    """Build-once handle (disk artifact ``("dedup_index", sf_dir,
    split)``) for the persisted bucketed dedup index over the history
    slice ``doc_id < split`` — the one builder behind the catalog's
    incremental ingest and the streaming ingest triage."""

    def _build() -> DedupIndexTables:
        app = re.sub(r"\W", "_", spark.sparkContext.applicationId)
        tag = re.sub(r"\W", "_", os.path.basename(os.path.normpath(sf_dir)))
        base = f"/tmp/sressentials_dedup_index/{app}/{tag}_{split}"
        prefix = f"ssk_dedup_idx_{app}_{tag}_{split}"
        # Per-applicationId path: a second process never trusts this
        # one's files, and the registration below removes them at exit
        # (table entries are session-scoped — the in-memory catalog
        # dies with the JVM; only the files need cleanup).
        register_scratch(f"/tmp/sressentials_dedup_index/{app}")
        return build_dedup_index(
            docs.filter(F.col("doc_id") < split), base, prefix
        )

    return get_or_build(spark, ("dedup_index", sf_dir, split), _build, tier="disk")
