"""Training-data pipeline operators: deterministic splits, skew-salted
aggregation, exact group quantiles, distinctive-term extraction, and
dedup connected components.

These extend the reference's query surface with the operations a
large-scale corpus-preparation pipeline needs between "parse the data"
and "train on it": assigning every record to a reproducible train/val/
test split, summarizing heavily skewed key distributions without a hot
reducer, ranking terms, and turning near-duplicate PAIRS (from any of
the :mod:`sressentials_spark.operators.dedup` generators) into
per-document canonical assignments that a filter can act on.

Every operator is deterministic end-to-end so the DuckDB oracle can
restate it exactly: hash arithmetic is the shared 60-bit md5 recipe,
quantiles are type-1 (lower) order statistics over integer positions,
and term ranking breaks ties lexically.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sressentials_spark import artifacts
from sressentials_spark.operators.dedup import md5_long
from sressentials_spark.operators.text import tokens

# --------------------------------------------------------------------------
# Deterministic train/val/test split
# --------------------------------------------------------------------------

#: (name, cumulative upper percentile) — 80/10/10.
DEFAULT_SPLITS: list[tuple[str, int]] = [("train", 80), ("val", 90), ("test", 100)]


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: str = "split-v1",
    splits: list[tuple[str, int]] | None = None,
) -> DataFrame:
    """Assign every row to a reproducible split by hashing its id.

    ``bucket = md5_60bit(seed || ':' || id) % 100`` — a pure projection
    (no shuffle, no sampling state), so membership is stable across
    runs, executors, and engines: the property a training pipeline
    needs so that re-processing a 100 TB corpus never migrates a
    document across the train/test boundary. Changing ``seed`` draws a
    fresh independent partition of the corpus.
    """
    splits = splits or DEFAULT_SPLITS
    bucket = F.pmod(
        md5_long(F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string"))),
        F.lit(100),
    )
    assign = F.when(bucket < splits[0][1], splits[0][0])
    for name, hi in splits[1:-1]:
        assign = assign.when(bucket < hi, name)
    assign = assign.otherwise(splits[-1][0])
    return df.withColumn("bucket", bucket.cast("long")).withColumn("split", assign)


def hash_split_oracle_sql(
    table: str,
    id_col: str = "doc_id",
    seed: str = "split-v1",
    splits: list[tuple[str, int]] | None = None,
    extra_cols: str = "",
) -> str:
    """DuckDB restatement of :func:`hash_split` (shared md5 recipe)."""
    splits = splits or DEFAULT_SPLITS
    h = (
        f"(('0x' || substring(md5('{seed}:' || CAST({id_col} AS VARCHAR)), 1, 15))"
        "::BIGINT % 100)"
    )
    chain = " ".join(
        f"WHEN bucket < {hi} THEN '{name}'" for name, hi in splits[:-1]
    )
    return f"""
WITH b AS (SELECT {id_col}{extra_cols}, {h} AS bucket FROM {table})
SELECT {id_col}{extra_cols}, CAST(bucket AS BIGINT) AS bucket,
       CASE {chain} ELSE '{splits[-1][0]}' END AS split
FROM b
"""


# --------------------------------------------------------------------------
# Skew-salted two-phase aggregation
# --------------------------------------------------------------------------

def salted_agg(
    df: DataFrame,
    group_col: str,
    salt_src: str,
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 16,
) -> DataFrame:
    """Aggregate a heavily skewed key in two shuffle phases.

    A straight ``groupBy(group_col)`` sends every row of a hot key to
    one reducer — with a handful of distinct keys over 100 TB that one
    task IS the job. Salting splits each key into ``salt_buckets``
    sub-keys (salt = hash of ``salt_src`` so it is deterministic),
    aggregates partials per (key, salt) — shuffle fan-out ×buckets,
    every reducer bounded at ~1/buckets of the hot key — then combines
    the partials with a second, tiny shuffle over key×buckets rows.

    ``aggs`` maps output column → (input column, op) with op one of
    ``count | sum | min | max`` (the ops whose partials re-combine
    exactly: count→sum, sum→sum, min→min, max→max). Spark's built-in
    partial aggregation already map-side-combines, so this operator
    matters when the REDUCE side itself is the bottleneck (huge
    per-key state, AQE disabled, or a downstream per-key sort); it is
    also the explicit, engine-independent statement of the pattern.
    """
    salt = F.pmod(md5_long(F.col(salt_src).cast("string")), F.lit(salt_buckets))
    partial_exprs, final_exprs = [], []
    for out, (col, op) in aggs.items():
        src = F.lit(1) if op == "count" else F.col(col)
        pop = F.count(src) if op == "count" else getattr(F, op)(src)
        partial_exprs.append(pop.alias(f"_p_{out}"))
        fop = F.sum if op in ("count", "sum") else getattr(F, op)
        final_exprs.append(fop(F.col(f"_p_{out}")).alias(out))
    partial = df.withColumn("_salt", salt).groupBy(group_col, "_salt").agg(
        *partial_exprs
    )
    return partial.groupBy(group_col).agg(*final_exprs)


# --------------------------------------------------------------------------
# Exact group quantiles (type-1 order statistics)
# --------------------------------------------------------------------------

def group_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ps: list[float],
    prefix: str = "p",
) -> DataFrame:
    """Exact per-group quantiles as type-1 (lower) order statistics.

    The quantile at ``p`` is the value at 1-indexed position
    ``max(1, ceil(p * n))`` in the sorted group — a pure integer
    position, so there is no interpolation arithmetic to drift between
    engines. One shuffle total: a ``row_number`` window sorts each
    group once, and the position filters ride the same partitioning
    into the final group-by (both keyed on ``group_col``, so the
    window's shuffle is reused). Interpolating percentiles
    (``percentile_cont``) would pull transcendental-free but
    engine-specific rounding into the gate; order statistics are the
    reproducible choice for corpus length/quality cutoffs.
    """
    w = Window.partitionBy(group_col).orderBy(value_col)
    ranked = df.select(
        group_col,
        F.col(value_col).alias("_v"),
        F.row_number().over(w).alias("_r"),
        F.count(F.lit(1)).over(Window.partitionBy(group_col)).alias("_n"),
    )
    aggs = [
        F.min(
            F.when(
                F.col("_r")
                == F.greatest(
                    F.lit(1), F.ceil(F.lit(p) * F.col("_n").cast("double"))
                ),
                F.col("_v"),
            )
        ).alias(f"{prefix}{int(p * 100)}")
        for p in ps
    ]
    return ranked.groupBy(group_col).agg(
        F.max("_n").alias("n_rows"), *aggs
    )


def group_quantiles_oracle_sql(
    table: str, group_col: str, value_expr: str, ps: list[float], prefix: str = "p"
) -> str:
    """DuckDB restatement of :func:`group_quantiles`."""
    qs = ",\n       ".join(
        f"MIN(CASE WHEN _r = greatest(1, CAST(ceil({p} * CAST(_n AS DOUBLE)) AS BIGINT)) "
        f"THEN _v END) AS {prefix}{int(p * 100)}"
        for p in ps
    )
    return f"""
WITH v AS (SELECT {group_col}, {value_expr} AS _v FROM {table}),
r AS (SELECT {group_col}, _v,
             ROW_NUMBER() OVER (PARTITION BY {group_col} ORDER BY _v) AS _r,
             COUNT(*) OVER (PARTITION BY {group_col}) AS _n
      FROM v)
SELECT {group_col}, CAST(MAX(_n) AS BIGINT) AS n_rows,
       {qs}
FROM r GROUP BY {group_col}
"""


# --------------------------------------------------------------------------
# Distinctive terms (transcendental-free tf-idf ranking)
# --------------------------------------------------------------------------

def distinctive_terms(
    docs: DataFrame, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Top-``k`` most distinctive terms per document.

    Classic tf-idf ordering without the logarithm: ``idf`` is monotone
    decreasing in document frequency, so ranking by
    ``(tf DESC, df ASC, term ASC)`` yields a deterministic,
    engine-exact ordering with the same "frequent here, rare
    elsewhere" semantics (``log`` is not required for ranking, and its
    last-ulp platform differences would poison an exact gate).

    Shape: explode tokens → per-(doc, term) counts (one shuffle,
    map-side combinable) → per-term document frequency (second shuffle
    over distinct terms — the vocabulary, far smaller than the corpus)
    → window top-k per doc. The df table joins back by term; at scale
    a frequent-vocabulary broadcast would serve the hot terms.
    """
    t = docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    tf = t.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        tf.join(df_tbl, "term")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "rank")
    )


def distinctive_terms_oracle_sql(k: int = 3) -> str:
    """DuckDB restatement of :func:`distinctive_terms` (same whitespace
    tokenization as ``operators.text.tokens``)."""
    return rf"""
WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
           FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
ranked AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                  ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                     ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC)
                  AS rank
           FROM tf JOIN dfreq USING (term))
SELECT doc_id, term, tf, df, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""


# --------------------------------------------------------------------------
# Connected components → canonical document assignment
# --------------------------------------------------------------------------

def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_cols: tuple[str, str] = ("doc_a", "doc_b"),
    max_iter: int = 25,
    checkpoint_every: int = 1,
    strict: bool = True,
) -> DataFrame:
    """Resolve near-dup PAIRS into per-document canonical assignments.

    Pair generators (minhash/simhash/embedding LSH) emit edges; acting
    on them — "keep one document per duplicate cluster" — needs the
    transitive closure. This is iterative min-label propagation:
    every node starts labeled with its own id, and each round replaces
    the label with the minimum over itself and its neighbors' labels,
    until a fixpoint. Rounds converge in O(component diameter);
    near-dup components are dense (verified-pair cliques and short
    chains), so a handful of rounds suffices in practice and
    ``max_iter`` bounds the pathological chain.

    Each round is one join + one aggregation, both shuffle-keyed on
    node id; labels persist per round (previous round unpersisted) and
    the edge list persists once — the standard Pregel-without-Pregel
    shape. The driver only ever sees one scalar per round (the changed
    count), never row data. Every ``checkpoint_every`` rounds the
    label frame is ``localCheckpoint``-ed to truncate lineage —
    without it the logical plan nests one join deeper per round and
    Catalyst re-optimizes the whole accumulated tree on every action:
    measured at sf0.1, rounds 4-5 of an unchecked loop cost 12-51 s
    against 0.4 s flat when truncated. The default is therefore EVERY
    round — each round already materializes (persist + scalar
    collect), so the checkpoint adds no extra pass, only swaps
    lineage-based recovery for bounded plan depth (on executor loss
    the job reruns — the right trade for an iterative dedup step).

    If the loop exhausts ``max_iter`` before the fixpoint (component
    diameter exceeds the budget), ``strict=True`` (default) raises
    instead of silently returning partially-propagated labels;
    ``strict=False`` keeps the legacy lenient behavior for exploratory
    use.

    Returns ``(id_col, canonical_id, is_dup)`` for EVERY node:
    ``canonical_id`` is the component minimum, singletons map to
    themselves.
    """
    a, b = pair_cols
    half = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    edges = half.union(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist(StorageLevel.MEMORY_AND_DISK)

    labels = nodes.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("comp")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # The materialized rounds the current `labels` still reads: a
    # checkpoint round cuts the lineage, so the rounds before it free.
    held = [labels]

    converged = False
    for i in range(max_iter):
        nbr_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        updated = labels.join(nbr_min, labels.id == nbr_min.src, "left").select(
            "id",
            F.least(
                F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
            ).alias("comp"),
            (F.coalesce(F.col("nbr_comp"), F.col("comp")) < F.col("comp"))
            .cast("long")
            .alias("_changed"),
        )
        cut = (i + 1) % checkpoint_every == 0
        if cut:
            # Truncate lineage: the plan otherwise nests one join
            # deeper per round. Eager, so the subsequent agg reads the
            # materialized blocks.
            updated = updated.localCheckpoint(eager=True)
        else:
            updated = updated.persist(StorageLevel.MEMORY_AND_DISK)
        changed = updated.agg(F.sum("_changed")).collect()[0][0] or 0
        if cut:
            artifacts.free(held)
            held = []
        held.append(updated)
        labels = updated.drop("_changed")
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged and strict:
        artifacts.free(held)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds the iteration budget); raise "
            "max_iter or pass strict=False to accept partial propagation"
        )
    for f in held:  # the returned frame reads them: release frees them
        artifacts.track(f)
    return labels.select(
        F.col("id").alias(id_col),
        F.col("comp").alias("canonical_id"),
        (F.col("comp") != F.col("id")).alias("is_dup"),
    )


def pagerank_integer(
    edges: DataFrame,
    iterations: int = 3,
    damping_pm: int = 850,
    scale: int = 1000,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank in pure integer arithmetic.

    Ranks are milli-units (``scale`` = 1000): every node starts at
    ``scale``; each round a node emits ``rank // out_degree`` along its
    out-edges and collects ``(1 - d) * scale + d * sum(contribs)``
    with ``d`` expressed per-mille and the product floor-divided back.
    Floor division loses mass, so this is not the stochastic-matrix
    PageRank — it is a deterministic variant chosen because INTEGER
    sums are order-independent: float PageRank cannot be verified
    bit-for-bit across engines (per-node accumulation order differs),
    integer PageRank can.

    Scale shape: each iteration is one equi-join of the rank vector
    against the edge list (both keyed on node id — uniform) and one
    map-side-combinable sum. The loop unrolls into a fixed ``k``-deep
    plan (k is small and fixed; for large k add ``localCheckpoint``
    every few rounds as :func:`connected_components` does).
    """
    # Edge list and degrees persist ONCE — without this every round
    # recomputes the (possibly expensive) upstream edge derivation,
    # e.g. the basket self-join feeding the shipped co-purchase query.
    e = edges.select(
        F.col(src_col).alias("s"), F.col(dst_col).alias("t")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("outdeg")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # "pr", not "rank": bare `rank` inside expr() parses as the window
    # function in both engines' SQL dialects.
    ranks = deg.select(
        F.col("s").alias("node"), F.lit(scale).cast("long").alias("pr")
    )
    for _ in range(iterations):
        contribs = (
            e.join(ranks, e["s"] == ranks["node"])
            .join(deg, "s")
            .select(
                F.col("t").alias("node"),
                F.expr("pr div outdeg").alias("c"),
            )
        )
        ranks = contribs.groupBy("node").agg(
            (
                F.lit(scale - damping_pm).cast("long")
                + F.expr(f"({damping_pm} * sum(c)) div {scale}")
            ).alias("pr")
        )
    # Materialize the final vector, then release the loop inputs: the
    # returned frame carries no dangling persisted dependencies.
    out = artifacts.tracked_checkpoint(
        ranks.select("node", F.col("pr").cast("long").alias("pr"))
    )
    e.unpersist()
    deg.unpersist()
    return out


# --------------------------------------------------------------------------
# Triangle counting (degree-ordered orientation)
# --------------------------------------------------------------------------

def triangle_counts(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Per-node triangle participation counts over an undirected graph.

    ``edges`` holds one row per undirected edge (any consistent
    canonical form; duplicates must already be collapsed). The classic
    scale hazard of triangle enumeration is the wedge join: joining the
    edge list with itself on a shared endpoint fans out as
    ``sum(deg^2)``, which a single hub node can blow up. The standard
    fix — and the shape used here — is **degree orientation**: direct
    every edge from its lower-``(degree, id)`` endpoint to the higher
    one, so every node's OUT-degree is bounded by ``O(sqrt(m))`` on any
    graph (arboricity bound), and the wedge join keyed on the common
    source touches ``sum(outdeg^2) = O(m^1.5)`` pairs worst case —
    independent of hub in-degree. Each triangle is enumerated exactly
    once (its minimum-order vertex is the only wedge apex that closes).

    The triangle SET is orientation-invariant, so a DuckDB oracle using
    plain id-ordering restates this exactly while the Spark plan keeps
    the skew-safe degree ordering. All joins are equi-joins on node
    ids; the final explode+groupBy keys on node id — uniform.

    Returns ``(node, n_triangles)`` for nodes in >= 1 triangle.
    """
    # The edge list feeds the degree agg AND the annotation join —
    # persist so an expensive upstream derivation (e.g. the basket
    # self-join) runs once, not per consumer.
    e = edges.select(
        F.col(a_col).cast("long").alias("a"), F.col(b_col).cast("long").alias("b")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    annotated = (
        e.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # Oriented edge, carrying the destination's (deg, id) rank key so
    # the wedge join can order its two legs without re-joining degrees.
    oriented = annotated.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("ddeg"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    w1 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), F.col("ddeg").alias("dv")
    )
    w2 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("w"), F.col("ddeg").alias("dw")
    )
    wedges = w1.join(w2, "u").filter(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"]).select("u", "v", "w")
    out = artifacts.tracked_checkpoint(
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    oriented.unpersist()
    e.unpersist()
    return out
