"""nprobe sweep for the rerank tier at fixed shortlist — the r10
verdict's stretch ask: with shortlist=100 already at the nprobe-4
probed-cell ceiling (840 permille), nprobe is the binding recall
constraint, and the decision to move it needs the COST axis measured,
not just the recall axis: nprobe scales the compressed-domain scan
fraction (candidate fan-in) of every query, where shortlist only
scaled the final raw-vector fetch.

For each nprobe at shortlist=100 on the M=8 rerank index this prints:
- mean rerank recall@10 vs the exact cosine top-k,
- the probed-cell ceiling (fraction of exact top-10 neighbors whose
  assigned cell is probed — no shortlist/quantization can beat it),
- candidate fan-in: mean rows scanned per query in the ADC stage, and
  as a fraction of the corpus (the scan-cost axis).

Usage: python scripts/ann_nprobe_sweep.py [sf_dir]   (one Spark JVM;
results are pasted into docs/ANN_EVAL.md, not machine-consumed).
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import numpy as np
from pyspark.sql import SparkSession, functions as F

from sressentials_spark import catalog
from sressentials_spark.operators import ivf_versioned as IV
from sressentials_spark.operators import similarity as S
from sressentials_spark.operators.linalg import quantize_exact
from sressentials_spark.sources.tables import load_table

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
SHORTLIST = 100
NPROBES = [2, 4, 6, 8]


def main() -> None:
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("ann-nprobe-sweep")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    emb = load_table(spark, SF_DIR, "embeddings")
    path = catalog._ivfpq_rerank_index_path(spark, SF_DIR)

    exact = {
        qid: set()
        for qid in catalog._TOPK_QUERY_IDS
    }
    for r in catalog.QUERIES["sim_cosine_topk"](spark, SF_DIR).collect():
        exact[int(r["query_id"])].add(int(r["neighbor_id"]))

    # Cell assignment + sizes from the persisted lists; probe order per
    # query from the manifest's coarse centroids (same integer-L2 rank
    # the engine uses).
    lists = IV.read_ivf_index_version(spark, path).select(
        "vec_id", F.col("cell").cast("long").alias("cell")
    )
    cell_of = {int(r["vec_id"]): int(r["cell"]) for r in lists.collect()}
    sizes: dict[int, int] = {}
    for c in cell_of.values():
        sizes[c] = sizes.get(c, 0) + 1
    coarse = IV.read_ivf_manifest(path, 1)["coarse"]
    cids = sorted(coarse)
    cmat = np.stack([np.asarray(coarse[c], dtype=np.int64) for c in cids])
    qrows = {
        int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.filter(
            F.col("vec_id").isin(catalog._TOPK_QUERY_IDS)
        ).collect()
    }
    probe_order: dict[int, list[int]] = {}
    for qid, v in qrows.items():
        q = quantize_exact(v)
        d = ((cmat - q) ** 2).sum(axis=1)
        probe_order[qid] = [cids[i] for i in np.lexsort((cids, d))]

    n_corpus = len(cell_of)
    print(f"corpus={n_corpus} cells={len(cids)} shortlist={SHORTLIST}")
    print("| nprobe | ceiling | rerank recall | fan-in rows/query | scan frac |")
    print("|---|---|---|---|---|")
    for nprobe in NPROBES:
        hits = 0
        n_exact = 0
        ceil_hits = 0
        fan = 0
        approx = S.pq_adc_rerank_topk(
            spark,
            emb,
            path,
            catalog._TOPK_QUERY_IDS,
            topk=10,
            shortlist=SHORTLIST,
            nprobe=nprobe,
        )
        got: dict[int, set[int]] = {}
        for r in approx.collect():
            got.setdefault(int(r["query_id"]), set()).add(int(r["neighbor_id"]))
        for qid, ex in exact.items():
            probed = set(probe_order[qid][:nprobe])
            fan += sum(sizes.get(c, 0) for c in probed)
            n_exact += len(ex)
            ceil_hits += sum(1 for n in ex if cell_of.get(n) in probed)
            hits += len(ex & got.get(qid, set()))
        nq = len(exact)
        print(
            f"| {nprobe} | {1000 * ceil_hits // n_exact}‰ "
            f"| {1000 * hits // n_exact}‰ "
            f"| {fan // nq} | {1000 * fan // (nq * n_corpus)}‰ |"
        )
    spark.stop()


if __name__ == "__main__":
    main()
