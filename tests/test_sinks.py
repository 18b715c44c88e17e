"""Write-side story: partitioned/bucketed output and the shuffle-free
downstream join it buys (VERDICT r3 stretch item)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sressentials_spark import sinks
from sressentials_spark.operators.pipeline import connected_components
from sressentials_spark.operators.dedup import minhash_lsh_pairs, release_persisted
from sressentials_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    path = str(tmp_path / "docs_by_lang")
    sinks.write_partitioned(
        load_table(spark, SF, "documents"), path, ["lang"]
    )
    read = spark.read.parquet(path).filter(F.col("lang") == "en")
    plan = read._jdf.queryExecution().executedPlan().toString()
    # The lang predicate lands in PartitionFilters (directory pruning),
    # not in the row-level data filters.
    assert "PartitionFilters" in plan
    head, _, tail = plan.partition("PartitionFilters")
    assert "lang" in tail.split("]")[0]
    total = spark.read.parquet(path).count()
    en = read.count()
    assert 0 < en < total


def test_components_output_joins_documents_shuffle_free(spark, tmp_path):
    """The intended consumption of connected_components at scale: write
    verdicts AND the corpus bucketed on doc_id; the canonical-id join
    back to documents then plans with zero Exchange operators."""
    tag = f"t{abs(hash(str(tmp_path))) % 10**9}"
    t_docs, t_comp = f"docs_{tag}", f"comp_{tag}"
    docs = load_table(spark, SF, "documents")
    comp = connected_components(
        docs.select("doc_id"), minhash_lsh_pairs(docs)
    )
    sinks.write_bucketed(docs, t_docs, str(tmp_path / "docs"), ["doc_id"])
    sinks.write_bucketed(comp, t_comp, str(tmp_path / "comp"), ["doc_id"])
    release_persisted()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = sinks.read_bucketed(spark, t_comp).join(
            sinks.read_bucketed(spark, t_docs), "doc_id"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # Semantics: every document got a verdict row.
        assert joined.count() == docs.count()
        kept = joined.filter(~F.col("is_dup")).count()
        assert 0 < kept <= docs.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {t_docs}")
        spark.sql(f"DROP TABLE IF EXISTS {t_comp}")


def test_ivf_index_serves_pruned_and_matches_in_session(spark, tmp_path):
    """The persisted IVF index's contract: (a) serving a query batch
    from the cell-partitioned store prunes the corpus scan to the
    probed cells at the PARTITION level (whole directories skipped
    before any I/O), and (b) the served result is bit-identical to the
    self-contained in-session path."""
    from sressentials_spark.operators import similarity as S

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = S.build_ivf_index(emb, str(tmp_path / "ivf_index"))
    qids = [int(r["vec_id"]) for r in emb.select("vec_id").orderBy("vec_id").limit(3).collect()]

    served = S.cosine_topk_ivf_from_index(spark, path, qids, k=10)
    plan = served._jdf.queryExecution().executedPlan().toString()
    # The probed-cell predicate lands in PartitionFilters on the
    # corpus-side scan of the index store (the query-side scan of the
    # same store has no partition predicate — check all scans).
    assert any(
        "cell" in seg.split("]")[0]
        for seg in plan.split("PartitionFilters")[1:]
    )

    in_session = S.cosine_topk_ivf(emb, qids, k=10)
    release_persisted()
    assert served.exceptAll(in_session).count() == 0
    assert in_session.exceptAll(served).count() == 0
    assert served.count() > 0


def test_orc_roundtrip_preserves_values_and_pushdown(spark, tmp_path):
    """Format breadth: ORC is the other columnar format Spark ships a
    native vectorized reader for. A results table written as ORC must
    round-trip exactly and still take predicate pushdown on read."""
    src = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    path = str(tmp_path / "orders_orc")
    src.write.format("orc").mode("overwrite").save(path)
    back = spark.read.format("orc").load(path)
    assert back.count() == src.count()
    assert sorted(back.columns) == sorted(src.columns)
    assert (
        back.exceptAll(src).count() == 0 and src.exceptAll(back).count() == 0
    )
    plan = (
        back.filter(F.col("o_orderstatus") == "F")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "o_orderstatus" in plan.split("PushedFilters")[1].split("]")[0]


def test_dedup_index_band_join_history_side_shuffle_free(spark, tmp_path):
    """The persisted dedup index's contract: the band join's HISTORY
    side reads the bucketed table pre-hashed on (band, r0, r1) — only
    the batch side pays an Exchange. Also checks the index-backed
    triage matches the in-memory history side row-for-row."""
    from sressentials_spark.operators import dedup as D

    tag = f"t{abs(hash(str(tmp_path))) % 10**9}"
    docs = load_table(spark, SF, "documents")
    max_id = docs.agg(F.max("doc_id")).first()[0]
    split = (max_id + 1) * 7 // 10
    idx = D.build_dedup_index(
        docs.filter(F.col("doc_id") < split),
        str(tmp_path / "idx"),
        f"dedup_idx_{tag}",
        num_buckets=4,
    )
    try:
        # Plan shape: history bands scan is bucketed, and ONLY the
        # batch side of the history×batch candidate join exchanges on
        # the band key.
        hist_bands = sinks.read_bucketed(spark, idx.bands)
        batch_sig = D.signatures_from_shingles(
            D.shingle_rows(docs.filter(F.col("doc_id") >= split)), "doc_id"
        )
        batch_bands = D.band_rows_flat(batch_sig)
        keys = ["band", "r0", "r1"]
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = hist_bands.withColumnRenamed("doc_id", "doc_a").join(
                batch_bands.withColumnRenamed("doc_id", "doc_b"), keys
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "SelectedBucketsCount" in plan, plan
        band_exchanges = [
            line
            for line in plan.splitlines()
            if "Exchange hashpartitioning(band" in line
        ]
        assert len(band_exchanges) == 1, plan  # batch side only

        # Semantics: the index-backed history side triages exactly like
        # the in-memory one.
        batch = docs.filter(F.col("doc_id") >= split)
        from_index = D.minhash_triage(idx.side(spark), batch, batch_quadrant=True)
        self_contained = D.minhash_triage(
            D.minhash_side(docs.filter(F.col("doc_id") < split)),
            batch,
            batch_quadrant=True,
        )
        a = from_index.toPandas().sort_values("doc_id").reset_index(drop=True)
        b = self_contained.toPandas().sort_values("doc_id").reset_index(drop=True)
        release_persisted()
        import pandas as pd

        pd.testing.assert_frame_equal(a, b)
        assert set(a["status"]) <= {"dup_of_history", "dup_in_batch", "kept"}
    finally:
        for t in (idx.shingles, idx.signatures, idx.bands):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
