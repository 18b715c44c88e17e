"""Columnar-layout tier: ORC round-trip/pushdown, date-partition
pruning, and the foreachBatch CDC merge (sources/columnar.py,
streaming/cdc.py)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from sressentials_spark.sources import columnar

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_orc_roundtrip_exact(spark):
    """Every field survives the parquet -> ORC -> scan round-trip."""
    from sressentials_spark.sources.tables import load_table

    path = columnar.ensure_documents_orc(spark, SF)
    orc = spark.read.orc(path)
    pq = load_table(spark, SF, "documents")
    assert orc.count() == pq.count()
    assert sorted(orc.columns) == sorted(pq.columns)
    assert (
        orc.unionByName(pq).distinct().count() == pq.count()
    ), "ORC rows diverge from parquet ground truth"


def test_orc_scan_pushes_filters(spark):
    """Predicates reach the ORC scan (PushedFilters), same as parquet."""
    path = columnar.ensure_documents_orc(spark, SF)
    df = spark.read.orc(path).filter(F.col("lang") == "en").select("doc_id")
    plan = _plan(df)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    assert "lang" in pushed


def test_partitioned_events_prunes_to_week(spark):
    """The week predicate prunes to exactly 7 day-directories at
    planning time: PartitionFilters carries the bounds and the scan's
    selected-partition count is 7 of 30."""
    df = columnar.pruned_week_rollup(spark, SF)
    plan = _plan(df)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "d#" in pf, f"date bounds missing from partition filters: {pf}"
    # Directory-level ground truth: the layout has 30 day partitions,
    # the matching file listing exactly 7.
    root = columnar.ensure_events_partitioned(spark, SF)
    days = sorted(p for p in os.listdir(root) if p.startswith("d="))
    assert len(days) == 30
    matching = [
        p for p in days if "d=2024-01-08" <= p <= "d=2024-01-14"
    ]
    assert len(matching) == 7
    # And the pruned scan returns exactly the rows of those directories.
    direct = sum(
        spark.read.parquet(os.path.join(root, p)).count() for p in matching
    )
    assert df.agg(F.sum("n_events")).collect()[0][0] == direct


def test_partitioned_layout_one_file_per_day(spark):
    """repartition('d') before the partitioned write keeps one data
    file per day directory — no self-inflicted small-files problem."""
    root = columnar.ensure_events_partitioned(spark, SF)
    for p in sorted(os.listdir(root)):
        if not p.startswith("d="):
            continue
        files = [
            f
            for f in os.listdir(os.path.join(root, p))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, f"{p} has {len(files)} files"


def test_cdc_foreachbatch_matches_aggregate_twin(spark):
    """The multi-batch foreachBatch MERGE state equals the single-pass
    streaming aggregate — batch-boundary correctness of the upsert."""
    from sressentials_spark.streaming.cdc import (
        run_latest_state_batch,
        run_latest_state_foreachbatch,
    )

    merged = run_latest_state_foreachbatch(spark, SF).toPandas()
    agg = run_latest_state_batch(spark, SF).toPandas()
    key = lambda df: df.sort_values("user_id").reset_index(drop=True)  # noqa: E731
    assert key(merged).equals(key(agg[merged.columns]))


def test_cdc_foreachbatch_is_genuinely_multibatch(spark):
    """The replay consumes the staged arrivals one file per trigger:
    the checkpoint must record as many committed batches as there are
    arrival files (anything less means the rate limit silently
    collapsed the replay into one batch and the merge was never
    exercised across a boundary)."""
    from sressentials_spark.artifacts import get_or_build
    from sressentials_spark.streaming.cdc import run_latest_state_foreachbatch
    from sressentials_spark.streaming.enrich import (
        MULTIBATCH_FILES,
        ordered_arrivals,
    )

    run_latest_state_foreachbatch(spark, SF)  # ensure artifacts exist
    state = get_or_build(
        spark,
        ("cdc_foreachbatch", SF),
        lambda: (_ for _ in ()).throw(
            AssertionError("artifact should already be cached")
        ),
        tier="disk",
    )
    commits = os.path.join(os.path.dirname(state), "ckpt", "commits")
    done = [f for f in os.listdir(commits) if not f.startswith(".")]
    assert len(done) == MULTIBATCH_FILES, (
        f"expected {MULTIBATCH_FILES} committed micro-batches, saw {done}"
    )
    n_files = len(
        [
            f
            for f in os.listdir(ordered_arrivals(spark, SF))
            if f.endswith(".parquet")
        ]
    )
    assert n_files == MULTIBATCH_FILES


def test_clustered_lineitem_files_are_range_disjoint(spark):
    """Range-clustering really produces disjoint per-file shipdate
    ranges (parquet footer stats), and the June-1997 month overlaps
    at most 2 of them — the skipping the layout exists to enable."""
    import glob
    from datetime import datetime

    import pyarrow.parquet as pq

    path = columnar.ensure_lineitem_clustered(spark, SF)
    ranges = []
    for f in sorted(glob.glob(os.path.join(path, "part-*.parquet"))):
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        idx = names.index("l_shipdate")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            assert st is not None and st.has_min_max, (
                "shipdate column must carry min/max footer stats"
            )
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) == 2 * columnar.LAYOUT_FILES
    ranges.sort()
    for (lo_a, hi_a), (lo_b, _hi_b) in zip(ranges, ranges[1:]):
        assert hi_a < lo_b, f"overlapping file ranges: {hi_a} !< {lo_b}"
    start, end = datetime(1997, 6, 1), datetime(1997, 7, 1)
    hit = [r for r in ranges if r[0] < end and r[1] >= start]
    assert 1 <= len(hit) <= 2, f"month should hit <=2 files, hit {len(hit)}"


def test_clustered_scan_pushes_shipdate_filter(spark):
    """The month predicate reaches the parquet scan (PushedFilters),
    which is what activates the footer-stats skipping at read time."""
    df = columnar.clustered_month_rollup(spark, SF)
    plan = _plan(df)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    assert "l_shipdate" in pushed


def test_streaming_dedup_ingest_matches_oneshot_triage(spark, tmp_path):
    """Union of per-micro-batch history-only verdicts == the one-shot
    history-only triage of the whole split (batching invariance). The
    per-batch cleanup frees only the batch's own frames: a memory
    artifact built before the replay is still served after it."""
    from pyspark.sql import functions as F  # noqa: F811

    from sressentials_spark import artifacts as A
    from sressentials_spark.operators import dedup as D
    from sressentials_spark.sources.tables import load_table
    from sressentials_spark.streaming.dedup import run_minhash_ingest_stream

    # A fresh path to the same tables, so the replay runs in this test
    # even when an earlier query already built it under ``SF``.
    sf = str(tmp_path / "sf")
    os.symlink(SF, sf)
    probe = ("ingest_probe", sf)
    A.get_or_build(spark, probe, lambda: A.tracked_persist(spark.range(3)))

    streamed = run_minhash_ingest_stream(spark, sf).toPandas()

    A.get_or_build(spark, probe, lambda: A.tracked_persist(spark.range(3)))
    assert A.ARTIFACT_EVENTS[-1] == ("hit", probe)

    docs = load_table(spark, sf, "documents")
    max_id = docs.agg(F.max("doc_id")).first()[0]
    split = (max_id + 1) * 7 // 10
    index = A.get_or_build(
        spark,
        ("dedup_index", sf, split),
        lambda: (_ for _ in ()).throw(
            AssertionError("index should have been built by the stream run")
        ),
        tier="disk",
    )
    oneshot = D.minhash_triage(
        index.side(spark), docs.filter(F.col("doc_id") >= split), batch_quadrant=False
    ).toPandas()
    D.release_persisted()
    key = lambda df: df.sort_values("doc_id").reset_index(drop=True)  # noqa: E731
    assert key(streamed)[["doc_id", "n_hist_matches", "status"]].equals(
        key(oneshot)[["doc_id", "n_hist_matches", "status"]]
    )
    assert (streamed["status"] == "dup_of_history").sum() > 0


def _file_ranges(path, colname):
    import glob

    import pyarrow.parquet as pq

    out = []
    for f in sorted(glob.glob(os.path.join(path, "part-*.parquet"))):
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        idx = names.index(colname)
        st = [
            md.row_group(rg).column(idx).statistics
            for rg in range(md.num_row_groups)
        ]
        out.append((min(s.min for s in st), max(s.max for s in st)))
    return out


def test_zorder_localizes_both_dimensions(spark):
    """The Z-ordered layout gives non-trivial footer-stats skipping on
    BOTH clustered columns: a narrow partkey band and a one-year
    shipdate band each overlap at most ~half the files — while the
    single-column shipdate clustering (the comparison layout) gives
    the partkey band NO skipping at all."""
    from datetime import datetime

    zpath = columnar.ensure_lineitem_zordered(spark, SF)
    pk = _file_ranges(zpath, "l_partkey")
    dt = _file_ranges(zpath, "l_shipdate")
    n = len(pk)
    assert n == 2 * columnar.LAYOUT_FILES
    pk_hits = [r for r in pk if r[0] <= 19 and r[1] >= 10]
    assert len(pk_hits) <= n * 5 // 8, f"partkey band hits {len(pk_hits)}/{n}"
    y0, y1 = datetime(1996, 1, 1), datetime(1997, 1, 1)
    dt_hits = [r for r in dt if r[0] < y1 and r[1] >= y0]
    assert len(dt_hits) <= n * 5 // 8, f"shipdate band hits {len(dt_hits)}/{n}"
    # Contrast: the shipdate-only clustered layout cannot skip on
    # partkey — every file spans (essentially) the whole key domain.
    cpath = columnar.ensure_lineitem_clustered(spark, SF)
    cpk = _file_ranges(cpath, "l_partkey")
    c_hits = [r for r in cpk if r[0] <= 19 and r[1] >= 10]
    assert len(c_hits) == len(cpk)


def test_zorder_scan_pushes_partkey_filter(spark):
    df = columnar.zorder_part_band_rollup(spark, SF)
    plan = _plan(df)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    assert "l_partkey" in pushed


def test_schema_evolution_generations(spark):
    """Two-generation corpus: pre-evolution files physically LACK the
    evolved column (not null-stored — absent from the footer), and the
    mergeSchema read null-fills exactly the old generation."""
    import glob

    import pyarrow.parquet as pq

    path = columnar.ensure_documents_generations(spark, SF)
    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    cols_per_file = [set(pq.read_schema(p).names) for p in files]
    with_tier = [c for c in cols_per_file if "quality_tier" in c]
    without = [c for c in cols_per_file if "quality_tier" not in c]
    assert with_tier and without, cols_per_file

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    max_id = docs.agg(F.max("doc_id")).first()[0]
    split = (max_id + 1) * 7 // 10
    assert merged.filter(
        (F.col("doc_id") < split) & F.col("quality_tier").isNotNull()
    ).isEmpty()
    assert merged.filter(
        (F.col("doc_id") >= split) & F.col("quality_tier").isNull()
    ).isEmpty()
    assert merged.count() == docs.count()
