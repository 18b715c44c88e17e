"""Native bounded-state streaming operators: append-mode
``session_window`` and ``dropDuplicatesWithinWatermark``.

Both are the PRODUCTION shapes of operators the suite already covers
in harness modes (complete-mode session_window; unbounded
``dropDuplicates``): state is bounded by the watermark — open sessions
only / TTL-windowed keys only — which is what survives an unbounded
stream. These tests pin exact agreement with the batch twins on the
real corpus at sf0.001.
"""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_session_window_append_matches_batch(spark):
    from sressentials_spark.catalog import QUERIES
    from sressentials_spark.streaming.sessionize import (
        run_session_window_append,
    )

    streamed = run_session_window_append(spark, SF)
    batch = QUERIES["session_window_stats"](spark, SF)
    assert streamed.count() == batch.count()
    assert streamed.exceptAll(batch).isEmpty()
    assert batch.exceptAll(streamed).isEmpty()
    # The sentinel user's never-closed session must not leak out.
    assert streamed.filter(F.col("user_id") < 0).isEmpty()


def test_dedup_within_watermark_matches_events(spark, tmp_path):
    from sressentials_spark.streaming.dedup import (
        _EVENT_COLS,
        run_dedup_within_watermark_batch,
        stage_duplicate_arrivals,
    )

    # The staged sequence genuinely re-delivers rows: total staged
    # exceeds the table, and the re-delivery file is non-empty.
    from sressentials_spark.sources.tables import load_table

    d = stage_duplicate_arrivals(spark, SF, str(tmp_path / "stage"))
    n_files = len(glob.glob(f"{d}/*/part-*.parquet"))
    assert n_files == 3
    events = load_table(spark, SF, "events").select(*_EVENT_COLS)
    staged = spark.read.option("recursiveFileLookup", "true").parquet(d)
    n_dups = staged.count() - events.count()
    assert n_dups > 0

    deduped = run_dedup_within_watermark_batch(spark, SF)
    assert deduped.count() == events.count()
    assert deduped.exceptAll(events).isEmpty()
    assert events.exceptAll(deduped).isEmpty()
