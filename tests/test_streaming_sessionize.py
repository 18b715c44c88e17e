from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sressentials_spark.streaming.sessionize import (
    SESSION_GAP_US,
    run_sessionize_batch,
)

SRC = "/root/testdata/sf0.001/events.parquet"


def _expected_sessions(df: pd.DataFrame) -> pd.DataFrame:
    """Reference sessionization in plain pandas (engine-independent)."""
    df = df.sort_values(["user_id", "ts", "event_id"], kind="mergesort").copy()
    us = df["ts"].astype("datetime64[us]").astype("int64")
    out = []
    for uid, grp in us.groupby(df["user_id"]):
        sid, last = 0, None
        for t in grp:
            if last is None or t - last > SESSION_GAP_US:
                sid += 1
            last = t
            out.append(sid)
    df["session_id"] = out
    return df[["event_id", "user_id", "ts", "session_id"]]


@pytest.fixture(scope="module")
def events_pdf():
    return pq.read_table(SRC).to_pandas()


def _write_time_split(tmpdir: str, pdf: pd.DataFrame) -> None:
    """Split events at the median timestamp into two files with
    increasing mtimes, so the file-source replays them in event-time
    order (per user, all of file A precedes all of file B)."""
    cut = pdf["ts"].median()
    a, b = pdf[pdf["ts"] <= cut], pdf[pdf["ts"] > cut]
    pa_, pb_ = os.path.join(tmpdir, "events_a.parquet"), os.path.join(
        tmpdir, "events_b.parquet"
    )
    pq.write_table(pa.Table.from_pandas(a, preserve_index=False), pa_)
    pq.write_table(pa.Table.from_pandas(b, preserve_index=False), pb_)
    os.utime(pa_, (1_000_000, 1_000_000))
    os.utime(pb_, (2_000_000, 2_000_000))


def test_single_batch_matches_reference(spark, events_pdf):
    got = (
        run_sessionize_batch(spark, "/root/testdata/sf0.001")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"], kind="mergesort")
        .reset_index(drop=True)
    )
    exp = _expected_sessions(events_pdf).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["event_id", "user_id", "session_id"]],
        exp[["event_id", "user_id", "session_id"]],
    )


def test_state_survives_micro_batches(spark, events_pdf, tmp_path):
    # maxFilesPerTrigger=1 → two micro-batches; session numbering must
    # continue across the batch boundary via the per-user state, not
    # restart at 1.
    d = str(tmp_path)
    _write_time_split(d, events_pdf)
    got = (
        run_sessionize_batch(spark, d, glob="*.parquet", max_files_per_trigger=1)
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"], kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(got) == len(events_pdf)
    exp = _expected_sessions(events_pdf).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["event_id", "user_id", "session_id"]],
        exp[["event_id", "user_id", "session_id"]],
    )
    # The hand-off actually mattered: users with events in BOTH files
    # continue their numbering after the cut (>= the pre-cut max, never
    # restarting at 1 — a dropped state would restart every user).
    cut = events_pdf["ts"].median()
    merged = got[["event_id", "user_id", "session_id"]].merge(
        events_pdf[["event_id", "ts"]], on="event_id"
    )
    continued = 0
    for _, g in merged.groupby("user_id"):
        before = g[g["ts"] <= cut]["session_id"]
        after = g[g["ts"] > cut]["session_id"]
        if len(before) and len(after):
            assert after.min() >= before.max()
            if after.min() > 1:
                continued += 1
    assert continued > 0


def test_out_of_order_batches_fail_loudly(spark, events_pdf, tmp_path):
    """Cross-batch ordering contract is enforced: replaying the LATE
    half first (file mtimes reversed) regresses the per-user state and
    must fail the query, not silently mis-number sessions."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    d = str(tmp_path)
    cut = events_pdf["ts"].median()
    a = events_pdf[events_pdf["ts"] <= cut]
    b = events_pdf[events_pdf["ts"] > cut]
    pa_ = os.path.join(d, "events_a.parquet")
    pb_ = os.path.join(d, "events_b.parquet")
    # Late half gets the EARLIER mtime → replays first.
    pq.write_table(pa.Table.from_pandas(b, preserve_index=False), pa_)
    pq.write_table(pa.Table.from_pandas(a, preserve_index=False), pb_)
    os.utime(pa_, (1_000_000, 1_000_000))
    os.utime(pb_, (2_000_000, 2_000_000))
    with pytest.raises(StreamingQueryException, match="ordering contract"):
        run_sessionize_batch(spark, d, glob="*.parquet", max_files_per_trigger=1)


def test_ooo_reorder_buffer_matches_batch_window(spark):
    """The watermark + reorder-buffer variant handles the arrival shape
    the strict operator refuses: a multi-batch, genuinely out-of-order
    replay (jittered arrival files, one per micro-batch) must
    reproduce the batch window sessionization EXACTLY — every event
    emitted (no late drops: staged disorder stays under the watermark
    delay), in-order assignment per user."""
    import pandas as pd

    from sressentials_spark.catalog import QUERIES
    from sressentials_spark.streaming.sessionize import (
        run_sessionize_ooo_batch,
    )

    sf = "/root/testdata/sf0.001"
    ooo = (
        run_sessionize_ooo_batch(spark, sf)
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    batch = (
        QUERIES["window_sessionize_events"](spark, sf)
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    cols = ["event_id", "user_id", "ts", "session_id"]
    pd.testing.assert_frame_equal(ooo[cols], batch[cols], check_dtype=False)
    # the replay really was multi-batch and multi-session
    assert ooo["session_id"].max() > 1


def test_native_session_window_boundary_semantics(spark):
    """Pins the native session_window boundary rule the shared oracle
    states: an event arriving EXACTLY 30 min after its predecessor
    still MERGES (adjacent windows coalesce — a new session needs a
    STRICTLY greater gap, same as the custom sessionizer). The
    testdata's µs-random timestamps never hit the boundary, so only
    this constructed case distinguishes ``>`` from ``>=`` — round 5
    first shipped ``>=`` and this test caught it."""
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    gap = dt.timedelta(minutes=30)
    rows = [
        (1, t0),
        (1, t0 + gap),                          # exactly at the gap
        (1, t0 + gap + dt.timedelta(seconds=1)),
        (2, t0),
        (2, t0 + gap - dt.timedelta(seconds=1)),  # just inside
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", "n")
        .orderBy("user_id", "n")
        .collect()
    )
    per_user = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r["n"])
    # user 1: the exact-gap event MERGES (one session of all 3 events)
    assert per_user[1] == [3], per_user
    # user 2: just-inside stays merged (1 session of 2 events)
    assert per_user[2] == [2], per_user
