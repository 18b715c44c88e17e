"""Checkpoint recovery: a stateful streaming query stopped and
RESTARTED from its checkpoint must carry state across the restart (not
just across micro-batches within one run) and keep the file sink
exactly-once.

This is the production lifecycle of every streaming job in this
engine: run, terminate (deploy/crash/scale-down), restart against the
same checkpoint dir when new files have arrived. Recovery correctness
rests on three separately-persisted logs — the source offset log
(which files are committed), the state store (per-user session
state), and the sink's ``_spark_metadata`` commit log (which output
files are visible) — and a bug in any of them shows up here as
duplicated output, restarted session numbering, or both.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sressentials_spark.streaming.sessionize import sessionize_stream

SRC = "/root/testdata/sf0.001/events.parquet"


@pytest.fixture(scope="module")
def events_pdf():
    return pq.read_table(SRC).to_pandas()


def _expected_sessions(df: pd.DataFrame) -> pd.DataFrame:
    from tests.test_streaming_sessionize import (
        _expected_sessions as ref,
    )

    return ref(df)


def _run_to_completion(spark, src_dir: str, out: str, ckpt: str):
    """One bounded run of the sessionizer against whatever files exist
    in ``src_dir`` right now, resuming from ``ckpt`` if present."""
    from sressentials_spark.streaming import state_partitions

    with state_partitions(spark):
        src = sessionize_stream(spark, src_dir, glob="*.parquet")
        q = (
            src.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return src.schema


def test_sessionize_state_survives_restart_exactly_once(
    spark, events_pdf, tmp_path
):
    d = str(tmp_path / "in")
    os.makedirs(d)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    cut = events_pdf["ts"].median()
    early = events_pdf[events_pdf["ts"] <= cut]
    late = events_pdf[events_pdf["ts"] > cut]

    # Run 1: only the early half has arrived; drain and terminate.
    fa = os.path.join(d, "events_a.parquet")
    pq.write_table(pa.Table.from_pandas(early, preserve_index=False), fa)
    schema = _run_to_completion(spark, d, out, ckpt)
    n1 = spark.read.schema(schema).parquet(out).count()
    assert n1 == len(early)

    # The late half lands; RESTART against the same checkpoint. The
    # offset log must skip file A, the state store must resume every
    # user's (last_seen, session_id) pair.
    fb = os.path.join(d, "events_b.parquet")
    pq.write_table(pa.Table.from_pandas(late, preserve_index=False), fb)
    _run_to_completion(spark, d, out, ckpt)
    got = (
        spark.read.schema(schema)
        .parquet(out)
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"], kind="mergesort")
        .reset_index(drop=True)
    )
    # Exactly-once: no duplicated early rows, no gaps.
    assert len(got) == len(events_pdf)
    exp = _expected_sessions(events_pdf).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["event_id", "user_id", "session_id"]],
        exp[["event_id", "user_id", "session_id"]],
    )
    # The recovery genuinely mattered: users active in BOTH halves
    # continue their numbering after the restart instead of
    # restarting at session 1 (which a lost state store would do).
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

    # Run 3: nothing new arrived — a restart must be a no-op (the
    # offset log already covers both files; the sink log adds no
    # files).
    _run_to_completion(spark, d, out, ckpt)
    assert spark.read.schema(schema).parquet(out).count() == len(events_pdf)
