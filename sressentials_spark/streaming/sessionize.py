"""Streaming sessionization: a custom stateful operator built on
``applyInPandasWithState``.

The streaming face of the batch ``window_sessionize_events`` query
(catalog.py): per-user session ids assigned from 30-minute inactivity
gaps, but computed incrementally — per-user state (last-seen event
time µs + running session counter) lives in the state store and
carries across micro-batches, so a user whose events span many batches
keeps one consistent session numbering. This is the shape of every
custom stateful operator in this engine: groupBy(key) →
``applyInPandasWithState`` with an explicit state schema, Arrow-batched
pandas on the partition side, no driver participation.

Ordering contract: within a micro-batch each user's rows are sorted by
``(ts, event_id)`` before assignment — identical to the batch window
spec — and batches are assumed event-time-ordered per user *across*
batches (true for an ``availableNow`` replay of time-partitioned files
and for ordered ingest). Out-of-order arrivals across batch boundaries
would need a watermark + reordering buffer in front of the state
update; that variant is deliberately out of scope (the batch query is
the late-data-correct restatement). The contract is ENFORCED, not just
documented: a batch whose earliest per-user event time precedes the
stored ``last_us`` raises inside the state update and fails the query,
so violations surface as an error instead of silently mis-numbered
sessions.

Scale: state is two longs per active user; the stateful shuffle keys
on ``user_id`` (uniform). At 100 TB the same plan runs with a RocksDB
state store and a timeout evicting users idle past the session gap
(their next event would start a new session anyway — eviction is
semantically free).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from sressentials_spark.artifacts import get_or_build
from sressentials_spark.sources.tables import load_table
from sressentials_spark.streaming import (
    drain_to_memory,
    dropped_by_watermark,
    file_source,
    replay_to_parquet,
    stage_arrivals,
    stage_source,
)

#: Inactivity gap that closes a session (must match catalog's
#: ``_SESSION_GAP_US`` so the oracle restates both queries).
SESSION_GAP_US = 30 * 60 * 1_000_000

_OUTPUT_SCHEMA = "event_id long, user_id long, ts timestamp, session_id long"
_STAGED_SCHEMA = "event_id long, user_id long, ts timestamp"
_STATE_SCHEMA = "last_us long, session_id long"


def _assign_sessions(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    # Vectorized per-key body (numpy lexsort + cumsum of gap flags):
    # the function runs once per active key per micro-batch, so
    # per-call pandas overhead multiplies by |users| x |batches| — it
    # was a large share of the replay's executor time on top of the
    # applyInPandasWithState framework floor.
    frames = [p for p in pdfs if len(p)]
    if not frames:
        return
    pdf = (
        frames[0]
        if len(frames) == 1
        else pd.concat(frames, ignore_index=True)
    )
    ts_np = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
    order = np.lexsort((pdf["event_id"].to_numpy(), ts_np))
    pdf = pdf.iloc[order].reset_index(drop=True)
    us = ts_np[order]
    if state.exists:
        last_us, sid = state.get
        # Ordering-contract guard: batches must arrive event-time-
        # ordered per user (see module docstring). A batch whose
        # earliest event precedes the stored last-seen time is a state
        # regression — session ids from here on would be silently
        # wrong, so fail the query loudly instead.
        if len(us) and int(us[0]) < last_us:
            raise ValueError(
                f"sessionize ordering contract violated for key {key}: "
                f"batch min event time {int(us[0])}us precedes "
                f"stored last-seen {last_us}us; cross-batch arrivals "
                "must be event-time-ordered per user (use the batch "
                "window query for late/out-of-order data)"
            )
    else:
        last_us, sid = None, 0
    # A new session starts at row i iff gap from the previous event
    # (stored last_us for row 0; a missing history always starts one)
    # exceeds the gap — identical to the per-row loop it replaces.
    prev = np.concatenate(([last_us if last_us is not None else int(us[0])], us[:-1]))
    starts = (us - prev) > SESSION_GAP_US
    if last_us is None:
        starts[0] = True
    session_ids = sid + np.cumsum(starts.astype(np.int64))
    last_us, sid = int(us[-1]), int(session_ids[-1])
    state.update((last_us, sid))
    out = pdf[["event_id", "user_id", "ts"]].copy()
    out["session_id"] = pd.Series(session_ids, dtype="int64")
    yield out


def sessionize_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Incremental per-user sessionization over a parquet file source.
    ``max_files_per_trigger`` bounds each micro-batch to N files, so an
    availableNow replay becomes a multi-batch run (tests use this to
    exercise the cross-batch state hand-off)."""
    stream = file_source(
        spark, sf_dir, glob=glob, max_files_per_trigger=max_files_per_trigger
    )
    events = stream.select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    return events.groupBy("user_id").applyInPandasWithState(
        _assign_sessions,
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_sessionize_batch(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Replay the stream to completion (availableNow) and return the
    sessionized table. ``max_files_per_trigger`` forces multi-batch
    replays in tests so the cross-batch state hand-off is exercised."""
    src = sessionize_stream(
        spark, sf_dir, glob=glob, max_files_per_trigger=max_files_per_trigger
    )
    out, _ = replay_to_parquet(spark, src, "sessionize")
    return out


# --------------------------------------------------------------------------
# Out-of-order variant: watermark + reorder buffer
# --------------------------------------------------------------------------

#: Watermark delay for the OOO variant. Correctness contract: arrival
#: disorder (how far behind the stream's max-seen event time a new
#: row may arrive) must stay under this delay; rows later than the
#: watermark would be dropped by Spark's late-data filter.
OOO_DELAY = "15 minutes"

_OOO_STATE_SCHEMA = (
    "buf_ids array<long>, buf_us array<long>, last_us long, sid long"
)

#: last_us sentinel for "no session history yet" (event times are
#: positive epoch-µs, so -1 is unreachable).
_NO_HISTORY = -1


def _assign_sessions_ooo(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Reorder-buffered sessionization (EventTimeTimeout).

    Instead of the strict ordering contract of :func:`_assign_sessions`,
    incoming rows are held in per-user state and emitted in EVENT-TIME
    order only once the watermark has passed them — at which point
    Spark guarantees no earlier row can still arrive (late rows are
    filtered before the state update), so session numbering over the
    flushed prefix is exactly the batch window assignment. Buffered
    rows re-flush on event-time timeout as the watermark advances.
    """
    wm_us = state.getCurrentWatermarkMs() * 1000
    if state.exists:
        s_ids, s_us, last_us, sid = state.get
        buf_ids = np.asarray(s_ids, dtype=np.int64)
        buf_us = np.asarray(s_us, dtype=np.int64)
    else:
        buf_ids = buf_us = np.empty(0, dtype=np.int64)
        last_us, sid = _NO_HISTORY, 0

    rows = [p for p in pdfs if len(p)]
    if rows:
        pdf = (
            rows[0] if len(rows) == 1 else pd.concat(rows, ignore_index=True)
        )
        buf_ids = np.concatenate(
            (buf_ids, pdf["event_id"].to_numpy().astype(np.int64))
        )
        buf_us = np.concatenate(
            (buf_us, pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64"))
        )

    # Vectorized reorder + flush split (same per-call-cost argument as
    # _assign_sessions): lexsort by (ts, event_id); the flush prefix is
    # every buffered row strictly behind the watermark.
    order = np.lexsort((buf_ids, buf_us))
    buf_ids, buf_us = buf_ids[order], buf_us[order]
    n_flush = int(np.searchsorted(buf_us, wm_us, side="left"))

    out_ids, out_us = buf_ids[:n_flush], buf_us[:n_flush]
    if n_flush:
        prev = np.concatenate(
            ([last_us if last_us != _NO_HISTORY else int(out_us[0])], out_us[:-1])
        )
        starts = (out_us - prev) > SESSION_GAP_US
        if last_us == _NO_HISTORY:
            starts[0] = True
        out_sids = sid + np.cumsum(starts.astype(np.int64))
        last_us, sid = int(out_us[-1]), int(out_sids[-1])

    rem_ids = buf_ids[n_flush:].tolist()
    rem_us = buf_us[n_flush:].tolist()
    state.update((rem_ids, rem_us, int(last_us), int(sid)))
    if rem_us:
        # Re-arm: fire when the watermark passes the oldest buffered
        # row (must be strictly later than the current watermark).
        state.setTimeoutTimestamp(max(rem_us[0] // 1000, wm_us // 1000 + 1))

    if n_flush:  # an empty yield only feeds pandas-concat noise
        yield pd.DataFrame(
            {
                "event_id": pd.Series(out_ids, dtype="int64"),
                "user_id": pd.Series(
                    np.full(n_flush, int(key[0]), dtype=np.int64)
                ),
                "ts": pd.Series(out_us).astype("datetime64[us]"),
                "session_id": pd.Series(out_sids, dtype="int64"),
            }
        )


#: Staging geometry for the OOO replay: events are perturbed by a
#: deterministic per-event jitter in [0, _JITTER_US) and split into
#: arrival files by perturbed-time range, so cross-batch disorder is
#: REAL but bounded by the jitter — and the watermark delay exceeds it,
#: so no row ever arrives behind the watermark (zero late drops, exact
#: batch parity).
_JITTER_US = 10 * 60 * 1_000_000
#: 3 arrival files + sentinel = 4 micro-batches. The pinned semantics
#: (cross-batch reorder-buffer state, watermark lag, timer drain) need
#: at least 3 batches — two arrival boundaries with REAL disorder plus
#: the sentinel flush; each extra forced batch only re-pays fixed
#: per-micro-batch harness latency (state snapshot/commit), which at
#: replay scale dominates wall-clock (r6 plan audit: 8.1 s, ~6% of the
#: whole suite, almost all of it batch overhead).
_OOO_FILES = 3

#: Watermark observability from the most recent OOO replay:
#: ``dropped_late`` (rows Spark's late-data filter discarded — disorder
#: exceeded OOO_DELAY) and ``emitted`` (rows the sessionizer produced;
#: the sentinel never flushes — the watermark never passes it — so
#: this counts real rows). A production deployment would alert on
#: ``dropped_late > 0``; the staged replay keeps it 0 by construction
#: and tests/test_streaming_ooo.py pins that a beyond-delay row is
#: COUNTED here instead of vanishing silently.
LAST_OOO_STATS: dict[str, int] = {}


def stage_ooo_arrival(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> str:
    """Stage the events table as an out-of-order arrival sequence:
    ``_OOO_FILES`` parquet files ordered by jittered event time (each
    file a later arrival window, rows inside genuinely out of order
    across file boundaries), plus a far-future sentinel row for a
    dummy user (user_id = -1) whose only job is to push the GLOBAL
    watermark past every real event so the final timeout round drains
    all reorder buffers. Returns the stage dir."""
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    # Overflow-safe jitter: a raw `event_id * 2654435761` long multiply
    # trips ANSI ARITHMETIC_OVERFLOW for ids above ~3.4e9 — exactly the
    # id range of the 100 TB ingest this staging models. xxhash64 is a
    # bounded 64-bit mix; pmod folds it into [0, _JITTER_US).
    jitter = F.pmod(F.xxhash64(F.col("event_id")), F.lit(_JITTER_US))
    max_ts = e.agg(F.max("ts")).first()[0]
    sentinel_ts = pd.Timestamp(max_ts) + pd.Timedelta(hours=3)
    sentinel = spark.createDataFrame(
        [(int(-1), int(-1), sentinel_ts.to_pydatetime())], _STAGED_SCHEMA
    )
    return stage_arrivals(
        e,
        _OOO_FILES,
        F.unix_micros(F.col("ts")) + jitter,
        tails={"sentinel": sentinel},
        out_dir=out_dir,
    )


def _ooo_stage(spark: SparkSession, sf_dir: str) -> str:
    """The OOO arrival sequence, staged once per (session, corpus)."""
    return get_or_build(
        spark,
        ("ooo_stage", sf_dir),
        lambda: stage_ooo_arrival(spark, sf_dir),
        tier="disk",
    )


def run_sessionize_ooo_batch(
    spark: SparkSession,
    sf_dir: str,
    stage_dir: str | None = None,
    prestaged: bool = False,
) -> DataFrame:
    """Replay an out-of-order arrival of the events table through the
    watermark + reorder-buffer sessionizer and return the full
    sessionized table (sentinel rows excluded). Multi-batch by
    construction: one micro-batch per staged arrival file
    (``maxFilesPerTrigger=1``), so rows for one user really do arrive
    out of event-time order across state updates — the case the strict
    variant refuses loudly."""
    if stage_dir is None:
        # Stage once per (session, corpus): the arrival sequence is a
        # deterministic function of the events table, so re-rendering
        # it per invocation (bench passes, repeated queries) would
        # just re-pay the write. Disk artifact — survives
        # release_persisted like the dedup index.
        stage_dir = _ooo_stage(spark, sf_dir)
    elif not prestaged:
        # prestaged=True replays arrival files the caller laid out
        # directly (tests stage adversarial sequences, e.g. a
        # beyond-delay row); default re-stages from the events table.
        stage_ooo_arrival(spark, sf_dir, stage_dir)

    sessions = (
        stage_source(spark, stage_dir, _STAGED_SCHEMA)
        .withWatermark("ts", OOO_DELAY)
        .groupBy("user_id")
        .applyInPandasWithState(
            _assign_sessions_ooo,
            outputStructType=_OUTPUT_SCHEMA,
            stateStructType=_OOO_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    out, progress = replay_to_parquet(spark, sessions, "sessionize_ooo")
    LAST_OOO_STATS.clear()
    LAST_OOO_STATS.update(
        dropped_late=dropped_by_watermark(progress),
        # One distributed count over the written output (the parquet
        # FileSink reports numOutputRows=-1 and the state operator has
        # no output-row metric, so counting the sink files is the
        # cheapest faithful source).
        emitted=out.count(),
    )
    return out.filter(F.col("user_id") >= 0)


def _session_stats(events: DataFrame) -> DataFrame:
    """Native ``session_window`` rollup: one row per (user, merged
    30-minute session) with its start, end and event count."""
    return (
        events.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def run_session_window_batch(
    spark: SparkSession, sf_dir: str, glob: str = "events.parquet"
) -> DataFrame:
    """Spark's NATIVE ``session_window`` aggregation as a streaming
    query, replayed to completion (availableNow, complete mode so
    every merged session emits without a watermark sentinel). Session
    state (open windows per user) lives in the state store and merges
    across micro-batches — all JVM-side, no custom code; the
    declarative counterpart of the ``applyInPandasWithState``
    operators above.

    HARNESS-ONLY MODE CHOICE: ``complete`` + memory sink re-emits the
    whole session table each micro-batch and retains all aggregation
    state for the query's lifetime — acceptable only because this is a
    bounded replay whose output is the final table. A production
    deployment of the same aggregation uses ``append`` with
    ``withWatermark`` (sessions emit once, when the watermark closes
    them) and a file/table sink — the idiom the OOO sessionizer and
    attribution replays above demonstrate, and which
    :func:`run_session_window_append` below runs for this exact
    aggregation."""
    events = file_source(spark, sf_dir, glob=glob).select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    return drain_to_memory(
        _session_stats(events), "stream_session_window_", f"{sf_dir}|{glob}"
    )


def run_session_window_append(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Native ``session_window`` aggregation in its PRODUCTION shape:
    ``append`` output mode behind a watermark, replayed over the staged
    out-of-order arrival sequence (one file per micro-batch) and landed
    on a parquet sink.

    Unlike the complete-mode harness above, a session emits EXACTLY
    ONCE — when the watermark passes its end — and its state is evicted
    immediately after, so state size tracks OPEN sessions, not history:
    the only shape that survives an unbounded stream. The staged
    arrival's far-future sentinel (user_id = -1, +3 h) pushes the final
    watermark past every real session's end so the bounded replay
    drains completely; the sentinel's own session never closes (the
    watermark never passes it), so it simply never emits — no output
    filtering needed, though we filter defensively.

    Exactness under disorder: staged jitter (≤ 10 min) stays under the
    watermark delay (15 min), so no row arrives behind the watermark
    (``dropped_by_watermark`` = 0, asserted in tests) and every session
    closes with all its members merged — emission requires watermark >
    session end = last + 30 min, which a mergeable future row (ts ≤
    last + 30 min) always precedes. Output matches the batch and
    complete-mode queries row for row."""
    stream = stage_source(spark, _ooo_stage(spark, sf_dir), _STAGED_SCHEMA)
    out, progress = replay_to_parquet(
        spark,
        _session_stats(stream.withWatermark("ts", OOO_DELAY)),
        "session_window_append",
    )
    dropped = dropped_by_watermark(progress)
    if dropped:
        raise ValueError(
            f"session_window append replay dropped {dropped} late rows: "
            "staged disorder exceeded the watermark delay"
        )
    return out.filter(F.col("user_id") >= 0)
