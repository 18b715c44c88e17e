"""Streaming absence detection (inactivity alerts): TIMER-DRIVEN
emission — output rows that correspond to NO input row.

Every other streaming operator here emits because data arrived; this
one emits because data STOPPED arriving: a user silent for more than
``SILENCE_GAP`` produces an alert row ``(user_id, last_ts)`` carrying
their last-seen event time. That inversion is the capability
``GroupStateTimeout.EventTimeTimeout`` exists for — per-user state
holds last-seen time, a timer is armed at ``last + gap``, and when the
WATERMARK (not wall clock: replays and backfills stay deterministic)
passes the timer with no new data, Spark invokes the state function
with ``hasTimedOut`` and no rows, which emits the alert and clears the
state. If the user returns before the timer, the new batch re-arms it.

Exactness contract (the oracle restates it with one LEAD window): one
alert per maximal silence period longer than the gap, including the
trailing silence after each user's final event. Timers only fire at
micro-batch boundaries, so a silence period fully contained INSIDE one
batch would be missed by the timer alone — the state function
therefore also scans its input for in-batch gaps (and the
stored-last → first-new-row gap, covering a user who returns before
their timer's watermark), and a fired timer CLEARS state so the same
silence can never emit twice. The staged replay appends a far-future
sentinel (user −1) that pushes the final watermark past every real
user's ``last + gap``, so trailing alerts drain; the sentinel's own
timer never fires (the watermark never passes it).

Scale: one long of state per active user, keyed on the uniform
user_id; alerts are O(silence periods), never O(events). This is the
heartbeat/liveness monitor every fleet pipeline runs, with RocksDB
holding the per-entity longs at production scale.
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
    dropped_by_watermark,
    replay_to_parquet,
    stage_arrivals,
    stage_source,
)

#: A user is "silent" when more than this elapses between events
#: (strictly greater; matches the oracle's `nxt > ts + INTERVAL`).
SILENCE_GAP_US = 7 * 24 * 3600 * 1_000_000
SILENCE_GAP_SQL = "INTERVAL 7 DAY"

#: Watermark delay: staged arrivals are event-time-ordered, so a
#: minimal delay keeps timer latency low without late drops.
ABSENCE_DELAY = "1 minute"

_OUT_SCHEMA = "user_id long, last_ts timestamp"
_IN_SCHEMA = "event_id long, user_id long, ts timestamp"
_STATE_SCHEMA = "last_us long"


def _detect_silence(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        # Watermark passed last + gap with no new data: the trailing
        # (or mid-stream, if the user never returns this batch) alert.
        (last_us,) = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": pd.Series([int(key[0])], dtype="int64"),
                "last_ts": pd.Series([last_us], dtype="int64").astype(
                    "datetime64[us]"
                ),
            }
        )
        return

    frames = [p for p in pdfs if len(p)]
    if not frames:
        # Defensive: Spark invokes with rows or hasTimedOut (handled
        # above); an empty call leaves state and timer untouched.
        return
    pdf = (
        frames[0]
        if len(frames) == 1
        else pd.concat(frames, ignore_index=True)
    )
    # numpy lexsort + vectorized gap scan: the function runs once per
    # ACTIVE KEY per micro-batch, so per-call pandas overhead (concat,
    # sort_values, row loop) multiplies by |users| x |batches| — it was
    # ~40% of the replay's executor time on top of the
    # applyInPandasWithState framework floor (measured: noop state fn
    # 6.7 s vs real detector 10.6 s on the same staged replay).
    ts_np = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
    order = np.lexsort((pdf["event_id"].to_numpy(), ts_np))
    us = ts_np[order]

    last = int(state.get[0]) if state.exists else None
    if last is not None and len(us) and int(us[0]) < last:
        # Ordering-contract violation (same guard as the sessionizer's
        # strict variant): this operator requires per-user cross-batch
        # event-time order — a batch opening BEFORE the stored
        # last-seen time would otherwise move `last` backwards and
        # silently corrupt every subsequent gap. The staged replay
        # guarantees order by construction; anything else must fail
        # loudly, not degrade.
        raise ValueError(
            f"absence detector: user {key[0]} batch opens at "
            f"{int(us[0])}us, before stored last-seen {last}us — "
            "cross-batch arrival disorder violates the ordering contract"
        )
    # In-batch gaps AND the stored-last -> first-new-row gap (a user
    # returning before their timer's watermark): both are silences the
    # timer alone would miss. chain = [stored last?, batch times...];
    # an alert is every element followed by a gap > SILENCE_GAP_US.
    chain = us if last is None else np.concatenate(([last], us))
    gaps = np.diff(chain)
    alerts = chain[:-1][gaps > SILENCE_GAP_US].tolist()
    last = int(chain[-1])
    state.update((int(last),))
    # Arm the trailing timer strictly past the current watermark (the
    # API rejects a timestamp at or behind it).
    wm_ms = state.getCurrentWatermarkMs()
    state.setTimeoutTimestamp(
        max((last + SILENCE_GAP_US) // 1000 + 1, wm_ms + 1)
    )

    if alerts:
        yield pd.DataFrame(
            {
                "user_id": pd.Series(
                    [int(key[0])] * len(alerts), dtype="int64"
                ),
                "last_ts": pd.Series(alerts, dtype="int64").astype(
                    "datetime64[us]"
                ),
            }
        )


def _stage_with_sentinel(spark: SparkSession, sf_dir: str) -> str:
    """The ordered multi-batch arrival staging plus a sentinel far
    enough out (max_ts + gap + delay + margin) that the final
    watermark passes EVERY user's last + gap, draining the trailing
    alerts."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    max_ts = e.agg(F.max("ts")).first()[0]
    sentinel_ts = (
        pd.Timestamp(max_ts)
        + pd.Timedelta(microseconds=SILENCE_GAP_US)
        + pd.Timedelta(hours=2)
    )
    sentinel = spark.createDataFrame(
        [(int(-1), int(-1), sentinel_ts.to_pydatetime())], _IN_SCHEMA
    )
    # 2 ordered arrival files + sentinel = 3 micro-batches: the minimum
    # that exercises cross-batch state (stored-last -> first-new-row
    # gaps), watermark advance, and the timer-drain round. More files
    # only multiply fixed per-batch state-store latency (r6 plan
    # audit: 7.2 s at 5 batches, dominated by harness overhead).
    return stage_arrivals(e, 2, "ts", tails={"sentinel": sentinel})


#: Watermark observability from the most recent absence replay
#: (mirrors ``sessionize.LAST_OOO_STATS``): ``dropped_late`` counts
#: rows Spark's late-data filter silently discarded. A production
#: deployment alerts on it; the staged replay keeps it 0 by
#: construction, and tests/test_streaming_late_data.py pins that a
#: beyond-delay row is COUNTED here instead of vanishing.
LAST_ABSENCE_STATS: dict[str, int] = {}


def run_absence_batch(
    spark: SparkSession, sf_dir: str, stage_dir: str | None = None
) -> DataFrame:
    """Replay the staged arrival through the absence detector and
    return every silence alert (sentinel excluded).

    ``stage_dir`` (tests only) replays pre-staged arrival files
    instead of the canonical staging — used to pin late-data
    accounting with an adversarial beyond-delay row."""
    prestaged = stage_dir is not None
    if stage_dir is None:
        stage_dir = get_or_build(
            spark,
            ("absence_stage", sf_dir),
            lambda: _stage_with_sentinel(spark, sf_dir),
            tier="disk",
        )
    alerts = (
        stage_source(spark, stage_dir, _IN_SCHEMA)
        .withWatermark("ts", ABSENCE_DELAY)
        .groupBy("user_id")
        .applyInPandasWithState(
            _detect_silence,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    out, progress = replay_to_parquet(spark, alerts, "absence")
    dropped = dropped_by_watermark(progress)
    LAST_ABSENCE_STATS.clear()
    LAST_ABSENCE_STATS.update(dropped_late=dropped)
    if dropped and not prestaged:
        # The canonical staging is event-time ordered, so a drop there
        # means missing alerts — fail the registered query loudly. A
        # prestaged adversarial replay instead OBSERVES the drop via
        # the counter (the production alerting surface).
        raise ValueError(
            f"absence replay late-dropped {dropped} rows: staged arrival "
            "disorder exceeded the watermark delay"
        )
    return out.filter(F.col("user_id") >= 0)
