"""Session artifacts: build a shared frame or handle once per session,
serve it to every query that asks for it, free it at one point.

The log pipelines parse a log once and feed every sheet from that
parse; the engine applies the same "build once, serve many" shape to
dedup signatures, annotated corpora, k-means runs, shared query
results and index stores. All of them go through one keyed registry,
:func:`get_or_build`, with two tiers:

* ``"memory"`` — persisted DataFrames. An entry owns the frames its
  build persisted through :func:`tracked_persist` / :func:`track`
  (frames of nested entries stay with those entries). Entries are
  freed by :func:`release_persisted` and, oldest first, once more
  than :data:`MEMORY_MAX` are live.
* ``"disk"`` — handles to artifacts that live on disk (bucketed index
  tables, IVF stores, staged replay arrivals, replay outputs) or on
  the driver (trained PQ codebooks). They survive
  :func:`release_persisted`: reuse costs a path or catalog lookup and
  holds no executor blocks. Their directories are removed
  at process exit (:mod:`sressentials_spark.scratch`).

Keys are ``(applicationId,) + key_parts``, so a second session in the
same process never sees another session's dead plans. A DataFrame in
``key_parts`` stands for its plan's ``semanticHash()``; when there is
no live context or no plan hash, the artifact is built uncached.

Every lookup appends ``("build"|"hit", key_parts)`` to
:data:`ARTIFACT_EVENTS`. bench.py reads it to label amortized queries:
a query whose time partly measures "consume a frame another query
built this pass" is flagged instead of masquerading as a speedup.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame

#: Live memory entries before the oldest is freed. One bench pass over
#: the catalog builds 16 distinct memory keys between releases
#: (counted from the build events: the two parsed logs, the minhash
#: tables, SimHash signatures, three annotated-corpus variants, k-means
#: assignments, co-purchase edges and seven shared query results).
#: The bound is twice that: evicting a frame a later query of the pass
#: still reads makes that query recompute it.
MEMORY_MAX = 32

#: Build/hit log, ``("build"|"hit", key_parts)``. Emptied in place by
#: :func:`release_persisted`; readers take their offsets after a
#: release.
ARTIFACT_EVENTS: list[tuple[str, tuple]] = []

#: Every frame persisted through this module and not yet freed.
_TRACKED: list[DataFrame] = []
#: key -> (value, frames its build tracked); dict order is FIFO order.
_MEMORY: dict[tuple, tuple[object, list[DataFrame]]] = {}
#: Same shape as ``_MEMORY``; never released in-process.
_DISK: dict[tuple, tuple[object, list[DataFrame]]] = {}
#: Open :func:`tracking` scopes, innermost last.
_SCOPES: list[list[DataFrame]] = []


def track(df: DataFrame) -> DataFrame:
    """Register an already-persisted ``df`` so the release frees it."""
    _TRACKED.append(df)
    if _SCOPES:
        _SCOPES[-1].append(df)
    return df


def tracked_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` such that :func:`release_persisted` frees it.

    The pair generators persist shared subplans that must stay cached
    until the CALLER materializes the returned lazy frame, so they
    cannot unpersist them themselves."""
    return track(df.persist(StorageLevel.MEMORY_AND_DISK))


def tracked_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)`` such that
    :func:`release_persisted` frees it: the lineage-cutting twin of
    :func:`tracked_persist` for iterative operators. Unlike a persisted
    frame, a freed checkpoint cannot be recomputed, so only free it
    once its consumers have materialized."""
    return track(df.localCheckpoint(eager=True))


@contextmanager
def tracking():
    """Yield the list of frames tracked inside the block; frames
    tracked by a nested :func:`tracking` block go to that block only.

    Scopes are process-wide: a ``foreachBatch`` callback runs on
    another thread, but only while the thread that started its query
    waits for the replay to drain
    (:func:`sressentials_spark.streaming.drain_foreach_batch`), so one
    thread tracks at a time."""
    frames: list[DataFrame] = []
    _SCOPES.append(frames)
    try:
        yield frames
    finally:
        _SCOPES.pop()


def free(frames: list[DataFrame], blocking: bool = False) -> int:
    """Unpersist ``frames`` and drop them from the registry; returns
    how many were freed.

    A local checkpoint's rows are a persisted RDD the cache manager
    never sees, so ``DataFrame.unpersist`` leaves them cached until the
    JVM cleaner collects the RDD; a frame whose plan is that RDD scan
    has the RDD itself unpersisted."""
    for f in frames:
        try:
            f.unpersist(blocking=blocking)
            plan = f._jdf.queryExecution().analyzed()
            if plan.getClass().getSimpleName() == "LogicalRDD":
                plan.rdd().unpersist(blocking)
        except Exception:  # context already gone — nothing to free
            pass
    gone = {id(f) for f in frames}
    _TRACKED[:] = [f for f in _TRACKED if id(f) not in gone]
    return len(frames)


def release_persisted() -> int:
    """Free every tracked frame and memory entry and empty
    :data:`ARTIFACT_EVENTS`; disk entries stay. Returns the number of
    frames freed. Safe to call at any time AFTER the consuming queries
    have materialized (collect/write/count).

    Blocking on purpose: callers (bench pass boundaries, cache-hygiene
    tests) reason about the block store immediately after the call,
    and the default async unpersist leaves blocks visible for an
    arbitrary beat afterwards."""
    _MEMORY.clear()
    ARTIFACT_EVENTS.clear()
    return free(list(_TRACKED), blocking=True)


def get_or_build(spark, key_parts: tuple, build, tier: str = "memory"):
    """Return the artifact cached under ``key_parts`` for this
    session, calling ``build()`` on the first request. A memory
    ``build`` should persist its frames via :func:`tracked_persist` so
    that eviction and release actually free the blocks."""
    try:
        parts = tuple(
            p.semanticHash() if isinstance(p, DataFrame) else p for p in key_parts
        )
        key = (spark.sparkContext.applicationId,) + parts
    except Exception:  # no live context or plan hash → build uncached
        return build()
    store = _MEMORY if tier == "memory" else _DISK
    if key in store:
        ARTIFACT_EVENTS.append(("hit", parts))
        return store[key][0]
    ARTIFACT_EVENTS.append(("build", parts))
    with tracking() as frames:
        val = build()
    if store is _MEMORY:
        while len(_MEMORY) >= MEMORY_MAX:
            free(_MEMORY.pop(next(iter(_MEMORY)))[1])
    store[key] = (val, frames)
    return val
