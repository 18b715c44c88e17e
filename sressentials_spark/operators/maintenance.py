"""Table maintenance: small-file compaction, and the one commit
protocol of the manifest-versioned stores.

Both versioned tiers — the snapshot tables here and the ANN indexes in
operators/ivf_versioned.py — run the same Delta Lake commit protocol
(Armbrust et al., VLDB 2020), and this module owns it: immutable data
files under ``data/commit-<id>/``, one JSON ``manifest-v{n}.json`` per
version (:func:`manifest_versions`, :func:`read_manifest`), an
exclusive durable link publish (:func:`atomic_publish_json`), one
optimistic-concurrency publish-and-retry loop that carries the
parent's keys forward (:func:`publish_next`), and one vacuum with an
in-flight-writer grace window (:func:`vacuum`). The tiers differ only
in what a commit stages and what its manifest entries say.

The small-files problem is the quiet killer of 100 TB lakehouse
tables: a streaming sink or over-parallel batch write lands thousands
of KB-scale parquet files per partition, and every subsequent scan
pays per-file open/footer costs that dwarf the data read (plus
NameNode/object-store listing pressure). Compaction rewrites a
directory to size-targeted files WITHOUT a shuffle: the row data never
re-keys, so ``coalesce`` (a narrow dependency that concatenates input
partitions) is the whole physical plan — each output task streams N
input files into one output file. Contrast ``repartition``, which
would pay a full shuffle of the table to achieve the same file count.

Sizing comes from the filesystem manifest, not a guess: output file
count = ceil(total_bytes / target_bytes), so the rewrite hits the
target regardless of how skewed the input files are. (Object-store
deployments read the same numbers from the listing API; a lakehouse
table format — Delta/Iceberg — from its manifest.)

Clustering caveat — MEASURED, not assumed: plain ``coalesce`` does NOT
preserve a range-clustered layout. Its partition coalescer groups
input partitions by locality, not listing order, so ranges from
opposite ends of the sort interleave into the same output file and
footer-stats skipping dies (the first version of this module claimed
otherwise; tests/test_maintenance.py caught it). Compacting a
clustered layout therefore goes through
:func:`compact_clustered_files`, which bins CONTIGUOUS files (listing
order = cluster order for the range/Z-order layouts) and concatenates
each bin into one output file — per-file min/max stay disjoint, still
zero shuffles, at the price of one small read job per output file.
"""

from __future__ import annotations

import glob as globmod
import json
import os
import shutil
import time
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Production-shaped target (the parquet sweet spot on object storage).
DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def file_manifest(path: str) -> list[tuple[str, int]]:
    """(file, bytes) for every parquet part file under ``path``,
    recursively (snapshot tables nest commits in subdirectories;
    plain layouts stay flat — both are covered)."""
    return [
        (p, os.path.getsize(p))
        for p in sorted(
            globmod.glob(os.path.join(path, "**", "part-*.parquet"), recursive=True)
        )
    ]


def compact_small_files(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
) -> dict:
    """Rewrite ``src_dir``'s parquet files into ceil(total/target)
    size-targeted files at ``out_dir`` with a shuffle-free plan.
    Returns the before/after manifest stats (pinned by tests)."""
    manifest = file_manifest(src_dir)
    if not manifest:
        raise ValueError(f"no parquet part files under {src_dir}")
    total = sum(b for _, b in manifest)
    n_out = max(1, -(-total // target_bytes))
    (
        spark.read.parquet(src_dir)
        .coalesce(n_out)
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    out_manifest = file_manifest(out_dir)
    return {
        "files_before": len(manifest),
        "files_after": len(out_manifest),
        "bytes_before": total,
        "bytes_after": sum(b for _, b in out_manifest),
        "target_files": n_out,
    }


def compact_clustered_files(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
) -> dict:
    """Clustering-PRESERVING compaction: bin contiguous files from the
    sorted listing (= cluster order for the range/Z-order layouts in
    ``sources.columnar``) and concatenate each bin into one output
    file, so per-file min/max footer stats stay disjoint and data
    skipping survives the nightly compaction. Plain
    :func:`compact_small_files` cannot guarantee this — coalesce's
    partition coalescer groups by locality and interleaves ranges —
    so the choice between the two is the clustered-vs-unclustered
    layout question, made explicit instead of silently wrong. One
    narrow read job per output file, zero shuffles; row-group stats
    inside an output file may widen (rows of a bin can interleave),
    but file-level pruning — the granularity object-store listing
    cares about — is preserved (pinned by tests)."""
    manifest = file_manifest(src_dir)
    if not manifest:
        raise ValueError(f"no parquet part files under {src_dir}")
    total = sum(b for _, b in manifest)

    bins: list[list[str]] = []
    cur: list[str] = []
    cur_bytes = 0
    for f, b in manifest:
        if cur and cur_bytes + b > target_bytes:
            bins.append(cur)
            cur, cur_bytes = [], 0
        cur.append(f)
        cur_bytes += b
    if cur:
        bins.append(cur)

    os.makedirs(out_dir, exist_ok=True)
    for i, bin_files in enumerate(bins):
        tmp = os.path.join(out_dir, f"_bin{i}")
        (
            spark.read.parquet(*bin_files)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        part = globmod.glob(os.path.join(tmp, "part-*.parquet"))[0]
        os.replace(
            part, os.path.join(out_dir, f"part-{i:05d}-compacted.parquet")
        )
        shutil.rmtree(tmp, ignore_errors=True)

    out_manifest = file_manifest(out_dir)
    return {
        "files_before": len(manifest),
        "files_after": len(out_manifest),
        "bytes_before": total,
        "bytes_after": sum(b for _, b in out_manifest),
        "target_files": len(bins),
    }


@contextmanager
def _dynamic_partition_overwrite(spark: SparkSession):
    """Scope ``partitionOverwriteMode=dynamic``: ``mode("overwrite")``
    then replaces ONLY the partitions present in the written data —
    STATIC (the default) would truncate the whole table first, which on
    a 3-year fact table turns a one-day repair into a total rewrite."""
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def overwrite_day_partition(
    spark: SparkSession, layout_path: str, day_rows: DataFrame
) -> None:
    """Idempotently rebuild the day partition(s) covered by
    ``day_rows`` (which must carry the ``d`` partition column) in a
    day-partitioned parquet layout. Dynamic partition overwrite makes
    this the atomic unit of backfill/repair: re-running it converges
    to the same state, and untouched days' files are never listed,
    read, or rewritten (pinned by tests/test_maintenance.py via file
    mtimes). This is the everyday maintenance verb on a partitioned
    100 TB fact table — a corrupted or late-restated day is recomputed
    from source and swapped in, with readers of other days unaffected."""
    with _dynamic_partition_overwrite(spark):
        (
            day_rows.repartition("d")
            .write.mode("overwrite")
            .partitionBy("d")
            .parquet(layout_path)
        )


def corrupt_then_rebuild_day(
    spark: SparkSession, sf_dir: str, layout_path: str, day: str
) -> DataFrame:
    """Repair drill for the partition-overwrite query: deliberately
    clobber one day's partition (half the rows, values zeroed — a
    botched backfill), rebuild it from the source of truth, and return
    the repaired day re-read from the layout. The oracle then asserts
    the repaired partition equals the source exactly — proof the
    overwrite both fixed the target day and touched nothing else."""
    from sressentials_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    day_src = events.filter(F.to_date("ts") == F.lit(day)).withColumn(
        "d", F.to_date("ts")
    )
    bad = day_src.filter(F.col("event_id") % 2 == 0).withColumn(
        "value", F.lit(0.0)
    )
    overwrite_day_partition(spark, layout_path, bad)
    overwrite_day_partition(spark, layout_path, day_src)
    return (
        spark.read.parquet(layout_path)
        .filter(F.col("d") == F.lit(day))
        .select("event_id", "user_id", "ts", "event_type", "value")
    )


# --------------------------------------------------------------------------
# Manifest-versioned stores: the one commit protocol (the Delta/Iceberg
# pattern rebuilt on bare parquet + JSON manifests) shared by the
# snapshot tables below and the ANN indexes in operators/ivf_versioned.py
# --------------------------------------------------------------------------

#: Keys a child manifest never inherits from its parent: the version
#: number and the ``files`` listing are the child's own. Every other
#: key — ``mode``, the index quantizers, riders a transactional
#: upstream stamped in (the streaming ingest's ``stream_batch_id``) —
#: carries forward unless the child restates it: the streaming
#: exactly-once recipe reads its stamp from the VISIBLE manifests, so a
#: maintenance verb that dropped it would, after vacuum expires the
#: stamped version, let a redelivered micro-batch re-ingest its rows
#: (duplicates with no error).
_STRUCTURAL_KEYS = frozenset({"version", "files"})


def _manifest_path(store_dir: str, version: int) -> str:
    return os.path.join(store_dir, f"manifest-v{version}.json")


def manifest_versions(store_dir: str) -> list[int]:
    """Committed versions of a manifest-versioned store, ascending
    (empty for a fresh store)."""
    return sorted(
        int(os.path.basename(p)[len("manifest-v"):-len(".json")])
        for p in globmod.glob(os.path.join(store_dir, "manifest-v*.json"))
    )


def read_manifest(store_dir: str, version: int) -> dict:
    """One committed version's manifest exactly as published."""
    with open(_manifest_path(store_dir, version)) as fh:
        return json.load(fh)


def atomic_publish_json(path: str, payload: dict) -> None:
    """Exclusive, DURABLE json publish — the one commit idiom behind
    every version manifest:

    * the staging file name is WRITER-UNIQUE (uuid suffix): two racers
      must never share a staging inode, or the winner's ``os.link``
      can publish the loser's half-written bytes as a committed
      version;
    * the bytes are fsync'd before the link and the DIRECTORY after
      it: without both, a power loss can leave the committed name
      durable while its contents are not — "crash-atomic" must mean
      machine crashes, not just process kills;
    * ``os.link`` onto the final name is exclusive: exactly one racer
      wins, the loser raises ``FileExistsError`` and must retry
      against the new latest (the Delta/Iceberg commit-conflict
      rule)."""
    import uuid

    tmp = f"{path}.tmp-{uuid.uuid4().hex[:12]}"
    fd = os.open(tmp, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
    try:
        with os.fdopen(fd, "w") as fh:
            json.dump(payload, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.link(tmp, path)
        dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    finally:
        os.unlink(tmp)


def publish_manifest(store_dir: str, version: int, payload: dict) -> None:
    """Atomically link-publish ``payload`` as ``version`` of the store
    (refuses to overwrite: the optimistic-concurrency loser gets
    ``FileExistsError``, its staged data left orphaned for vacuum)."""
    atomic_publish_json(_manifest_path(store_dir, version), payload)


def publish_next(
    store_dir: str,
    plan: Callable[[dict | None], dict | None],
    *,
    retries: int,
    fault: Callable[[str], None] | None = None,
) -> int:
    """Commit one child of the store's latest version — the
    optimistic-concurrency loop every committing verb of both tiers
    runs. Each attempt:

    1. reads the latest manifest (``None`` for a fresh store);
    2. calls ``plan(parent)``, which stages the child's data files and
       returns its ``files`` listing plus every key it changes — or
       ``None`` when there is nothing to commit, in which case the
       parent's version (0 when fresh) is returned and nothing is
       published;
    3. carries every other parent key forward (see
       ``_STRUCTURAL_KEYS``);
    4. calls ``fault("prepared")``, link-publishes the child as
       ``parent + 1`` and calls ``fault("published")``.

    A lost publish race calls ``fault("retrying")`` and re-plans
    against the new latest; the plan decides what of its earlier
    staging is still valid (staging it abandons is vacuum fodder).
    After ``retries`` re-plans the ``FileExistsError`` is re-raised —
    ``retries=0`` is the single-writer contract: a conflict surfaces to
    the caller instead of being re-planned over a stale input.
    ``fault`` is the kill-injection seam: a hook that raises simulates
    a crash at that step. Returns the committed version."""
    fault = fault or (lambda step: None)
    attempt = 0
    while True:
        versions = manifest_versions(store_dir)
        head = versions[-1] if versions else 0
        parent = read_manifest(store_dir, head) if versions else None
        child = plan(parent)
        if child is None:
            return head
        payload = {
            "version": head + 1,
            **{
                k: v
                for k, v in (parent or {}).items()
                if k not in _STRUCTURAL_KEYS
            },
            **child,
        }
        fault("prepared")
        try:
            publish_manifest(store_dir, head + 1, payload)
        except FileExistsError:
            if attempt == retries:
                raise
            attempt += 1
            fault("retrying")
            continue
        fault("published")
        return head + 1


def _quiesced(path: str, min_age_s: float, now: float) -> bool:
    """True when nothing under ``path`` (itself, or any entry below a
    directory) was modified within ``min_age_s`` — the in-flight-writer
    guard vacuum needs before touching files no manifest explains."""
    try:
        if now - os.path.getmtime(path) < min_age_s:
            return False
    except FileNotFoundError:
        return True
    if os.path.isdir(path):
        for root, dirs, files in os.walk(path):
            for name in dirs + files:
                try:
                    if now - os.path.getmtime(os.path.join(root, name)) < min_age_s:
                        return False
                except FileNotFoundError:
                    continue
    return True


def vacuum(
    store_dir: str, *, keep_last: int = 1, orphan_min_age_s: float = 3600.0
) -> dict:
    """Reclaim data files unreachable from the ``keep_last`` newest
    manifests, drop the expired manifests and sweep stray staging
    files. Surviving versions still read exactly as committed. The
    100 TB retention job: deletes are manifest-driven unlinks, never a
    data scan. Works from the on-disk layout alone, so one vacuum
    serves both tiers: flat ``data/commit-<id>/part-*`` snapshot
    commits and ``cellp=``-partitioned index commits.

    Two reclamation classes (the Iceberg split): files referenced by
    an EXPIRED manifest were durably committed, so they delete freely;
    files referenced by NO manifest at all may belong to an IN-FLIGHT
    writer that has staged its commit but not yet published — those
    delete only once quiesced for ``orphan_min_age_s`` (default 1 h).
    Without the grace window, a vacuum racing a writer deletes the
    staged files and the writer's subsequent publish commits a
    manifest pointing at nothing. Pass ``orphan_min_age_s=0`` only
    when no writer can be live (tests; single-writer maintenance).

    ``keep_last`` must be >= 1 (a store with zero versions is
    unreadable, so "expire everything" is not a vacuum verb), and a
    store with no versions at all raises before deleting anything:
    with nothing committed, every file would look like an orphan.
    Returns ``{"files_removed", "files_live", "versions_expired",
    "versions_kept" (the kept version list)}``."""
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    versions = manifest_versions(store_dir)
    if not versions:
        raise ValueError(f"no versions under {store_dir}")
    keep = versions[-keep_last:]
    expired = versions[:-keep_last]
    live: set[str] = set()
    committed: set[str] = set()  # referenced by an expired manifest
    for v in versions:
        (live if v in keep else committed).update(
            os.path.normpath(e["path"])
            for e in read_manifest(store_dir, v)["files"]
        )
    data_dir = os.path.join(store_dir, "data")
    removed = 0
    now = time.time()
    # ``touched`` = dirs whose mtime THIS vacuum bumps by unlinking
    # dead files inside them. Commit dirs are writer-unique, so a dir
    # we emptied held only expired-committed or quiesced-orphan files —
    # its writer is provably done, and the dir counts as quiesced
    # regardless of its (our own) fresh mtime. Without this the sweeps
    # below race vacuum's own unlinks: a single entry-time ``now``
    # makes ``_quiesced(d, 0, now)`` see ``now - mtime < 0`` whenever
    # an unlink lands a clock tick later, and the explicitly-waived
    # grace window silently holds.
    touched: set[str] = set()
    for f in sorted(
        globmod.glob(os.path.join(data_dir, "**", "*.parquet"), recursive=True)
    ):
        rel = os.path.relpath(f, data_dir)
        if rel in live:
            continue
        if rel in committed or _quiesced(f, orphan_min_age_s, now):
            os.remove(f)
            removed += 1
            # A _temporary file can be one job's long-dead task attempt
            # while the JOB is still live — unlinking it says nothing
            # about the commit dir's writer, so only post-commit files
            # mark their ancestors self-emptied.
            if "_temporary" not in rel.split(os.sep):
                d = os.path.dirname(f)
                while d != data_dir and os.path.dirname(d) != d:
                    touched.add(d)
                    d = os.path.dirname(d)
    # A writer killed mid-Spark-write leaves its staging under
    # <output>/_temporary/... (the output being a commit dir, or
    # data/ itself for a bare write). A quiesced _temporary means no
    # task attempt has touched staging within the grace window: the
    # job is dead, so the subtree reclaims explicitly.
    for t in globmod.glob(os.path.join(data_dir, "_temporary")) + globmod.glob(
        os.path.join(data_dir, "commit-*", "_temporary")
    ):
        if os.path.isdir(t) and _quiesced(t, orphan_min_age_s, now):
            shutil.rmtree(t)
            touched.add(os.path.dirname(t))
    # Re-capture now so vacuum's own unlinks are in the past; with the
    # grace window waived the sweeps below are then deterministic.
    now = time.time()
    # Drop empty cell dirs and parquet-free commit dirs (loser-retry or
    # expired-version leftovers; only marker files may remain) so the
    # data dir stays list-cheap — but only our own leftovers
    # (``touched``) or quiesced ones: a live writer's job-commit has
    # momentarily-empty destination cellp= dirs before task files move
    # in, and sweeping one would fail that writer.
    for d in globmod.glob(os.path.join(data_dir, "commit-*", "*")):
        if (
            os.path.isdir(d)
            and not os.listdir(d)
            and (d in touched or _quiesced(d, orphan_min_age_s, now))
        ):
            os.rmdir(d)
            touched.add(os.path.dirname(d))
    for d in globmod.glob(os.path.join(data_dir, "commit-*")):
        if (
            os.path.isdir(d)
            and not globmod.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
            and (d in touched or _quiesced(d, orphan_min_age_s, now))
        ):
            shutil.rmtree(d)
    for v in expired:
        os.unlink(_manifest_path(store_dir, v))
    # Stray staging manifests (a writer killed inside publish): unique
    # per writer, so quiesced ones are dead.
    for t in globmod.glob(os.path.join(store_dir, "manifest-v*.json.tmp-*")):
        if _quiesced(t, orphan_min_age_s, now):
            os.unlink(t)
    return {
        "files_removed": removed,
        "files_live": len(live),
        "versions_expired": len(expired),
        "versions_kept": keep,
    }


# --------------------------------------------------------------------------
# Snapshot tables: time travel, manifest file statistics, copy-on-write
# merge and compaction on the shared commit protocol
# --------------------------------------------------------------------------


def _enc_stat(v):
    """Manifest-storable stat value: JSON-native types pass through;
    datetime/date encode as ISO-8601 strings (fixed-width, so string
    comparison preserves order — what pruning needs). Anything else
    fails FAST, before any data is written."""
    import datetime

    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    raise ValueError(
        f"stats_cols value of type {type(v).__name__} is not manifest-"
        "storable (use int/float/str/timestamp/date columns)"
    )


def _commit_data(
    spark: SparkSession,
    df: DataFrame,
    data_dir: str,
    stats_cols: list[str] | None,
) -> list[dict]:
    """Write ``df`` under a unique ``commit-<id>/`` dir and return the
    manifest entries (with per-file min/max stats when requested) —
    the commit half shared by snapshot_write and snapshot_merge."""
    import uuid

    if stats_cols:
        # Fail fast on un-storable stat column types BEFORE writing.
        from pyspark.sql import types as T

        ok = (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.StringType, T.BooleanType,
            T.TimestampType, T.DateType,
        )
        for c in stats_cols:
            dt = df.schema[c].dataType
            if not isinstance(dt, ok):
                raise ValueError(
                    f"stats_cols column {c!r} has type {dt.simpleString()} "
                    "— not manifest-storable (numeric/string/timestamp/"
                    "date only)"
                )
    commit_id = f"commit-{uuid.uuid4().hex[:16]}"
    commit_dir = os.path.join(data_dir, commit_id)
    # errorifexists: a uuid collision must fail loudly, never merge.
    df.write.mode("error").parquet(commit_dir)
    entries = [
        {"path": f"{commit_id}/{os.path.basename(f)}", "stats": {}}
        for f, _ in file_manifest(commit_dir)
    ]
    if stats_cols:
        rows = (
            spark.read.parquet(commit_dir)
            .groupBy(F.input_file_name().alias("_f"))
            .agg(
                *[
                    f
                    for c in stats_cols
                    for f in (
                        F.min(c).alias(f"_mn_{c}"),
                        F.max(c).alias(f"_mx_{c}"),
                    )
                ]
            )
            .collect()
        )
        by_base = {
            os.path.basename(r["_f"].split("?")[0]): r for r in rows
        }
        for e in entries:
            r = by_base.get(os.path.basename(e["path"]))
            if r is not None:
                e["stats"] = {
                    c: [_enc_stat(r[f"_mn_{c}"]), _enc_stat(r[f"_mx_{c}"])]
                    for c in stats_cols
                }
    return entries


def snapshot_write(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    *,
    mode: str = "replace",
    stats_cols: list[str] | None = None,
) -> int:
    """Commit ``df`` as the next snapshot version of ``table_dir``.

    The table-format contract in miniature: data files are immutable
    and append-only under ``data/`` (parquet writers never reuse part
    file names); what makes a version is the MANIFEST — a JSON list
    of the files visible at that version. ``mode="replace"`` makes
    the new files the whole table (a rewrite/overwrite commit);
    ``mode="append"`` makes the new version the parent's file set
    plus the new files. Readers of old versions are never disturbed:
    nothing is deleted or rewritten until :func:`vacuum`.

    ``stats_cols`` records per-file min/max for those columns in the
    manifest (one extra pass over the FRESH commit only — the
    Iceberg-style file statistics): :func:`read_snapshot` then prunes
    files from a predicate range at the MANIFEST level, before any
    parquet footer is opened — at 100 TB that is the difference
    between listing a thousand files and opening them.

    Commit ordering: data files land first, the manifest link-lands
    last — a crashed writer leaves orphan data files (reclaimed by
    vacuum), never a manifest pointing at missing data. Each commit
    writes its data under a UNIQUE ``data/commit-<id>/`` directory and
    attributes its files by listing that directory alone — never by
    diffing the shared ``data/`` dir — so a racing writer's part files
    can never be absorbed into this writer's manifest (nor duplicated
    on its retry). The final manifest is published with an atomic
    exclusive ``os.link`` onto the version name, so two writers racing
    to the same version resolve as optimistic concurrency: exactly one
    commit wins, the loser raises ``FileExistsError`` and must retry
    against the new latest (the Delta/Iceberg commit-conflict rule) —
    its already-written commit directory stays orphaned until vacuum.
    At 100 TB the manifest write is O(files), the data write is the
    job itself, and concurrent readers resolve versions by listing
    tiny JSON files — the same economics as Delta's _delta_log.
    """
    if mode not in ("replace", "append"):
        raise ValueError(f"mode must be replace|append, got {mode!r}")

    def plan(parent: dict | None) -> dict:
        entries = _commit_data(
            spark, df, os.path.join(table_dir, "data"), stats_cols
        )
        if mode == "append" and parent is not None:
            entries = parent["files"] + entries
        return {"mode": mode, "files": entries}

    return publish_next(table_dir, plan, retries=0)


def read_snapshot(
    spark: SparkSession,
    table_dir: str,
    version: int,
    *,
    prune: tuple | None = None,
) -> DataFrame:
    """Time-travel read: the table exactly as of ``version``.

    ``prune=(col, lo, hi)`` drops every file whose manifest min/max
    range for ``col`` cannot intersect ``[lo, hi]`` BEFORE the scan is
    planned — manifest-level data skipping (files without stats are
    always read; correctness never depends on pruning, only cost —
    pinned by tests). Returns an empty frame with the table's schema
    when every file prunes away."""
    manifest = read_manifest(table_dir, version)
    data_dir = os.path.join(table_dir, "data")
    entries = manifest["files"]
    if prune is not None:
        col, lo, hi = prune
        entries = [
            e
            for e in entries
            if not (
                (st := e["stats"].get(col)) is not None
                and st[0] is not None
                and st[1] is not None
                and (st[0] > hi or st[1] < lo)
            )
        ]
        if not entries:
            all_paths = [
                os.path.join(data_dir, e["path"]) for e in manifest["files"]
            ]
            empty = spark.read.parquet(*all_paths).limit(0)
            return empty
    paths = [os.path.join(data_dir, e["path"]) for e in entries]
    return spark.read.parquet(*paths)


def snapshot_files(table_dir: str, version: int) -> list[str]:
    """The data_dir-relative file paths visible at ``version``."""
    return [e["path"] for e in read_manifest(table_dir, version)["files"]]


def snapshot_compact(
    spark: SparkSession,
    table_dir: str,
    *,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    stats_cols: list[str] | None = None,
) -> int:
    """Compaction AS a snapshot commit — the composition real table
    maintenance runs: rewrite the HEAD version's file set into
    ceil(total/target) size-targeted files and land them as a new
    manifest version (same rows, fewer files). Nothing is deleted:
    time travel to any pre-compaction version still reads the old
    files byte-for-byte until :func:`vacuum` reclaims them,
    and a crashed compaction leaves only an orphaned commit directory
    (the manifest link lands last). The rewrite plan is shuffle-free
    (``coalesce``); at 100 TB this is the nightly job that keeps the
    file count bounded while readers keep their snapshot isolation.
    Returns the new version number."""
    versions = manifest_versions(table_dir)
    if not versions:
        raise ValueError(f"no snapshots under {table_dir}")
    head = versions[-1]
    files = snapshot_files(table_dir, head)
    if not files:
        raise ValueError(f"head version v{head} of {table_dir} is empty")
    data_dir = os.path.join(table_dir, "data")
    paths = [os.path.join(data_dir, f) for f in files]
    total = sum(os.path.getsize(p) for p in paths)
    n_out = max(1, -(-total // target_bytes))
    compacted = spark.read.parquet(*paths).coalesce(n_out)
    # stats_cols keeps the rewritten files stats-carrying, so a later
    # copy-on-write merge can still prune against the compacted files
    # instead of conservatively rewriting everything.
    return snapshot_write(
        spark, compacted, table_dir, mode="replace", stats_cols=stats_cols
    )


def snapshot_merge(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    *,
    key_col: str,
    stats_cols: list[str] | None = None,
) -> dict:
    """Copy-on-write MERGE (the Delta/Iceberg ``MERGE INTO`` shape)
    committed as a snapshot version: rows in ``updates`` replace
    head-version rows with the same ``key_col`` and new keys append —
    but only the files whose manifest ``key_col`` min/max range can
    intersect the update keys are rewritten. Untouched files carry
    over into the new manifest BY REFERENCE, byte-identical (pinned by
    tests): at 100 TB a point-update batch rewrites a handful of files
    out of a million, which is exactly what the per-file stats exist
    for. Readers keep snapshot isolation — the parent version still
    reads the pre-merge files until :func:`vacuum`.

    Requires the head commit to carry ``key_col`` stats (written with
    ``stats_cols``); files without stats are conservatively treated as
    affected (correctness never depends on pruning). Returns
    ``{"version", "files_rewritten", "files_carried"}``."""
    data_dir = os.path.join(table_dir, "data")
    counts: dict = {}

    def plan(parent: dict | None) -> dict:
        if parent is None:
            raise ValueError(f"no snapshots under {table_dir}")
        entries = parent["files"]
        if updates.limit(1).count() == 0:
            raise ValueError("empty updates batch")

        # Exact file attribution: broadcast the (tiny, manifest-sized)
        # file-range table against the update keys — one O(|updates|)
        # pass; a file is affected iff SOME update key falls inside its
        # recorded [min, max]. Inserted keys beyond every range touch
        # nothing (a min/max envelope of the batch would smear them over
        # the whole table). Stats-less files are conservatively rewritten.
        ranged = [
            (e["path"], e["stats"][key_col][0], e["stats"][key_col][1])
            for e in entries
            if e["stats"].get(key_col) is not None
            and e["stats"][key_col][0] is not None
            and e["stats"][key_col][1] is not None
        ]
        no_stats = {e["path"] for e in entries} - {p for p, _, _ in ranged}
        hit: set[str] = set(no_stats)
        if ranged:
            # schema inferred from the JSON-round-tripped stat values, so
            # string/float keys work as well as the common integer case
            files_df = spark.createDataFrame(ranged, ["path", "mn", "mx"])
            hits = (
                updates.select(F.col(key_col).alias("_k"))
                .join(
                    F.broadcast(files_df),
                    (F.col("_k") >= F.col("mn")) & (F.col("_k") <= F.col("mx")),
                )
                .select("path")
                .distinct()
                .collect()
            )
            hit.update(r["path"] for r in hits)

        touched = [e for e in entries if e["path"] in hit]
        carried = [e for e in entries if e["path"] not in hit]

        cols = (
            spark.read.parquet(os.path.join(data_dir, entries[0]["path"]))
            .limit(0)
            .columns
        )
        if touched:
            base = spark.read.parquet(
                *[os.path.join(data_dir, e["path"]) for e in touched]
            )
            survivors = base.join(
                updates.select(key_col), key_col, "left_anti"
            )
            merged = survivors.unionByName(updates.select(*cols))
        else:
            merged = updates.select(*cols)

        scols = stats_cols if stats_cols is not None else [key_col]
        new_entries = _commit_data(spark, merged, data_dir, scols)
        counts.update(files_rewritten=len(touched), files_carried=len(carried))
        return {"mode": "merge", "files": carried + new_entries}

    return {"version": publish_next(table_dir, plan, retries=0), **counts}
