"""Manifest-based snapshots: commit modes, time travel, vacuum.

The registered query (maintenance_snapshot_time_travel) pins the
replace-commit + time-travel read against the DuckDB oracle; these
tests pin the rest of the table-format contract: append commits
compose file sets, old versions read bit-identically after later
commits, vacuum removes exactly the unreachable files (and the kept
version still reads), and a data-file write without a manifest
commit is invisible to readers.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sressentials_spark.operators import maintenance as MT

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, lo: int, hi: int):
    return spark.range(lo, hi).select(F.col("id"), (F.col("id") * 2).alias("v"))


def test_append_and_replace_commits(spark, table):
    v1 = MT.snapshot_write(spark, _df(spark, 0, 10), table, mode="replace")
    v2 = MT.snapshot_write(spark, _df(spark, 10, 15), table, mode="append")
    v3 = MT.snapshot_write(spark, _df(spark, 100, 103), table, mode="replace")
    assert (v1, v2, v3) == (1, 2, 3)
    assert MT.manifest_versions(table) == [1, 2, 3]
    assert MT.read_snapshot(spark, table, 1).count() == 10
    # Append sees parent + new rows.
    assert MT.read_snapshot(spark, table, 2).count() == 15
    # Replace sees only its own files.
    got = sorted(
        r["id"] for r in MT.read_snapshot(spark, table, 3).collect()
    )
    assert got == [100, 101, 102]
    # Time travel after later commits: v1 content is untouched.
    assert sorted(
        r["id"] for r in MT.read_snapshot(spark, table, 1).collect()
    ) == list(range(10))


def test_vacuum_removes_only_unreachable(spark, table):
    MT.snapshot_write(spark, _df(spark, 0, 10), table, mode="replace")
    MT.snapshot_write(spark, _df(spark, 10, 20), table, mode="replace")
    data_dir = os.path.join(table, "data")
    files_before = len(MT.file_manifest(data_dir))
    stats = MT.vacuum(table, keep_last=1)
    assert stats["versions_expired"] == 1 and stats["versions_kept"] == [2]
    assert stats["files_removed"] == files_before - stats["files_live"]
    assert len(MT.file_manifest(data_dir)) == stats["files_live"]
    # The kept version still reads exactly.
    assert MT.manifest_versions(table) == [2]
    assert sorted(
        r["id"] for r in MT.read_snapshot(spark, table, 2).collect()
    ) == list(range(10, 20))
    # The expired version is gone.
    with pytest.raises(FileNotFoundError):
        MT.read_snapshot(spark, table, 1)


def test_vacuum_keeps_multiple_versions(spark, table):
    MT.snapshot_write(spark, _df(spark, 0, 5), table, mode="replace")
    MT.snapshot_write(spark, _df(spark, 5, 9), table, mode="append")
    MT.snapshot_write(spark, _df(spark, 9, 12), table, mode="replace")
    stats = MT.vacuum(table, keep_last=2)
    assert stats["versions_expired"] == 1
    # v2 (append) keeps v1's files alive through its manifest even
    # though v1's manifest is expired.
    assert MT.read_snapshot(spark, table, 2).count() == 9
    assert MT.read_snapshot(spark, table, 3).count() == 3


def test_uncommitted_data_files_are_invisible_and_reclaimed(spark, table):
    MT.snapshot_write(spark, _df(spark, 0, 10), table, mode="replace")
    # A crashed writer: data files land, no manifest commit.
    _df(spark, 50, 60).write.mode("append").parquet(
        os.path.join(table, "data")
    )
    assert MT.read_snapshot(spark, table, 1).count() == 10
    # Default vacuum protects the unexplained files (grace window —
    # the writer might be live and mid-commit); waiving it reclaims.
    stats = MT.vacuum(table, keep_last=1)
    assert stats["files_removed"] == 0
    stats = MT.vacuum(table, keep_last=1, orphan_min_age_s=0)
    assert stats["files_removed"] > 0
    assert MT.read_snapshot(spark, table, 1).count() == 10


def test_bad_mode_rejected(spark, table):
    with pytest.raises(ValueError):
        MT.snapshot_write(spark, _df(spark, 0, 1), table, mode="overwrite")


def test_late_published_version_is_observed_not_clobbered(spark, table):
    # An interloper publishes v2 BEFORE the second writer lists
    # versions: no conflict — the writer observes the new head and
    # commits as v3 (normal optimistic-concurrency refresh).
    import json
    import os

    MT.snapshot_write(spark, _df(spark, 0, 5), table, mode="replace")
    with open(os.path.join(table, "manifest-v2.json"), "w") as fh:
        json.dump({"version": 2, "mode": "replace", "files": []}, fh)
    v = MT.snapshot_write(spark, _df(spark, 5, 8), table, mode="replace")
    assert v == 3
    assert MT.manifest_versions(table) == [1, 2, 3]


def test_concurrent_commit_loses_race(spark, table, monkeypatch):
    # The true race window: two writers both list head=v1 and race to
    # publish v2. Simulate the loser by pinning its version listing to
    # the stale head while the winner's v2 manifest already exists —
    # the atomic link publish must refuse to overwrite.
    import json
    import os

    import glob as globmod

    MT.snapshot_write(spark, _df(spark, 0, 5), table, mode="replace")
    with open(os.path.join(table, "manifest-v2.json"), "w") as fh:
        json.dump({"version": 2, "mode": "replace", "files": []}, fh)
    before = set(globmod.glob(os.path.join(table, "data", "commit-*")))
    monkeypatch.setattr(MT, "manifest_versions", lambda d: [1])
    with pytest.raises(FileExistsError):
        MT.snapshot_write(spark, _df(spark, 5, 8), table, mode="replace")
    monkeypatch.undo()
    # The winner's manifest is untouched; the loser left only orphan
    # data files — referenced by NO manifest, so the default vacuum
    # PROTECTS them (for all vacuum knows the loser is a live writer
    # mid-commit); with the grace window waived (known-dead loser)
    # they reclaim.
    with open(os.path.join(table, "manifest-v2.json")) as fh:
        assert json.load(fh)["files"] == []
    loser = set(globmod.glob(os.path.join(table, "data", "commit-*"))) - before
    assert len(loser) == 1
    MT.vacuum(table, keep_last=1)
    assert all(os.path.isdir(d) for d in loser)  # grace window held
    stats = MT.vacuum(table, keep_last=1, orphan_min_age_s=0)
    assert stats["files_removed"] > 0
    assert not any(os.path.isdir(d) for d in loser)
    assert MT.manifest_versions(table) == [2]


def test_atomic_publish_many_racers_one_intact_winner(tmp_path):
    """N threads race to publish the same manifest name with DISTINCT
    payloads: exactly one link wins, every loser gets FileExistsError,
    and the committed file is one writer's payload INTACT — never torn,
    never a mix (the writer-unique staging name is what guarantees
    this; a shared tmp name lets the winner link a loser's
    half-written bytes)."""
    import json
    import threading

    path = str(tmp_path / "manifest-v1.json")
    outcomes: list[tuple[int, str]] = []
    lock = threading.Lock()

    def racer(i: int) -> None:
        payload = {"version": 1, "writer": i, "files": [f"f{i}"] * 50}
        try:
            MT.atomic_publish_json(path, payload)
            res = "won"
        except FileExistsError:
            res = "lost"
        with lock:
            outcomes.append((i, res))

    threads = [threading.Thread(target=racer, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wins = [i for i, r in outcomes if r == "won"]
    assert len(wins) == 1 and len(outcomes) == 8
    with open(path) as fh:
        got = json.load(fh)
    assert got["writer"] == wins[0]
    assert got["files"] == [f"f{wins[0]}"] * 50
    # No staging litter left behind by winners or losers.
    assert not list(tmp_path.glob("*.tmp-*"))


def test_random_commit_model(spark, table):
    """Model-based check: a seeded random sequence of replace/append
    commits must read back exactly the model's per-version row sets,
    and vacuum(keep_last=k) must preserve every kept version."""
    import random

    rng = random.Random(1234)
    model: dict[int, set[int]] = {}
    visible: set[int] = set()
    nxt = 0
    for _ in range(6):
        lo, hi = nxt, nxt + rng.randint(1, 5)
        nxt = hi
        mode = rng.choice(["replace", "append"])
        v = MT.snapshot_write(spark, _df(spark, lo, hi), table, mode=mode)
        visible = (visible | set(range(lo, hi))) if mode == "append" else set(
            range(lo, hi)
        )
        model[v] = set(visible)
    for v, want in model.items():
        got = {r["id"] for r in MT.read_snapshot(spark, table, v).collect()}
        assert got == want, f"v{v}"
    keep = rng.randint(1, 3)
    MT.vacuum(table, keep_last=keep)
    kept = sorted(model)[-keep:]
    assert MT.manifest_versions(table) == kept
    for v in kept:
        got = {r["id"] for r in MT.read_snapshot(spark, table, v).collect()}
        assert got == model[v], f"post-vacuum v{v}"


def test_racing_writers_files_never_cross_attributed(spark, table):
    # r8 advice item: attribution must come from the commit's own
    # unique data/commit-<id>/ directory, not a before/after diff of
    # the shared data/ dir. Plant a "racing writer's" part file in the
    # shared dir mid-window: it must never appear in this commit's
    # manifest, and every attributed path must live in a commit dir.
    import json
    import os

    MT.snapshot_write(spark, _df(spark, 0, 5), table, mode="replace")
    # A foreign part file landing in the shared data/ root (the old
    # diff-based attribution would have absorbed it into v2).
    data_dir = os.path.join(table, "data")
    stray = os.path.join(data_dir, "part-99999-stranger.parquet")
    _df(spark, 900, 910).toPandas().to_parquet(stray)
    v2 = MT.snapshot_write(spark, _df(spark, 5, 8), table, mode="append")
    files = MT.snapshot_files(table, v2)
    assert all(f.startswith("commit-") for f in files)
    assert not any("stranger" in f for f in files)
    ids = sorted(r["id"] for r in MT.read_snapshot(spark, table, v2).collect())
    assert ids == list(range(8))
    # The stray is referenced by NO manifest, so the default vacuum
    # protects it (could be a live writer's staging); waiving the
    # grace window reclaims it and clears emptied commit dirs.
    MT.vacuum(table, keep_last=1)
    assert os.path.exists(stray)
    MT.vacuum(table, keep_last=1, orphan_min_age_s=0)
    assert not os.path.exists(stray)


def test_compaction_commits_as_snapshot_version(spark, table):
    # snapshot_compact: same rows under a new manifest version with
    # fewer files; pre-compaction versions keep reading their exact
    # old files until vacuum reclaims them.
    import os

    MT.snapshot_write(spark, _df(spark, 0, 40).repartition(10), table)
    MT.snapshot_write(
        spark, _df(spark, 40, 60).repartition(5), table, mode="append"
    )
    data_dir = os.path.join(table, "data")
    files_before = {f for f, _ in MT.file_manifest(data_dir)}
    assert len(files_before) >= 15

    v3 = MT.snapshot_compact(spark, table)
    assert v3 == 3
    # v3: identical rows, fewer files.
    assert sorted(
        r["id"] for r in MT.read_snapshot(spark, table, 3).collect()
    ) == list(range(60))
    import json

    v3_files = MT.snapshot_files(table, 3)
    assert len(v3_files) < 15
    # Read consistency across the commit: v1/v2 still serve their
    # exact pre-compaction contents from untouched files.
    assert {f for f, _ in MT.file_manifest(data_dir)} > files_before
    assert sorted(
        r["id"] for r in MT.read_snapshot(spark, table, 1).collect()
    ) == list(range(40))
    assert sorted(
        r["id"] for r in MT.read_snapshot(spark, table, 2).collect()
    ) == list(range(60))
    # Vacuum reclaims every pre-compaction file; the head still reads.
    stats = MT.vacuum(table, keep_last=1)
    assert stats["files_removed"] == len(files_before)
    assert MT.manifest_versions(table) == [3]
    assert sorted(
        r["id"] for r in MT.read_snapshot(spark, table, 3).collect()
    ) == list(range(60))
    with pytest.raises(FileNotFoundError):
        MT.read_snapshot(spark, table, 2)


def test_manifest_stats_prune_files_not_rows(spark, table):
    # Iceberg-style file stats: a range predicate prunes files at the
    # MANIFEST level (fewer input files) without changing the rows the
    # filtered read returns; files without stats are always read.
    MT.snapshot_write(
        spark,
        _df(spark, 0, 100).repartitionByRange(10, "id"),
        table,
        stats_cols=["id"],
    )
    full = MT.read_snapshot(spark, table, 1)
    pruned = MT.read_snapshot(spark, table, 1, prune=("id", 0, 19))
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    got = sorted(
        r["id"] for r in pruned.filter("id <= 19").collect()
    )
    assert got == list(range(20))
    # stats-less legacy entries are never pruned
    legacy = MT.read_snapshot(spark, table, 1, prune=("nope", 0, 1))
    assert len(legacy.inputFiles()) == len(full.inputFiles())
    # empty intersection: zero rows, schema intact
    nothing = MT.read_snapshot(spark, table, 1, prune=("id", 5000, 6000))
    assert nothing.count() == 0 and nothing.columns == full.columns


def test_merge_rewrites_only_intersecting_files(spark, table):
    # Copy-on-write MERGE: untouched files carry into the new version
    # byte-identically; only stats-intersecting files rewrite; inserts
    # beyond every range do not smear the rewrite set.
    import os

    MT.snapshot_write(
        spark,
        _df(spark, 0, 100).repartitionByRange(10, "id"),
        table,
        stats_cols=["id"],
    )
    pre = {
        os.path.join(table, "data", p): (
            os.path.getsize(os.path.join(table, "data", p)),
            os.path.getmtime(os.path.join(table, "data", p)),
        )
        for p in MT.snapshot_files(table, 1)
    }
    # restate ids 0..9 (one file's range) + insert 200..204 (beyond all)
    upd = spark.createDataFrame(
        [(i, -1) for i in range(10)] + [(i, -2) for i in range(200, 205)],
        "id long, v long",
    )
    stats = MT.snapshot_merge(spark, table, upd, key_col="id")
    assert stats["version"] == 2
    assert stats["files_rewritten"] <= 2
    assert stats["files_carried"] >= 8
    # carried files byte-identical on disk
    carried_paths = [
        os.path.join(table, "data", p)
        for p in MT.snapshot_files(table, 2)
        if os.path.join(table, "data", p) in pre
    ]
    assert len(carried_paths) == stats["files_carried"]
    for p in carried_paths:
        assert (os.path.getsize(p), os.path.getmtime(p)) == pre[p]
    # merged contents: restated band, untouched middle, inserted tail
    got = {r["id"]: r["v"] for r in MT.read_snapshot(spark, table, 2).collect()}
    assert all(got[i] == -1 for i in range(10))
    assert all(got[i] == 2 * i for i in range(10, 100))
    assert all(got[i] == -2 for i in range(200, 205))
    # snapshot isolation: v1 unchanged
    v1 = {r["id"]: r["v"] for r in MT.read_snapshot(spark, table, 1).collect()}
    assert v1 == {i: 2 * i for i in range(100)}


def test_random_lifecycle_model_with_merge_and_compact(spark, table):
    """Model-based check over the FULL snapshot verb set: a seeded
    random interleaving of replace/append/merge/compact commits must
    read back exactly the model's per-version (id -> v) maps, and
    vacuum must preserve every kept version byte-for-row."""
    import random

    rng = random.Random(88)
    model: dict[int, dict[int, int]] = {}
    state: dict[int, int] = {}
    nxt = 0

    def df_for(pairs):
        return spark.createDataFrame(
            [(i, v) for i, v in pairs], "id long, v long"
        )

    # v1 must exist before merge/compact are legal
    first = {i: 2 * i for i in range(0, 8)}
    MT.snapshot_write(
        spark, df_for(first.items()), table, stats_cols=["id"]
    )
    state = dict(first)
    model[1] = dict(state)
    nxt = 8
    for _ in range(6):
        verb = rng.choice(["replace", "append", "merge", "merge", "compact"])
        if verb == "compact":
            v = MT.snapshot_compact(spark, table, stats_cols=["id"])
        elif verb == "replace":
            lo, hi = nxt, nxt + rng.randint(1, 4)
            nxt = hi
            rows = {i: 2 * i for i in range(lo, hi)}
            v = MT.snapshot_write(
                spark, df_for(rows.items()), table, stats_cols=["id"]
            )
            state = dict(rows)
        elif verb == "append":
            lo, hi = nxt, nxt + rng.randint(1, 4)
            nxt = hi
            rows = {i: 2 * i for i in range(lo, hi)}
            v = MT.snapshot_write(
                spark,
                df_for(rows.items()),
                table,
                mode="append",
                stats_cols=["id"],
            )
            state.update(rows)
        else:  # merge: restate a random slice of live keys + one insert
            live = sorted(state)
            picks = rng.sample(live, k=min(len(live), rng.randint(1, 3)))
            ups = {i: -i for i in picks}
            ups[nxt] = -nxt
            nxt += 1
            stats = MT.snapshot_merge(
                spark, table, df_for(ups.items()), key_col="id"
            )
            v = stats["version"]
            state.update(ups)
        model[v] = dict(state)

    for v, want in model.items():
        got = {
            r["id"]: r["v"]
            for r in MT.read_snapshot(spark, table, v).collect()
        }
        assert got == want, f"v{v}"
    keep = rng.randint(1, 3)
    MT.vacuum(table, keep_last=keep)
    kept = sorted(model)[-keep:]
    assert MT.manifest_versions(table) == kept
    for v in kept:
        got = {
            r["id"]: r["v"]
            for r in MT.read_snapshot(spark, table, v).collect()
        }
        assert got == model[v], f"post-vacuum v{v}"


def test_stats_cols_timestamp_roundtrip_and_bad_type_fails_fast(spark, table):
    import datetime

    df = spark.createDataFrame(
        [(i, datetime.datetime(2024, 1, 1 + i)) for i in range(10)],
        "id long, ts timestamp",
    ).repartitionByRange(5, "ts")
    MT.snapshot_write(spark, df, table, stats_cols=["ts"])
    full = MT.read_snapshot(spark, table, 1)
    pruned = MT.read_snapshot(
        spark,
        table,
        1,
        prune=("ts", "2024-01-01T00:00:00", "2024-01-02T23:59:59"),
    )
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    got = sorted(r["id"] for r in pruned.filter("id <= 1").collect())
    assert got == [0, 1]
    # un-storable stat type fails BEFORE any data lands
    import glob
    import os

    import pytest as _pytest

    arr = spark.createDataFrame([(1, [1.0])], "id long, v array<double>")
    before = len(glob.glob(os.path.join(table, "data", "commit-*")))
    with _pytest.raises(ValueError, match="not manifest-storable"):
        MT.snapshot_write(spark, arr, table, mode="append", stats_cols=["v"])
    assert len(glob.glob(os.path.join(table, "data", "commit-*"))) == before


def test_snapshot_vacuum_rejects_keep_last_below_one(spark, table):
    """keep_last<1 would expire every manifest and leave an unreadable
    table — refused up front (the index tier runs the same vacuum,
    pinned by tests/test_ivf_versioned.py)."""
    MT.snapshot_write(spark, _df(spark, 0, 5), table, mode="replace")
    with pytest.raises(ValueError, match="keep_last"):
        MT.vacuum(table, keep_last=0)
    with pytest.raises(ValueError, match="keep_last"):
        MT.vacuum(table, keep_last=-2)
    assert MT.manifest_versions(table) == [1]
