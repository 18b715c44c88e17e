"""The replay harness every streaming module shares
(``sressentials_spark/streaming/__init__.py``): staged arrivals replay
one file per trigger in key-range order with the tails last, and the
stateful drains plan one wave of task slots, capped at
``DEFAULT_STATE_PARTITIONS``, whatever the session's shuffle setting,
restoring it afterwards."""

from __future__ import annotations

import glob
import os
from types import SimpleNamespace

import pytest
import sressentials_spark.streaming as H
from pyspark.sql import functions as F

_SCHEMA = "k long, src string"


def _stage(spark, tmp_path) -> str:
    """Three key-ranged part files plus one sentinel tail whose key
    (-1) sorts BELOW every part key, so only the stamped mtimes can
    make it arrive last."""
    keys = spark.range(300).select(F.col("id").alias("k"), F.lit("part").alias("src"))
    sentinel = spark.createDataFrame([(-1, "tail")], _SCHEMA)
    return H.stage_arrivals(
        keys, 3, "k", tails={"sentinel": sentinel}, out_dir=str(tmp_path / "stage")
    )


def test_staged_arrivals_replay_in_key_order_with_tail_last(spark, tmp_path):
    d = _stage(spark, tmp_path)
    files = sorted(glob.glob(f"{d}/arrivals/part-*.parquet")) + glob.glob(
        f"{d}/sentinel/part-*.parquet"
    )
    assert len(files) == 4
    mtimes = [os.path.getmtime(p) for p in files]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:])), mtimes

    batches: list[tuple[int, list[int], set[str]]] = []

    def collect(batch, batch_id):
        rows = batch.collect()
        batches.append((batch_id, sorted(r.k for r in rows), {r.src for r in rows}))

    H.drain_foreach_batch(H.stage_source(spark, d, _SCHEMA), collect)

    assert [b[0] for b in batches] == [0, 1, 2, 3]
    parts = [keys for _, keys, _ in batches[:3]]
    assert all(keys for keys in parts)
    for prev, cur in zip(parts, parts[1:]):
        assert min(cur) > max(prev)
    assert [k for keys in parts for k in keys] == list(range(300))
    assert batches[3][1:] == ([-1], {"tail"})


def test_stateful_drains_plan_default_state_partitions(spark, tmp_path, monkeypatch):
    d = _stage(spark, tmp_path)
    progress: list[dict] = []
    run = H._run

    def spy(writer, checkpoint):
        out = run(writer, checkpoint)
        progress.extend(out)
        return out

    monkeypatch.setattr(H, "_run", spy)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        counts = H.drain_to_memory(
            H.stage_source(spark, d, _SCHEMA).groupBy("src").count(),
            "harness_test_",
            str(tmp_path),
        )
        assert {r.src: r["count"] for r in counts.collect()} == {"part": 300, "tail": 1}
        n_memory = len(progress)
        out, replay_progress = H.replay_to_parquet(
            spark,
            H.stage_source(spark, d, _SCHEMA).dropDuplicates(["k"]),
            "harness_test",
        )
        assert out.count() == 301
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)

    assert progress[n_memory:] == replay_progress
    for drained in (progress[:n_memory], replay_progress):
        instances = [
            op["numStateStoreInstances"]
            for p in drained
            for op in p.get("stateOperators", [])
        ]
        assert len(instances) == 4, instances  # one stateful op, four batches
        assert set(instances) == {
            min(H.DEFAULT_STATE_PARTITIONS, spark.sparkContext.defaultParallelism)
        }


def _stub_session(slots: int) -> tuple[SimpleNamespace, dict[str, str]]:
    """Just what :func:`state_partitions` reads: a runtime conf (backed
    by the returned dict) and the context's task-slot count."""
    conf = {"spark.sql.shuffle.partitions": "200"}
    session = SimpleNamespace(
        conf=SimpleNamespace(get=conf.__getitem__, set=conf.__setitem__),
        sparkContext=SimpleNamespace(defaultParallelism=slots),
    )
    return session, conf


def test_state_partitions_fill_one_wave_capped_and_restore():
    key = "spark.sql.shuffle.partitions"
    few, conf = _stub_session(2)
    with H.state_partitions(few):
        assert conf[key] == "2"
    assert conf[key] == "200"

    many, conf = _stub_session(32)
    with pytest.raises(RuntimeError, match="body failed"):
        with H.state_partitions(many):
            assert conf[key] == "8"
            raise RuntimeError("body failed")
    assert conf[key] == "200"
