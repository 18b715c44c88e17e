"""Tests of the benchmark itself: seeded inputs, the metric contract in
``BENCHMARK.json``, the empty-checkout failure, and a small smoke run of
each workload.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

SMALL = gen.Sizes(events=600, users=40, arrival_files=2, base_docs=60, base_vecs=80, copies=2)


def _tables(ds: gen.DataSet) -> dict:
    return {n: pq.read_table(os.path.join(ds.tables_dir, f"{n}.parquet"))
            for n in ds.rows}


def test_same_seed_same_inputs(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 5, SMALL)
    b = gen.generate(str(tmp_path / "b"), 5, SMALL)
    c = gen.generate(str(tmp_path / "c"), 6, SMALL)
    ta, tb, tc = _tables(a), _tables(b), _tables(c)
    assert set(ta) == {"events", "customer", "nation", "documents", "embeddings"}
    assert all(ta[n].equals(tb[n]) for n in ta)
    assert not ta["events"].equals(tc["events"])
    assert not ta["documents"].equals(tc["documents"])
    arr = sorted(os.listdir(a.arrivals_dir))
    assert arr == sorted(os.listdir(b.arrivals_dir)) and len(arr) == SMALL.arrival_files
    assert gen.request_stream(5, 100, 8, 3) == gen.request_stream(5, 100, 8, 3)
    assert gen.request_stream(5, 100, 8, 3) != gen.request_stream(6, 100, 8, 3)


def test_copies_share_one_key_span_and_are_not_near_duplicates(tmp_path):
    ds = gen.generate(str(tmp_path), 1, SMALL)
    docs = pq.read_table(os.path.join(ds.tables_dir, "documents.parquet")).to_pandas()
    vecs = pq.read_table(os.path.join(ds.tables_dir, "embeddings.parquet")).to_pandas()
    assert list(docs.doc_id) == list(range(SMALL.base_docs * SMALL.copies))
    assert list(vecs.vec_id) == list(range(SMALL.base_vecs * SMALL.copies))
    words0 = set(" ".join(docs.text[: SMALL.base_docs]).split())
    words1 = set(" ".join(docs.text[SMALL.base_docs:]).split())
    assert words0 & words1 <= set(gen.STOPWORDS)
    # planted duplicates repeat inside every copy
    assert docs.text[: SMALL.base_docs].duplicated().sum() > 0
    assert docs.text[SMALL.base_docs:].duplicated().sum() > 0
    # arrival files hold the events in event-time order
    events = pq.read_table(os.path.join(ds.tables_dir, "events.parquet"))
    parts = [pq.read_table(os.path.join(ds.arrivals_dir, p))
             for p in sorted(os.listdir(ds.arrivals_dir))]
    assert sum(p.num_rows for p in parts) == events.num_rows
    assert parts[0]["ts"][-1].as_py() <= parts[1]["ts"][0].as_py()


def test_benchmark_json_matches_the_metrics_the_runs_print():
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "log_stream", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0 and r.stdout.strip() == ""


SMOKE = """
import json, os, sys
sys.path.insert(0, {here!r})
import run
run._env({work!r})
import gen, workloads
tiny = gen.Sizes(events=1500, users=40, arrival_files=2, base_docs=120, base_vecs=200, copies=2)
r = workloads.run({workload!r}, 3, 0.0, {trace}, {work!r}, tiny)
print(json.dumps({{k: r[k] for k in ("correct", "failed", "metrics", "layers") if k in r}}))
"""


@pytest.mark.parametrize("workload", ["log_stream", "corpus_serve"])
def test_small_run(tmp_path, workload):
    code = SMOKE.format(here=HERE, work=str(tmp_path / "work"), workload=workload, trace=True)
    r = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                       timeout=600, cwd=ROOT)
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0
    import workloads

    assert set(out["metrics"]) == set(workloads.END_TO_END)
    assert all(m["value"] > 0 for m in out["metrics"].values())
    assert set(out["layers"]) == set(workloads.PER_LAYER)
    assert out["layers"]["trace.self_time_coverage"] == pytest.approx(1.0, abs=0.05)
    assert out["layers"]["engine.jobs"] > 0
