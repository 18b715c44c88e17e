"""The benchmark's workloads and the closed-loop harness that runs them.

One process, one client: each op starts only after the previous one
returned. A run is

1. input generation from the seed (not timed);
2. ``SETUPS`` set-ups, each a fresh SparkSession plus one small table
   count. The first one also starts the JVM; ``setup_s`` is the median
   of the others, normalised like the op times (see 3.);
3. whole cycles of the workload's op sequence until ``seconds`` have
   been measured. Output checks run after each op, outside its time.
   ``PROBES_PER_OP`` runs of a fixed Spark job (the host probe) precede
   each op, outside its time; ``norm_rows_per_s`` and ``setup_s`` scale
   the measured times by the probe's median, so that a run on a busier
   shared host does not read as a slower engine.

The measured ops run cold, in the JVM the run started, as a one-shot
``sressentials-spark`` invocation or batch job runs them: class
loading, code generation and Python worker start-up are part of what
is measured, and no warm-up precedes them.

With ``trace`` the measured cycles are traced (spans around the
engine's public functions, one Spark job group per span, Spark's event
log on); per-layer metrics come from them, per cycle. Then one
untraced and one traced cycle run back to back, now warm, and
``trace.overhead_frac`` compares their times.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

import gen
from tracing import RssSampler, Tracer, dir_bytes, engine_counters, progress_listener

SETUPS = 5
#: Nominal time of the host probe (:meth:`Harness.probe`): measured op
#: times are scaled by ``PROBE_NOMINAL_S / median probe time of the run``.
PROBE_NOMINAL_S = 0.2
PROBES_PER_OP = 2

#: ``--trace 0`` metrics: name -> unit.
END_TO_END = {
    "setup_s": "s",
    "norm_rows_per_s": "rows/s",
    "write_amp": "ratio",
    "result_recall": "ratio",
}

#: ``--trace 1`` metrics: name -> unit. Times and counts are per
#: measured cycle unless the name says otherwise; a layer the workload
#: does not run reads 0.
PER_LAYER = {
    "session.get_spark.s": "s",
    "sources.read_mysql_log.s": "s",
    "sources.rows": "rows",
    "plans.mysql.extract.s": "s",
    "plans.mysql.detailed.s": "s",
    "plans.mysql.aggregate.s": "s",
    "plans.mysql.warnings.s": "s",
    "cli.mysql.s": "s",
    "report.save_report.s": "s",
    "report.collect_rows": "rows",
    "report.bytes_written": "bytes",
    "dedup.exact.s": "s",
    "dedup.simhash_pairs.s": "s",
    "dedup.pairs_out": "rows",
    "index.ivf.s": "s",
    "index.bytes_written": "bytes",
    "similarity.ivf.plan_ms": "ms",
    "similarity.ivf.exec_ms": "ms",
    "artifacts.builds": "count",
    "artifacts.hits": "count",
    "artifacts.hit_ratio": "ratio",
    "artifacts.undeclared_hits": "count",
    "scratch.peak_mb": "MB",
    "memory.peak_rss_mb": "MB",
    "streaming.sessionize.s": "s",
    "streaming.batches": "count",
    "streaming.queryPlanning_ms": "ms",
    "streaming.addBatch_ms": "ms",
    "streaming.walCommit_ms": "ms",
    "streaming.commitOffsets_ms": "ms",
    "streaming.state_rows": "rows",
    "streaming.watermark_dropped": "rows",
    "engine.jobs": "count",
    "engine.tasks": "count",
    "engine.sql_exec_s": "s",
    "engine.driver_gap_s": "s",
    "engine.executor_run_s": "s",
    "engine.executor_cpu_s": "s",
    "engine.shuffle_write_mb": "MB",
    "engine.gc_s": "s",
    "trace.overhead_frac": "ratio",
    "trace.self_time_coverage": "ratio",
    "host.probe_s": "s",
}


@dataclass
class Op:
    layer: str  # the op's span name and per-layer metric (without ".s")
    seconds: float = 0.0
    rows: int = 0
    in_bytes: int = 0
    out_bytes: int = 0
    out_rows: int = 0
    ok: bool = True
    matched: int = 0
    expected: int = 0
    latencies_ms: list[float] = field(default_factory=list)
    batches: list[dict] = field(default_factory=list)


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def compare(out, expected) -> tuple[bool, int, int]:
    """Order-insensitive exact compare of a result frame against its
    oracle (the catalog gate's rule, imported from ``scripts/driver_sim.py``);
    returns ``(equal, rows matched, rows expected)``."""
    from driver_sim import canon, strict_values_equal

    if sorted(out.columns) != sorted(expected.columns):
        return False, 0, len(expected)
    if len(out) == len(expected) and strict_values_equal(out, expected) is None:
        return True, len(expected), len(expected)
    a = canon(out).astype(str).agg("\x00".join, axis=1)
    b = canon(expected).astype(str).agg("\x00".join, axis=1)
    return False, sum((Counter(a) & Counter(b)).values()), len(expected)


class Harness:
    """Owns the SparkSession(s), scratch, artifact accounting and the
    trace of one run."""

    def __init__(self, work: str, trace: bool):
        self.work, self.trace = work, trace
        self.scratch = os.environ["SPARK_GRAFT_SCRATCH_DIR"]
        self.event_log = os.path.join(work, "eventlog")
        self.spark = None
        self.listener = None
        self.tracer = Tracer()
        self.n_ops = 0
        self.declared: set | None = None
        self.artifacts = Counter()
        self.scratch_peak = 0
        self.probes: list[float] = []
        self.probing = False

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def new_session(self):
        from sressentials_spark.session import get_spark

        conf = {"spark.sql.warehouse.dir": os.path.join(self.work, "warehouse")}
        if self.trace:
            os.makedirs(self.event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.listener = progress_listener()
        self.spark.streams.addListener(self.listener)
        return self.spark

    def close(self) -> None:
        """Stop the session and the JVM it runs in, and wait for it."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.stop_session()
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                with contextlib.suppress(OSError):
                    proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def start_cycle(self, declares_reuse: bool) -> None:
        """Pass boundary: artifacts built from here on may be reused
        within the cycle if the workload declares reuse; nothing built
        earlier may."""
        self.declared = set() if declares_reuse else None

    def run_op(self, op: Op, fn, *args):
        """Time ``fn(*args)`` as one op (a root span when tracing),
        record the bytes it left in scratch and the artifact builds and
        hits it caused; returns ``fn``'s value. Once ``probing`` is set,
        ``PROBES_PER_OP`` host probes run first, outside the op's time."""
        from sressentials_spark.operators.dedup import ARTIFACT_EVENTS

        for _ in range(PROBES_PER_OP if self.probing else 0):
            self.probe()
        self.n_ops += 1
        self.tracer.op_id = self.listener.op = self.n_ops
        before = dir_bytes(self.scratch)
        offset = len(ARTIFACT_EVENTS)
        t0 = time.perf_counter()
        with self.tracer.span(op.layer):
            value = fn(*args)
        op.seconds = time.perf_counter() - t0
        after = dir_bytes(self.scratch)
        self.scratch_peak = max(self.scratch_peak, after)
        op.out_bytes += max(after - before, 0)
        for ev, key in ARTIFACT_EVENTS[offset:]:
            if ev == "build":
                self.artifacts["builds"] += 1
                if self.declared is not None:
                    self.declared.add(key)
            else:
                self.artifacts["hits"] += 1
                self.artifacts["undeclared_hits"] += not (self.declared and key in self.declared)
        _log(f"op {self.n_ops} {op.layer} {op.seconds:.2f}s")
        return value

    def op_batches(self) -> list[dict]:
        time.sleep(0.2)  # progress events reach the listener asynchronously
        return self.listener.for_op(self.n_ops)

    def clear_scratch(self) -> None:
        for name in os.listdir(self.scratch):
            shutil.rmtree(os.path.join(self.scratch, name), ignore_errors=True)

    def probe(self) -> None:
        """Time one run of a fixed Spark job that calls none of the
        engine's code (a hash sum over a generated range, a global
        aggregate) and keep the time in ``probes``. Its median over a run
        tracks how fast the shared host runs Spark jobs during that run."""
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        self.spark.range(0, 2_000_000, numPartitions=4).select(
            F.sum(F.hash("id") % 1000)).collect()
        self.probes.append(time.perf_counter() - t0)

    def setup_op(self, tables_dir: str, table: str) -> None:
        """The set-up's small op: a count of one input table."""
        from sressentials_spark.sources.tables import load_table

        self.run_op(Op("setup.count"),
                    lambda: load_table(self.spark, tables_dir, table).count())


def _duck(tables_dir: str, names: list[str]):
    import duckdb

    con = duckdb.connect()
    for t in names:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(tables_dir, t)}.parquet')"
        )
    return con


# --------------------------------------------------------------------------
# log_stream: the reference's MySQL report job plus a streaming replay
# --------------------------------------------------------------------------

class LogStream:
    """The MySQL report through the CLI code path, then the sessionize
    replay over arrival files of the same seeded events, one file per
    micro-batch. Declares no artifact reuse."""

    name = "log_stream"
    sizes = gen.Sizes(events=1_500, users=60, arrival_files=3)
    SETUP_TABLE = "customer"
    MYSQL = {"detailed": "mysql_detailed", "aggregate": "mysql_aggregate"}
    REPLAY = "streaming_sessionize_events"

    def __init__(self, h: Harness, seed: int, sizes: gen.Sizes | None = None):
        self.h, self.seed = h, seed
        self.sizes = sizes or self.sizes

    def generate(self) -> dict:
        from sressentials_spark import loggen

        self.ds = gen.generate(os.path.join(self.h.work, "data"), self.seed, self.sizes)
        self.ds.mysql = loggen.ensure_mysql_log(self.ds.tables_dir)
        return {
            "events": self.ds.rows["events"],
            "mysql_log_bytes": os.path.getsize(self.ds.mysql),
            "arrival_files": self.sizes.arrival_files,
        }

    def references(self) -> None:
        from sressentials_spark.catalog import ORACLE_SQL

        con = _duck(self.ds.tables_dir, ["events", "customer", "nation"])
        names = [*self.MYSQL.values(), self.REPLAY]
        self.ref = {n: con.execute(ORACLE_SQL[n]).fetchdf() for n in names}
        con.close()

    def report(self) -> Op:
        """``sressentials-spark mysql -i <log> -o <xlsx> --parquet-mirror``:
        the CSV fallback (no Excel engine installed) plus the parquet
        mirror, which the check reads back."""
        import pyarrow.parquet as pq
        from sressentials_spark import cli

        ds = self.ds
        os.makedirs(os.path.join(self.h.work, "out"), exist_ok=True)
        out = tempfile.mkdtemp(dir=os.path.join(self.h.work, "out"))
        op = Op("cli.mysql", rows=ds.rows["events"], in_bytes=os.path.getsize(ds.mysql))
        argv = ["mysql", "-i", ds.mysql, "-o", os.path.join(out, "report.xlsx"),
                "--parquet-mirror", os.path.join(out, "mirror")]
        op.ok = self.h.run_op(op, cli.main, argv) == 0
        op.out_bytes += dir_bytes(out)
        for key, query in self.MYSQL.items():
            sheet = pq.read_table(os.path.join(out, "mirror", key)).to_pandas()
            ok, m, n = compare(sheet, self.ref[query])
            op.ok, op.matched, op.expected = op.ok and ok, op.matched + m, op.expected + n
            op.out_rows += len(sheet)
        shutil.rmtree(out, ignore_errors=True)
        return op

    def replay(self) -> Op:
        """The availableNow sessionize replay, one arrival file per
        micro-batch; fails if the watermark dropped any row."""
        from sressentials_spark.streaming.sessionize import run_sessionize_batch

        ds = self.ds
        op = Op("streaming.sessionize", rows=ds.rows["events"],
                in_bytes=dir_bytes(ds.arrivals_dir))
        out = self.h.run_op(op, lambda: run_sessionize_batch(
            self.h.spark, ds.arrivals_dir, glob="part-*.parquet",
            max_files_per_trigger=1).toPandas())
        op.batches = self.h.op_batches()
        op.latencies_ms = [b["durationMs"].get("triggerExecution", 0) for b in op.batches
                           if b["input_rows"]]
        op.out_rows = len(out)
        ok, op.matched, op.expected = compare(out, self.ref[self.REPLAY])
        op.ok = ok and bool(op.batches) and sum(b["dropped"] for b in op.batches) == 0
        return op

    def cycle(self) -> list[Op]:
        self.h.start_cycle(declares_reuse=False)
        ops = [self.report(), self.replay()]
        self.h.clear_scratch()
        return ops

    def instrument(self, t: Tracer) -> None:
        from sressentials_spark import cli
        from sressentials_spark.plans import mysql

        t.instrument(cli, "get_spark", "session.get_spark")
        t.instrument(cli, "save_report", "report.save_report")
        t.instrument(mysql, "read_mysql_log", "sources.read_mysql_log")
        for fn, layer in (("extract_entries", "extract"), ("detailed_from_extracted", "detailed"),
                          ("aggregate_results", "aggregate"),
                          ("warnings_from_extracted", "warnings")):
            t.instrument(mysql, fn, f"plans.mysql.{layer}")


# --------------------------------------------------------------------------
# corpus_serve: the offline corpus build, then ANN requests on its indexes
# --------------------------------------------------------------------------

class CorpusServe:
    """Exact and SimHash dedup over seeded corpus copies, the IVF index
    build, then closed-loop ANN requests against the index this cycle
    built. Declares reuse of artifacts built in the same cycle."""

    name = "corpus_serve"
    sizes = gen.Sizes(base_docs=300, base_vecs=300, copies=2)
    SETUP_TABLE = "documents"
    QUERIES = {"dedup_exact_documents": "dedup.exact",
               "dedup_simhash_pairs": "dedup.simhash_pairs"}
    REQUESTS = 4
    BATCH = 8

    def __init__(self, h: Harness, seed: int, sizes: gen.Sizes | None = None):
        self.h, self.seed = h, seed
        self.sizes = sizes or self.sizes
        self.n_alias = itertools.count()
        self.n_request = 0

    def generate(self) -> dict:
        self.ds = gen.generate(os.path.join(self.h.work, "data"), self.seed, self.sizes)
        n = self.ds.rows["embeddings"]
        self.requests = gen.request_stream(self.seed, n, self.BATCH, 1024)
        return {"documents": self.ds.rows["documents"], "embeddings": n,
                "corpus_bytes": sum(self.ds.bytes.values()),
                "requests_per_cycle": self.REQUESTS, "queries_per_request": self.BATCH}

    def references(self) -> None:
        from sressentials_spark.catalog import ORACLE_SQL

        con = _duck(self.ds.tables_dir, ["documents", "embeddings"])
        self.ref = {n: con.execute(ORACLE_SQL[n]).fetchdf() for n in self.QUERIES}
        con.close()

    def _alias(self, ds: gen.DataSet) -> str:
        """A fresh path to the same tables: the engine keys its session
        artifacts and index builds by table directory, so each cycle
        builds everything anew instead of reusing the previous one's."""
        path = os.path.join(self.h.work, "alias", f"pass{next(self.n_alias)}")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        os.symlink(ds.tables_dir, path)
        return path

    def query(self, name: str, sf: str) -> Op:
        from sressentials_spark.catalog import QUERIES

        op = Op(self.QUERIES[name], rows=self.ds.rows["documents"],
                in_bytes=self.ds.bytes["documents"])
        out = self.h.run_op(op, lambda: QUERIES[name](self.h.spark, sf).toPandas())
        op.out_rows = len(out)
        op.ok, op.matched, op.expected = compare(out, self.ref[name])
        return op

    def build(self, sf: str) -> tuple[Op, str]:
        """``ivf_index_build``; returns the op and the index path."""
        from sressentials_spark.catalog import INDEX_BUILDERS

        op = Op("index.ivf", rows=self.ds.rows["embeddings"],
                in_bytes=self.ds.bytes["embeddings"])
        path = self.h.run_op(op, INDEX_BUILDERS["ivf_index_build"], self.h.spark, sf)
        op.ok = os.path.isdir(path) and dir_bytes(path) > 0
        return op, path

    def request(self, index: str) -> Op:
        """One request: top-10 neighbours of ``ids``, collected. The
        call returning the lazy frame and the collect are separate
        spans (``similarity.ivf.plan`` / ``.exec``)."""
        from sressentials_spark.operators import similarity as S

        spark, tracer = self.h.spark, self.h.tracer
        ids = self.request_ids()
        op = Op("similarity.ivf", rows=len(ids))

        def serve():
            with tracer.span("similarity.ivf.plan"):
                df = S.cosine_topk_ivf_from_index(spark, index, ids, k=10)
            with tracer.span("similarity.ivf.exec"):
                return df.collect()

        rows = self.h.run_op(op, serve)
        op.latencies_ms = [op.seconds * 1e3]
        op.out_rows = len(rows)
        self.check_request(op, rows, ids, self.ds.vectors)
        return op

    @staticmethod
    def check_request(op: Op, rows, ids: list[int], vectors: np.ndarray) -> None:
        """Each query gets 10 distinct neighbours other than itself,
        scored with the exact cosine. Recall@10 is counted against the
        exact cosine top-10 (numpy)."""
        got: dict[int, list] = {}
        for r in rows:
            got.setdefault(r["query_id"], []).append(r)
        sims = vectors[ids] @ vectors.T
        ok = set(got) == set(ids)
        for i, q in enumerate(ids):
            res = sorted(got.get(q, []), key=lambda r: r["rank"])
            nbrs = [r["neighbor_id"] for r in res]
            ok &= len(nbrs) == 10 and len(set(nbrs)) == 10 and q not in nbrs
            if nbrs:
                exact = sims[i, nbrs].astype(np.float64)
                ok &= bool(np.allclose([r["cosine"] for r in res], exact, atol=1e-4))
            s = sims[i].copy()
            s[q] = -np.inf
            truth = set(np.argsort(-s, kind="stable")[:10].tolist())
            op.matched += len(truth & set(nbrs))
            op.expected += 10
        op.ok = bool(ok)

    def cycle(self) -> list[Op]:
        """The dedup queries, the index build, then ``REQUESTS`` requests
        against that index."""
        from sressentials_spark.catalog import clear_sheets_cache
        from sressentials_spark.operators.dedup import release_persisted

        sf = self._alias(self.ds)
        self.h.start_cycle(declares_reuse=True)
        ops = [self.query(name, sf) for name in self.QUERIES]
        build, index = self.build(sf)
        ops += [build, *[self.request(index) for _ in range(self.REQUESTS)]]
        release_persisted()
        clear_sheets_cache()
        self.h.clear_scratch()
        return ops

    def request_ids(self) -> list[int]:
        """The next batch of the seeded request stream."""
        batch = self.requests[self.n_request % len(self.requests)]
        self.n_request += 1
        return batch

    def instrument(self, t: Tracer) -> None:
        """Spans of the corpus layers are the ops themselves (see
        ``QUERIES`` and :meth:`build`) and the request plan/exec split."""


WORKLOADS = {w.name: w for w in (LogStream, CorpusServe)}


# --------------------------------------------------------------------------
# One run
# --------------------------------------------------------------------------

def run(workload: str, seed: int, seconds: float, trace: bool, work: str,
        sizes: gen.Sizes | None = None) -> dict:
    """Generate, set up, measure. Returns ``correct``, ``attempted``,
    ``failed`` and ``metrics`` (end-to-end), plus ``layers`` (per-layer,
    traced runs only), ``spans`` and descriptive extras."""
    h = Harness(work, trace)
    w = WORKLOADS[workload](h, seed, sizes)
    t0 = time.perf_counter()
    inputs = w.generate()
    _log(f"inputs {time.perf_counter() - t0:.1f}s")
    # Oracle results are computed (DuckDB) while the JVM starts.
    refs = ThreadPoolExecutor(max_workers=1)
    refs_done = refs.submit(w.references)
    setups: list[float] = []
    try:
        with RssSampler() as rss:
            for _ in range(SETUPS):
                h.stop_session()  # tearing the last one down is not set-up
                t0 = time.perf_counter()
                h.new_session()
                h.setup_op(w.ds.tables_dir, w.SETUP_TABLE)
                setups.append(time.perf_counter() - t0)
            _log(f"set-ups {', '.join(f'{s:.1f}s' for s in setups)}")
            refs_done.result()
            refs.shutdown()
            rss.peak_kb = 0
            h.artifacts.clear()
            h.probe()  # the first, cold probes are not kept
            h.probe()
            h.probes.clear()
            h.probing = True
            if trace:
                w.instrument(h.tracer)
                h.tracer.enable(h.spark)
            try:
                cycles = measure(w, seconds)
            finally:
                h.tracer.disable()
            h.probe()
            probes = list(h.probes)
            artifacts = dict(h.artifacts)
            peak_rss_mb = rss.peak_kb / 1024
            if trace:
                overhead = trace_overhead(h, w)
    finally:
        t0 = time.perf_counter()
        h.close()
        _log(f"close {time.perf_counter() - t0:.1f}s")
    out = summarize(w, [o for c in cycles for o in c], len(cycles), setups, probes)
    out.update(inputs=inputs, artifacts_per_cycle={k: v / len(cycles) for k, v in artifacts.items()})
    out["peak_rss_mb"] = peak_rss_mb
    if trace:
        out["layers"] = layers(h, cycles, artifacts, overhead)
        out["layers"]["memory.peak_rss_mb"] = peak_rss_mb
        out["layers"]["host.probe_s"] = statistics.median(probes)
        out["spans"] = h.tracer.records()
    return out


def measure(w, seconds: float) -> list[list[Op]]:
    """Whole cycles until ``seconds`` of wall time have passed."""
    cycles: list[list[Op]] = []
    t0 = time.perf_counter()
    while not cycles or time.perf_counter() - t0 < seconds:
        cycles.append(w.cycle())
    _log(f"measured {len(cycles)} cycles in {time.perf_counter() - t0:.1f}s")
    return cycles


def _cycle_s(cycle: list[Op]) -> float:
    return sum(o.seconds for o in cycle)


def trace_overhead(h: Harness, w) -> float:
    """Op time of one traced cycle over that of one untraced cycle, run
    back to back after the measured ones, minus 1. The traced cycle gets
    a tracer of its own, whose job groups the event-log counters skip."""
    plain = _cycle_s(w.cycle())
    measured, h.tracer = h.tracer, Tracer(group="overhead")
    w.instrument(h.tracer)
    h.tracer.enable(h.spark)
    try:
        traced = _cycle_s(w.cycle())
    finally:
        h.tracer.disable()
        h.tracer = measured
    return traced / plain - 1


def layers(h: Harness, traced: list[list[Op]], artifacts: dict,
           overhead: float) -> dict[str, float]:
    """Per-layer metrics of the traced cycles (per cycle)."""
    n = len(traced)
    ops = [o for c in traced for o in c]
    out = dict.fromkeys(PER_LAYER, 0.0)
    for name, s in h.tracer.by_name().items():
        if name.endswith((".plan", ".exec")):
            count = sum(o.layer == name.rsplit(".", 1)[0] for o in ops)
            out[f"{name}_ms"] = 1e3 * s / max(count, 1)
        else:
            out[f"{name}.s"] = s / n
    wall = sum(o.seconds for o in ops)
    out["trace.self_time_coverage"] = sum(h.tracer.self_times().values()) / wall
    out["trace.overhead_frac"] = overhead
    reports = [o for o in ops if o.layer.startswith("cli.")]
    out["sources.rows"] = sum(o.rows for o in reports) / n
    out["report.collect_rows"] = sum(o.out_rows for o in reports) / n
    out["report.bytes_written"] = sum(o.out_bytes for o in reports) / n
    out["dedup.pairs_out"] = sum(o.out_rows for o in ops if o.layer == "dedup.simhash_pairs") / n
    out["index.bytes_written"] = sum(o.out_bytes for o in ops if o.layer.startswith("index.")) / n
    for k in ("builds", "hits", "undeclared_hits"):
        out[f"artifacts.{k}"] = artifacts.get(k, 0) / n
    looked_up = artifacts.get("builds", 0) + artifacts.get("hits", 0)
    out["artifacts.hit_ratio"] = artifacts.get("hits", 0) / looked_up if looked_up else 0.0
    out["scratch.peak_mb"] = h.scratch_peak / 2**20
    batches = [b for o in ops for b in o.batches]
    out["streaming.batches"] = len(batches) / n
    for phase in ("queryPlanning", "addBatch", "walCommit", "commitOffsets"):
        vals = [b["durationMs"].get(phase, 0) for b in batches]
        out[f"streaming.{phase}_ms"] = statistics.median(vals) if vals else 0.0
    out["streaming.state_rows"] = max((b["state_rows"] for b in batches), default=0)
    out["streaming.watermark_dropped"] = sum(b["dropped"] for b in batches)
    totals = Counter(engine_counters(h.event_log))
    for k in ("jobs", "tasks", "sql_exec_s", "executor_run_s", "executor_cpu_s",
              "shuffle_write_mb", "gc_s"):
        out[f"engine.{k}"] = totals[k] / n
    out["engine.driver_gap_s"] = max(wall / n - out["engine.sql_exec_s"], 0.0)
    return {k: float(out[k]) for k in PER_LAYER}


def summarize(w, ops: list[Op], n_cycles: int, setups: list[float],
              probes: list[float]) -> dict:
    """End-to-end metrics of the measured cycles. Set-up and op times
    are normalised to the nominal host speed: multiplied by
    ``PROBE_NOMINAL_S / median(probes)``."""
    probe_s = statistics.median(probes)
    scale = PROBE_NOMINAL_S / probe_s
    busy = sum(o.seconds for o in ops)
    lat: dict[str, list[float]] = {}
    for o in ops:
        if o.latencies_ms:
            lat.setdefault(o.layer, []).extend(o.latencies_ms)
    failed = sum(not o.ok for o in ops)
    in_bytes = sum(o.in_bytes for o in ops)
    expected = sum(o.expected for o in ops)
    rows_per_s = sum(o.rows for o in ops) / busy
    # Geometric mean over request / micro-batch kinds of each kind's
    # median latency: every kind weighs the same however many samples it
    # has.
    latency_ms = statistics.geometric_mean([statistics.median(v) for v in lat.values()])
    values = {
        "setup_s": statistics.median(setups[1:]) * scale,
        "norm_rows_per_s": rows_per_s / scale,
        "write_amp": sum(o.out_bytes for o in ops) / in_bytes,
        "result_recall": sum(o.matched for o in ops) / expected,
    }
    _log(f"{w.name}: {len(ops)} ops in {n_cycles} cycles, {failed} failed, busy {busy:.1f}s, "
         f"probe {probe_s:.3f}s")
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()},
        "samples": {"cycles": n_cycles, "ops": len(ops),
                    "latency": {k: len(v) for k, v in lat.items()}, "setups": len(setups)},
        "setups_s": setups,
        "probes_s": probes,
        "raw": {"rows_per_s": rows_per_s, "latency_ms": latency_ms},
        "op_seconds": {k: [o.seconds for o in ops if o.layer == k]
                       for k in dict.fromkeys(o.layer for o in ops)},
    }
