#!/usr/bin/env python
"""Benchmark harness: runs every catalog query at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and
prints ONE JSON line with per-query wall seconds.

Each query is forced end-to-end with a ``noop``-format write (full
computation, no sink cost, no driver collect). Log-corpus rendering is
done up front so the timings measure the engine, not the fixture
generator.
"""

from __future__ import annotations

import json
import os
import sys
import time

from sressentials_spark import get_spark, loggen
from sressentials_spark.artifacts import ARTIFACT_EVENTS, release_persisted
from sressentials_spark.catalog import INDEX_BUILDERS, QUERIES


def _artifact_label(key_parts: tuple) -> str:
    """Human-readable label for a shared-artifact cache key."""
    if key_parts and key_parts[0] == "qshare" and len(key_parts) > 1:
        return f"qshare:{key_parts[1]}"
    return str(key_parts[0]) if key_parts else "?"

#: Headline benchmark set: every shipped catalog query. The quadratic
#: all-pairs baselines no longer live in the registry at all — they are
#: oracle-checked tests (tests/test_dedup_baselines.py); their
#: scale-path replacements (MinHash-LSH, SimHash, banded embedding LSH,
#: bucketed top-k) are what is timed here.
EXCLUDE: set[str] = set()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("sressentials-bench")

    # Render log fixtures outside the timed region.
    loggen.ensure_mongo_log(sf_dir)
    loggen.ensure_mysql_log(sf_dir)
    loggen.ensure_documents_jsonl(sf_dir)
    loggen.ensure_documents_csv(sf_dir)

    # JIT warmup: run every query once at the smallest scale factor.
    # Identical plan shape → identical generated code (janino cache hit),
    # so the timed sf0.1 pass runs C2-compiled instead of interpreted —
    # measured 10-50× swings on cold codegen otherwise. Warmup data is
    # ~1% of the timed scale; standard steady-state methodology (à la
    # JMH warmup iterations).
    bench_queries = {n: f for n, f in QUERIES.items() if n not in EXCLUDE}

    # Isolated-rerun support: SPARK_GRAFT_ONLY=q1,q2 restricts the suite
    # (warmup included) — the box's JIT variance makes single-query
    # timings meaningless inside a 30-query run.
    only = os.environ.get("SPARK_GRAFT_ONLY")
    if only:
        keep = {s.strip() for s in only.split(",") if s.strip()}
        bench_queries = {n: f for n, f in bench_queries.items() if n in keep}

    warm_dir = os.path.join(os.path.dirname(os.path.normpath(sf_dir)), "sf0.001")
    if os.path.isdir(warm_dir) and warm_dir != os.path.normpath(sf_dir):
        loggen.ensure_mongo_log(warm_dir)
        loggen.ensure_mysql_log(warm_dir)
        loggen.ensure_documents_jsonl(warm_dir)
        loggen.ensure_documents_csv(warm_dir)
        # Warmup: every query once, then a SECOND pass only for the
        # families with very large expression trees (log route structs,
        # unrolled/Arrow linalg, shingle pipelines) — one pass leaves
        # their Catalyst/janino driver paths half-tiered (measured ~3s
        # residual on the first timed run, gone by the second execution
        # of the same plan shape). Small-codegen plans (profilers,
        # windows, curation filters, streaming harnesses whose cost is
        # state-store setup, not codegen) don't benefit from a second
        # lap; skipping them keeps the bench's wall clock bounded as
        # the catalog grows.
        BIG_CODEGEN_PREFIXES = ("mongo_", "mysql_", "sim_", "dedup_", "emb_")
        for it in range(2):
            for name, fn in bench_queries.items():
                if it == 1 and not name.startswith(BIG_CODEGEN_PREFIXES):
                    continue
                try:
                    fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
                except Exception as exc:  # warmup must never fail the bench
                    print(f"[bench] warmup {name} failed: {exc}", file=sys.stderr)
        # Warmup persisted the warm-scale parsed logs and dedup
        # intermediates; release them so the timed pass starts with a
        # clean store.
        release_persisted()
        # Let the C2 compile queue drain so the timed pass runs compiled.
        time.sleep(20)

    # Persisted-index builds run ONCE, before the timed region, each
    # reported as its own line (``index_builds``). At scale these are
    # scheduled warehouse jobs amortized across every query batch; the
    # per-query timings below are therefore steady-state SERVE costs —
    # previously the first query to touch an index paid its build
    # inside the timed pass (min-of-3 hid it from the reported number
    # but the cost itself was invisible; r8 verdict asked for the
    # split).
    # Shared-artifact attribution (r12 VERDICT item 2): record which
    # query LAST BUILT each shared artifact and label every later
    # query that consumed one it didn't build — those per-query times
    # measure "reuse a frame another query materialized this pass",
    # i.e. amortization, not per-query speed. Memory artifacts are
    # rebuilt every pass, so each pass labels against its own builder;
    # disk artifacts are built once, by the index pre-pass. The map is
    # not reset at a release, which would drop those ``index:*``
    # builders. Additions-only: the timing methodology and the
    # one-line stdout contract are unchanged.
    builders_of: dict[tuple, str] = {}
    amortized: dict[str, set] = {}

    def _note_events(qname: str, offset: int) -> None:
        for ev, key in ARTIFACT_EVENTS[offset:]:
            if ev == "build":
                builders_of[key] = qname
            elif ev == "hit":
                src = builders_of.get(key)
                if src is not None and src != qname:
                    amortized.setdefault(qname, set()).add(
                        _artifact_label(key)
                    )

    # Focused-iteration escape hatch: SPARK_GRAFT_SKIP_BUILDS=1 skips
    # the index-build pre-pass, honored ONLY together with
    # SPARK_GRAFT_ONLY (an isolated rerun of queries that don't serve
    # from a persisted index — a query that does would just pay its
    # build inside its own time, visibly). The driver's full-suite
    # methodology is unaffected: without ONLY the flag is ignored.
    skip_builds = bool(os.environ.get("SPARK_GRAFT_SKIP_BUILDS")) and bool(only)

    index_builds: dict[str, float] = {}
    for name, builder in INDEX_BUILDERS.items():
        if skip_builds:
            break
        start = time.perf_counter()
        ev_off = len(ARTIFACT_EVENTS)
        try:
            builder(spark, sf_dir)
        except Exception as exc:  # pre-warm must never fail the bench
            print(f"[bench] index build {name} failed: {exc}", file=sys.stderr)
            continue
        _note_events(f"index:{name}", ev_off)
        index_builds[name] = round(time.perf_counter() - start, 3)
        print(
            f"[bench] {name}: {index_builds[name]:.1f}s",
            file=sys.stderr,
            flush=True,
        )

    # THREE independent timed passes, per-query MINIMUM reported. This
    # box shows 2-3× one-off spikes on individual queries (compile-queue
    # / code-cache hiccups) even after warmup, and the big-codegen
    # pipelines (mongo route struct) take 2-3 at-scale executions to
    # finish C2 tiering — measured 8.0→3.1→2.0→2.0s convergence for
    # mongo_slow_detailed; two passes still reported the 3.1s-shaped
    # tier, three reach steady state. Memory artifacts (the parsed logs
    # included) are released BETWEEN passes (never within), so each
    # pass keeps the suite's semantics: the first log query pays the
    # parse+persist, later sheets amortize.
    times: dict[str, float] = {}
    for _ in range(3):
        release_persisted()
        for name, fn in bench_queries.items():
            start = time.perf_counter()
            ev_off = len(ARTIFACT_EVENTS)
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            t = round(time.perf_counter() - start, 3)
            _note_events(name, ev_off)
            times[name] = min(times.get(name, t), t)
            print(f"[bench] {name}: {t:.1f}s", file=sys.stderr, flush=True)

    release_persisted()
    tag = os.path.basename(os.path.normpath(sf_dir))
    try:
        sf = float(tag.removeprefix("sf"))
    except ValueError:
        sf = tag
    total = round(sum(times.values()), 3)
    # Per-query amortization labels (queries only, builders excluded):
    # {query: [shared-frame labels it consumed but did not build]}.
    amortized_q = {
        n: sorted(v) for n, v in amortized.items() if n in times
    }
    payload = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": times,
        "index_builds": index_builds,
        "amortized": amortized_q,
        "sf": sf,
    }
    # The full per-query map goes to a FILE, never stdout: at 160
    # queries the single-line payload outgrew the driver's captured
    # stdout tail two rounds running (BENCH_r05/r06 "parsed": null).
    # The driver parses the LAST stdout line, so print a compact summary
    # (a handful of headline queries only) as the final line.
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "bench_full.json")
    rnd = os.environ.get("SPARK_GRAFT_ROUND")
    if rnd and not only:
        out = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           f"bench_r{rnd}.json")
    if not only:
        with open(out, "w") as fh:
            json.dump(payload, fh, indent=2, sort_keys=True)
        print(f"[bench] per-query map written to {out}", file=sys.stderr)
    headline = (
        "mongo_query_stats", "mysql_aggregate", "tpch_q1_pricing_summary",
        "dedup_minhash_lsh", "sim_cosine_topk_ivf", "emb_kmeans_clusters",
    )
    summary = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": {n: times[n] for n in headline if n in times},
        "n_queries": len(times),
        "index_build_seconds": round(sum(index_builds.values()), 3),
        "n_amortized": len(amortized_q),
        "sf": sf,
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
