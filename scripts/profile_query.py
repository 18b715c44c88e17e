#!/usr/bin/env python
"""Per-query job/stage time breakdown via the Spark UI REST API.

Usage::

    python scripts/profile_query.py q1[,q2,...] [sf_dir]

For each named catalog query: pre-builds every persisted index
(outside the profiled region, mirroring bench.py), runs one warmup
pass at the profiled scale, then one profiled pass through the noop
sink, and prints every Spark job that ran during the profiled pass
with its duration, stage breakdown (shuffle read/write bytes, task
count) and description. This is guide §1 "empirical" profiling adapted
to a headless box: the UI is enabled for the session and scraped over
REST instead of eyeballed.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _get(url: str):
    with urllib.request.urlopen(url) as r:
        return json.load(r)


def main() -> None:
    names = [s for s in sys.argv[1].split(",") if s]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    from sressentials_spark import get_spark, loggen
    from sressentials_spark.artifacts import release_persisted
    from sressentials_spark.catalog import INDEX_BUILDERS, QUERIES

    spark = get_spark(
        "profile-query", extra_conf={"spark.ui.enabled": "true"}
    )
    loggen.ensure_mongo_log(sf_dir)
    loggen.ensure_mysql_log(sf_dir)
    loggen.ensure_documents_jsonl(sf_dir)
    loggen.ensure_documents_csv(sf_dir)
    for bname, builder in INDEX_BUILDERS.items():
        t0 = time.perf_counter()
        try:
            builder(spark, sf_dir)
        except Exception as exc:
            print(f"[profile] builder {bname} failed: {exc}", file=sys.stderr)
        else:
            print(
                f"[profile] built {bname}: {time.perf_counter() - t0:.1f}s",
                file=sys.stderr,
            )

    ui = "http://localhost:4040/api/v1"
    app_id = _get(f"{ui}/applications")[0]["id"]

    for name in names:
        fn = QUERIES[name]
        # Warmup at the SAME scale so codegen/index lazy-builds are out
        # of the profiled window, then a clean timed pass.
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        release_persisted()

        before = {j["jobId"] for j in _get(f"{ui}/applications/{app_id}/jobs")}
        spark.sparkContext.setJobDescription(f"PROFILE:{name}")
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)

        jobs = [
            j
            for j in _get(f"{ui}/applications/{app_id}/jobs")
            if j["jobId"] not in before
        ]
        jobs.sort(key=lambda j: j["jobId"])
        print(f"\n===== {name}: wall {wall:.3f}s, {len(jobs)} jobs =====")
        total_job = 0.0
        for j in jobs:
            sub = time.strptime(
                j["submissionTime"][:19], "%Y-%m-%dT%H:%M:%S"
            )
            dur = (
                time.mktime(
                    time.strptime(j["completionTime"][:19], "%Y-%m-%dT%H:%M:%S")
                )
                - time.mktime(sub)
            )
            # sub-second durations: recompute from GMT millis suffix
            try:
                ms0 = int(j["submissionTime"][20:23])
                ms1 = int(j["completionTime"][20:23])
                dur += (ms1 - ms0) / 1000.0
            except ValueError:
                pass
            total_job += max(dur, 0)
            print(
                f"  job {j['jobId']:4d} {max(dur,0):7.3f}s tasks={j['numCompletedTasks']:4d} "
                f"stages={len(j['stageIds'])} desc={j.get('description','')[:90]}"
            )
            for sid in sorted(j["stageIds"]):
                try:
                    st = _get(
                        f"{ui}/applications/{app_id}/stages/{sid}?details=false"
                    )
                except Exception:
                    continue
                for attempt in st:
                    if attempt["status"] not in ("COMPLETE", "FAILED"):
                        continue
                    print(
                        f"    stage {sid:4d} tasks={attempt['numCompleteTasks']:4d} "
                        f"in={attempt['inputBytes']:>10d} sr={attempt['shuffleReadBytes']:>9d} "
                        f"sw={attempt['shuffleWriteBytes']:>9d} "
                        f"exec={attempt['executorRunTime']/1000:6.2f}s "
                        f"{attempt['name'][:60]}"
                    )
        print(f"  sum(job durations) = {total_job:.3f}s vs wall {wall:.3f}s "
              f"(gap = driver/planning/collect-side)")


if __name__ == "__main__":
    main()
