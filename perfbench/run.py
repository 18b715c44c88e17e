"""Regression benchmark of the engine (see ``perfbench/README.md``).

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload log_stream --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (both as listed
in ``BENCHMARK.json``). Inputs, scratch, Spark's local dirs and the
JVM's temp dir all live under ``.bench_work/`` in the checkout, which
is removed at exit; traced runs also leave their spans in
``.bench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _env(work: str) -> None:
    """Point every place the engine, Spark and the JVM write to inside
    ``work``. Must run before pyspark or the engine is imported (the
    engine resolves its scratch base at import)."""
    tmp = os.path.join(work, "tmp")
    scratch = os.path.join(work, "scratch")
    for d in (tmp, scratch):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        # Half the cores: the driver, the JIT and the Python workers keep
        # the rest, so a task is not queued behind them.
        "SPARK_GRAFT_CPUS": str(max(1, len(os.sched_getaffinity(0)) // 2)),
        "SPARK_GRAFT_SCRATCH_DIR": scratch,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "SPARK_DRIVER_MEMORY": "2g",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1",
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sressentials_spark", "session.py")):
        print("perfbench: the engine (sressentials_spark/) is not in this checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    _env(work)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        # The engine prints (the CLI's report lines); keep stdout for the
        # result line alone.
        with contextlib.redirect_stdout(sys.stderr):
            result = workloads.run(args.workload, args.seed, args.seconds,
                                   bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    detail = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(detail, "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
    metrics = result["metrics"]
    if args.trace:
        metrics = {k: {"value": v, "unit": workloads.PER_LAYER[k]}
                   for k, v in result["layers"].items()}
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
