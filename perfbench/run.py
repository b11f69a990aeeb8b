"""Benchmark of the CDC pipeline and its query layers.

Usage (from the repository root):

    python3 perfbench/run.py --workload live_100tps --seed 1 --seconds 12 --trace 0

Workloads are described in ``BENCHMARK.json`` and ``perfbench/README.md``.
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run tags every call with a Spark job group, writes an event log,
and reports the per-layer metrics instead.

Everything the run writes goes under ``.bench_work/`` in the
repository root, which is removed at the end.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _prepare_environment(work: str) -> None:
    """Point every temporary file inside ``work`` and make the package
    importable by Spark's Python workers from any working directory
    (they inherit ``PYTHONPATH`` from the JVM, which inherits it from
    this process)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the JVM that spark-submit starts to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    sys.path.insert(0, ROOT)


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=[w["name"] for w in BENCH["workloads"]])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "cdc_realtime_pipeline_spark")):
        print("cdc_realtime_pipeline_spark package not found next to perfbench/", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_environment(work)
    # Imported after the environment is set: tempfile reads TMPDIR once.
    from perfbench.workloads import LIVE, NOT_RUN, Run, live

    run = Run(work=work, seed=args.seed, seconds=args.seconds, trace=bool(args.trace))
    try:
        live(run, LIVE[args.workload])
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))

    metrics = {}
    for m in BENCH["per_layer" if args.trace else "end_to_end"]:
        value = run.metrics.get(m["name"], math.nan)
        if math.isnan(value):
            # 0 for a layer the workload does not run; elsewhere a failure
            if not (args.trace and m["name"].startswith(NOT_RUN[args.workload])):
                run.check([f"metric {m['name']} was not measured"])
            value = 0.0
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    for name, value in sorted(run.metrics.items()):
        print(f"{name:48s} {value:.6g}", file=sys.stderr)
    for problem in run.problems:
        print(f"check failed: {problem}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": not run.problems,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    t0 = time.time()
    code = main()
    print(f"wall {time.time() - t0:.1f} s", file=sys.stderr)
    sys.exit(code)
