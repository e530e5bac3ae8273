"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--cores C] [--scale full|tiny]

Generates the workload's inputs from ``--seed``, sets up, warms up, then
measures for about ``--seconds`` and checks every result against an
independent DuckDB reference. The second-to-last stdout line is a full
report (every metric by name, with its unit, median, high percentile and
sample count, plus the stamped environment and generator parameters); the
last line is the summary object
``{"correct", "attempted", "failed", "metrics"}`` carrying the
``end_to_end`` metrics of BENCHMARK.json with ``--trace 0`` and its
``per_layer`` metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    from perfbench.workloads import SCALES, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="Spark local cores (default: the CPUs this process may use)")
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    return ap.parse_args(argv)


def pin_environment(cores: int, work: str) -> None:
    """Pin what the session and its workers inherit: the core count, the
    checkout on the Python workers' path, and every scratch directory
    inside the (gitignored) work tree."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, spark-submit's launcher included; HotSpot would otherwise
    # write its perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        ["--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}", "pyspark-shell"]
    )


def declared_metrics() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "stream_spark")):
        print(f"perfbench: no stream_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    bench = declared_metrics()
    work = os.path.join(ROOT, ".scratch", f"perfbench-{os.getpid()}")
    pin_environment(args.cores, work)

    import pyspark

    import stream_spark.queries.streaming_queries as streaming_queries
    from perfbench.workloads import Run, run_workload

    # the streaming queries stage replay files under a module-level root
    streaming_queries._SCRATCH = os.path.join(work, "queries")
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.cores, args.scale, work)
    try:
        run_workload(run)
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)

    failed = len(run.failures)
    details = run.report
    e2e = {**details.pop("e2e"), "setup_s": details["setup_s"]}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": args.cores,
        "scale": args.scale,
        "pyspark": pyspark.__version__,
        "attempted": run.attempted,
        "failures": run.failures,
        "metrics": {
            "setup_s": {"value": details.pop("setup_s"), "unit": "s"},
            **details.pop("metrics"),
            "failed_ratio": {"value": failed / max(run.attempted, 1), "unit": "ratio"},
            "peak_rss_mb": {"value": run.peak_rss_mb, "unit": "MB"},
        },
        "end_to_end": {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in bench["end_to_end"]},
        **details,
    }
    if args.trace:
        report["layers"] = run.layers
    print(json.dumps(report, default=str))

    if args.trace:
        metrics = {m["name"]: {"value": run.layers.get(m["name"], 0), "unit": m["unit"]} for m in bench["per_layer"]}
    else:
        metrics = report["end_to_end"]
    finite = all(isinstance(v["value"], (int, float)) and math.isfinite(v["value"]) for v in metrics.values())
    if not finite:  # a metric a failed operation left unmeasured is null, not NaN
        metrics = {
            k: {**v, "value": v["value"] if isinstance(v["value"], (int, float)) and math.isfinite(v["value"]) else None}
            for k, v in metrics.items()
        }
    print(json.dumps({
        "correct": failed == 0 and finite,
        "attempted": max(run.attempted, 1),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
