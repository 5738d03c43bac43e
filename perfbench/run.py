#!/usr/bin/env python3
"""Benchmark of the metrics-advisor engine.

    python3 perfbench/run.py --workload bundle_reference --seed 1 \
        --seconds 10 --trace 0

Run from the repository root.  Each run is one fresh process: it builds
the Spark session (timed as ``setup_s``), makes the workload's inputs
from ``--seed``, then repeats whole passes of the workload's unit of work
until ``--seconds`` of passes have been timed (at least one pass).  Every
pass's output is checked against the generator's ground truth outside
the timed region.  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics (median over passes).
``--trace 1`` runs a fixed schedule instead (warm-up pass, traced pass
with each layer forced on its own, untraced pass) and reports the
per-layer metrics (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
DRIVER_MEM = "2g"
WORKLOADS = ("bundle_reference", "bundle_fleet", "operator_mix")


def _pin_environment(work: str) -> None:
    """Fix core count, heap and every scratch location before the JVM
    starts, so no host default leaks into the numbers and nothing is
    written outside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(min(CPUS, len(os.sched_getaffinity(0)))),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_EXTRA_CONF": "spark.ui.showConsoleProgress=false",
        # every JVM, the spark-submit launcher too: no hsperfdata under
        # /tmp, temporary files inside the checkout
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "TMPDIR": tmp,
        "PYTHONHASHSEED": "0",
    })
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "metrics_advisor_spark", "__init__.py")):
        print("perfbench: run from a checkout of the repository "
              "(metrics_advisor_spark/ not found)", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    _pin_environment(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import proc
    import workloads

    from metrics_advisor_spark import get_spark

    spark = get_spark("perfbench")
    spark.range(1).count()
    setup_s = proc.since_process_start_s()
    try:
        wl = workloads.make(args.workload, spark, args.seed, work)
        result = wl.run(args.seconds, traced=bool(args.trace))
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = result.layer_metrics()
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": statistics.median(result.wall), "unit": "s"},
            "cpu_s": {"value": statistics.median(result.cpu), "unit": "s"},
        }
    for line in result.log:
        print(line)
    print(json.dumps({
        "correct": result.correct,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
