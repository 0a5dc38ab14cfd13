"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 3 --trace 0

Run from the root of a checkout. ``--trace 0`` prints every end-to-end
metric of BENCHMARK.json; ``--trace 1`` runs the same workload with half of
its operations traced and prints every per-layer metric, writing every span
to ``.perfbench/traces/``. Everything the run writes (corpus cache, indexes,
Spark scratch, traces) stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
DRIVER_MEMORY = "2g"  # well under the host's RAM; the index path is small


def _isolate() -> None:
    """Point every scratch location of Python, Spark and the JVM into the
    checkout, so the run reads and writes nothing outside it."""
    for d in ("home", "tmp", "spark"):
        os.makedirs(os.path.join(STATE, d), exist_ok=True)
    os.environ["HOME"] = os.path.join(STATE, "home")
    os.environ["TMPDIR"] = os.path.join(STATE, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark")
    # spark-submit's launcher JVM: no perf-data file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(STATE, 'tmp')}")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def make_session():
    """``local[nproc]`` from this single driver process."""
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(STATE, "tmp")
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(STATE, "spark"))
        .config("spark.sql.warehouse.dir", os.path.join(STATE, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.worker.reuse", "true")
        .config("spark.io.compression.codec", "lz4")
        .getOrCreate()
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext

    from spans import live_descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while live_descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


def declared_metrics(trace: bool) -> dict[str, str]:
    """Metric name -> unit as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _isolate()
    sys.path.insert(0, ROOT)
    import visigoth_spark  # fails outside a checkout
    import workloads

    if os.path.dirname(os.path.abspath(visigoth_spark.__file__)) != \
            os.path.join(ROOT, "visigoth_spark"):
        sys.exit(f"visigoth_spark comes from {visigoth_spark.__file__}, "
                 "not from this checkout")

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"expected one of {sorted(workloads.WORKLOADS)}")
    declared = declared_metrics(bool(args.trace))

    t0 = time.perf_counter()
    spark = make_session()
    spark.sparkContext.setLogLevel("ERROR")
    try:
        run = workloads.Run(spark, STATE, args.workload, args.seed,
                            args.seconds, bool(args.trace),
                            time.perf_counter() - t0)
        workloads.lifecycle(run)
        result = workloads.finish(run)
        if args.trace:
            out = os.path.join(STATE, "traces")
            os.makedirs(out, exist_ok=True)
            path = os.path.join(out, f"{args.workload}-{args.seed}.json")
            with open(path, "w") as f:
                json.dump({"spans": run.tracer.spans,
                           "self_s": run.tracer.self_times(),
                           "metrics": result["metrics"]}, f)
    finally:
        stop_session(spark)
    for name, m in result["metrics"].items():
        if declared.get(name) != m["unit"]:
            raise SystemExit(f"metric {name} ({m['unit']}) is not declared "
                             "with that unit in BENCHMARK.json")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
