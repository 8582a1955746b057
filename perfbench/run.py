"""Seeded serve / ingest benchmark of textindexing_spark at local[4].

Run from the root of a checkout:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 16 --trace 0

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
they are its per-layer metrics, folded from Spark's event log, and every
span is printed as a ``{"span": ...}`` line before it. The exit code is 1
when any result differs from the oracle, 2 on a usage or set-up error.

All scratch data (Spark local dir, event log, saved indexes, JVM and
Python temp files) lives under ``.perfbench_work/`` in the checkout and
is deleted before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# session settings: the 4 cores of the box, a driver heap well inside its
# 15 GB, no UI, scratch dirs inside the checkout
MASTER = "local[4]"
DRIVER_MEMORY = "4g"


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("serve", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def make_session(work: str, trace: bool):
    from pyspark.sql import SparkSession

    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    b = (SparkSession.builder.master(MASTER)
         .appName("perfbench")
         .config("spark.driver.memory", DRIVER_MEMORY)
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp} -XX:ParallelGCThreads=2 "
                 "-XX:-UsePerfData")
         .config("spark.local.dir", f"{work}/local")
         .config("spark.sql.warehouse.dir", f"{work}/warehouse")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true"))
    if trace:
        os.makedirs(f"{work}/events", exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"{work}/events")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it runs in to exit (the gateway JVM
    exits when its stdin closes; it stops the Python worker daemon)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None, sizes=None, inject=None) -> int:
    """Run one workload and print its result line. ``sizes`` and
    ``inject`` (a callable given the Run before the workload starts) are
    the self-test's hooks."""
    args = parse(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import textindexing_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    if HERE not in sys.path:
        sys.path.insert(0, HERE)
    import layers
    import workloads
    from spans import Tracer

    work = f"{ROOT}/.perfbench_work/{os.getpid()}"
    os.makedirs(work, exist_ok=True)
    # Python workers import the engine from the checkout and put their
    # temp files in the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = f"{work}/tmp"
    # no JVM perf-counter files in /tmp (spark-submit's launcher JVM too)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    spark = None
    try:
        spark = make_session(work, bool(args.trace))
        # the engine zips itself into /tmp for executors unless the session
        # is marked shipped; workers here import it from PYTHONPATH instead
        from textindexing_spark import _pkg

        _pkg._SHIPPED_SESSIONS.add(id(spark))
        tracer = Tracer(spark, bool(args.trace))
        run = workloads.Run(spark, args.seed, args.seconds, work, tracer,
                            sizes or workloads.Sizes())
        if inject is not None:
            inject(run)
        t = time.perf_counter()
        workloads.WORKLOADS[args.workload](run)
        run.props["run_s"] = round(time.perf_counter() - t, 3)
        stop_session(spark)
        spark = None
        if args.trace:
            logs = os.listdir(f"{work}/events")
            jobs = tracer.fold(f"{work}/events/{logs[0]}")
            metrics = layers.per_layer(run, jobs)
            for d in tracer.coverage():
                print(json.dumps({"span": d}))
        else:
            metrics = {name: (run.e2e[name], unit)
                       for name, unit in layers.E2E_UNITS.items()}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(f"{ROOT}/.perfbench_work")
        except OSError:
            pass
    print(json.dumps({"properties": run.props}))
    for key, reason in sorted(run.failures.items()):
        print(f"perfbench: FAILED {key}: {reason}", file=sys.stderr)
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 1 if run.failures else 0


if __name__ == "__main__":
    sys.exit(main())
