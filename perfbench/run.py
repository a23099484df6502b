"""Engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload oltp_point --seed 1 --seconds 6 --trace 0

Run from the repository root. Starts Spark as ``local[nproc]`` with
``nproc`` shuffle partitions and a 2 GiB driver, runs one closed-loop
workload from ``workloads.py`` for ``--seconds`` of measurement after
its set-up, checks every output, and prints two lines: a ``detail``
JSON record (environment, data sizes and workload-specific figures),
then, last, the result record

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

holding the end-to-end metrics of ``BENCHMARK.json`` (``--trace 0``) or
its per-layer metrics (``--trace 1``). A traced run alternates traced
and untraced cycles, reports the difference as ``trace.overhead_frac``
and writes its spans to ``.perfbench-out/``.

Every file the run writes stays under the repository root: stores,
generated data, Spark scratch and temp files go to ``.perfbench-work/``,
which is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"
FLUSH_POLICY = ("LocalObjectStorage fsyncs every object it writes (put_if_absent, put,"
                " put_file_if_absent); unchanged by the benchmark")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01,
                    help="scale factor of the tables analytic_queries generates")
    return ap.parse_args(argv)


def start_spark(nproc: int, work: str):
    from pyspark.sql import SparkSession

    jtmp = os.path.join(work, "jvm-tmp")
    os.makedirs(jtmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(nproc))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # fixed heap; no hsperfdata file outside the work directory
        .config("spark.driver.extraJavaOptions",
                f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={jtmp}"
                f" -Dderby.system.home={work}")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it owns)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if proc is None:
        return
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, REPO)
    sys.path.insert(0, HERE)
    # Spark's Python workers import the program too (UDFs, data sources)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYTHONHASHSEED"] = "0"
    try:
        import delta_lake_experiment_spark.client as engine
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {REPO}: {e}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(engine.__file__).startswith(REPO + os.sep):
        print(f"perfbench: the engine package was imported from {engine.__file__},"
              f" not from {REPO}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    import metrics

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(REPO, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = tmp
    spark = None
    try:
        spark = start_spark(nproc, work)
        spark_s = time.perf_counter() - T_PROCESS
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer()
        run = Run(spark=spark, seed=args.seed, seconds=args.seconds, sf=args.sf,
                  work=work, repo=REPO, tracer=tracer)
        WORKLOADS[args.workload](run)
        run.setup_s += spark_s
        if tracer is not None:
            tracer.dump(os.path.join(REPO, ".perfbench-out",
                                     f"trace-{args.workload}-seed{args.seed}.jsonl"),
                        run.window[0])
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it

    result, detail = metrics.summarize(run, traced=bool(args.trace))
    detail.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
                  trace=args.trace, nproc=nproc, driver_memory=DRIVER_MEMORY,
                  sf=args.sf, flush_policy=FLUSH_POLICY,
                  latency_note="latencies are the running host's (page cache, local disk),"
                               " not a storage device's")
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
