"""Run one benchmark workload from a seed and print its metrics.

    python3 perfbench/run.py --workload etl_sync --seed 1 --seconds 10 --trace 0

Run it from the repository root. It builds nothing: the program is the
Python package beside this directory, imported from source. Every file
it writes goes under ``.perfbench_work/`` in the repository root; the
Spark data of a run is deleted when the run ends, and a JSON record of
the run (set-up phases, per-round wall time, VM CPU and steal, failures,
the spans and, with ``--trace 1``, the per-layer figures) is kept in
``.perfbench_work/results/``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "bangumi_notion_data_integration_project_spark"
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")
# A run that is still going after this long stops without a result.
RUN_LIMIT_S = 170
GC_MAX_READINGS = 8
GC_PAUSE_S = 0.5
GC_SETTLED_MB = 1.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_environment(work: str, cores: int) -> None:
    """Point every scratch location of Spark, the JVM and Python into
    ``work`` before the JVM starts, and put the package on the Python
    workers' path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    import tempfile

    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark_local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--driver-java-options",
        f'-Djava.io.tmpdir="{tmp}" -XX:-UsePerfData',
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
        "pyspark-shell",
    ])
    sys.path.insert(0, ROOT)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def jvm_memory_mb(spark) -> dict:
    """Memory of the driver JVM, in MiB: ``heap_retained`` is the heap in
    use after full collections (``System.gc()``), i.e. what the program
    still holds, and ``non_heap`` the non-heap memory in use (metaspace,
    code cache). Neither depends on how far the collector chose to grow
    the heap. Each pool's peak use is returned too, for the run record
    only: the young generation's peak follows the collector's sizing
    and is not a steady figure."""
    jvm = spark.sparkContext._jvm
    factory = jvm.java.lang.management.ManagementFactory
    out = {f"peak.{p.getName()}": p.getPeakUsage().getUsed() / 2**20
           for p in factory.getMemoryPoolMXBeans()}
    bean = factory.getMemoryMXBean()
    # Python drops its handles on JVM objects first. A collection also
    # queues work for Spark's ContextCleaner, which frees more a moment
    # later, so collect again until the heap stops shrinking.
    gc.collect()
    heap = []
    while len(heap) < GC_MAX_READINGS:
        jvm.java.lang.System.gc()
        time.sleep(GC_PAUSE_S)
        heap.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
        if len(heap) >= 2 and heap[-2] - heap[-1] < GC_SETTLED_MB:
            break
    out["heap_after_gc"] = heap
    out["heap_retained"] = min(heap)
    out["non_heap"] = bean.getNonHeapMemoryUsage().getUsed() / 2**20
    return out


def per_layer_names() -> list[dict]:
    with open(BENCHMARK_JSON, encoding="utf-8") as f:
        return json.load(f)["per_layer"]


class RunTimeout(BaseException):
    """Raised by the alarm; a BaseException so that no operation's
    failure handler counts it and goes on."""


def _time_out(signum, frame):
    raise RunTimeout(f"run still going after {RUN_LIMIT_S} s")


def main(argv=None) -> int:
    signal.signal(signal.SIGALRM, _time_out)
    signal.alarm(RUN_LIMIT_S)
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package beside {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from etl_sync import EtlSync
    from harness import Run
    from query_batch import QueryBatch
    from spans import Tracer
    from stats import median, self_maxrss_mb

    workloads = {w.name: w for w in (EtlSync, QueryBatch)}
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads)}",
              file=sys.stderr)
        return 2
    cls = workloads[args.workload]
    work = os.path.join(WORK_ROOT, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    results_dir = os.path.join(WORK_ROOT, "results")
    os.makedirs(results_dir, exist_ok=True)
    configure_environment(work, cls.cores)

    run = Run(args.seed, work, Tracer(bool(args.trace), T0))
    spark = None
    try:
        t = time.perf_counter()
        from bangumi_notion_data_integration_project_spark.session import get_spark

        spark = get_spark("perfbench")
        run.phases["get_spark_s"] = time.perf_counter() - t
        run.spark = spark
        run.tracer.sc = spark.sparkContext
        t = time.perf_counter()
        import bangumi_notion_data_integration_project_spark.pipeline  # noqa: F401
        import bangumi_notion_data_integration_project_spark.queries  # noqa: F401
        import bangumi_notion_data_integration_project_spark.streaming.incremental  # noqa: F401

        run.phases["import_s"] = time.perf_counter() - t
        workload = cls(run)
        workload.setup()
        setup_s = time.perf_counter() - T0

        t_measure = time.perf_counter()
        rnd = 1
        while True:
            with run.round(rnd):
                workload.run_round(rnd)
            rnd += 1
            if time.perf_counter() - t_measure >= args.seconds:
                break
        # before the output checks: the query oracle runs in this process
        jvm_mem = jvm_memory_mb(spark)
        python_mb = self_maxrss_mb()
        mem_mb = jvm_mem["heap_retained"] + jvm_mem["non_heap"] + python_mb
        if hasattr(workload, "finish"):
            workload.finish()
        layers = workload.per_layer(run.tracer.spans) if args.trace else {}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    signal.alarm(0)

    round_s = median([r.wall_s for r in run.rounds])
    if args.trace:
        layers["session.get_spark_s"] = run.phases["get_spark_s"]
        layers["trace.round_s"] = round_s
        metrics = {
            m["name"]: {"value": layers.get(m["name"], 0), "unit": m["unit"]}
            for m in per_layer_names()
        }
    else:
        metrics = {
            "round_s": {"value": round_s, "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "mem_mb": {"value": mem_mb, "unit": "MiB"},
        }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "setup_s": setup_s,
        "phases": run.phases,
        "jvm_memory_mb": jvm_mem,
        "python_maxrss_mb": python_mb,
        "rounds": [vars(r) for r in run.rounds],
        "failures": run.failures,
        "per_layer": layers,
        **run.record,
        "spans": [vars(s) for s in run.tracer.spans],
    }
    stamp = time.strftime("%Y%m%dT%H%M%S")
    out = os.path.join(results_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json")
    with open(out, "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
