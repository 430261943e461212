"""Run one benchmark workload at one seed.

    python3 perfbench/run.py --workload mutate_serve --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout (the directory holding
``big_ann_spark/``). Builds the workload's state from the seed, runs a
closed loop with one client for ``--seconds``, checks every output
against the numpy oracle, and prints two JSON lines: a ``detail``
object (every metric the workload applies under its own name, host
state, sizes) and, last, the result object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end set; with ``--trace 1`` they are the
per-layer set, and the spans are written to
``.perfbench_out/<workload>-seed<seed>-spans.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import tracing  # noqa: E402
from perfbench.inputs import SIZES, Inputs  # noqa: E402
from perfbench.workloads import PER_LAYER, WORKLOADS, Run, detail_metrics, layer_metrics  # noqa: E402

# name -> unit; must match BENCHMARK.json (the smoke test checks)
END_TO_END = {
    "p50_ms": "ms",
    "items_per_s": "1/s",
    "recall_at_10": "ratio",
    "setup_s": "s",
}
# a run must exit within 180 s; past this many seconds it stops at the
# next operation instead of the next cycle boundary
HARD_STOP_S = 130.0
# Fixed rather than the program's default (half of the host's RAM), so
# heap size, GC time and peak_rss_mb do not follow the host's RAM. On a
# 4-core, 15 GB host the default (7g) gave a peak_rss_mb of about 2.6 GB
# on both workloads against 1.4-1.9 GB with 1g, at the same latencies
# and with no task failures: the extra was garbage the JVM had no need
# to collect. The heap starts at its full size (-Xms): a heap that grows
# on demand grew differently from run to run, and the JVM's peak
# resident memory with it.
DRIVER_MEM = "1g"


def _spark_env(work: str, cpus: int) -> None:
    """Environment for the Spark driver this process launches: the
    package importable by Python workers, every scratch file inside the
    run's work directory, no console progress bars, and UI retention
    large enough that a traced run's jobs are all still listed."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # glibc grows one malloc arena per JVM thread on demand, which makes
    # the Spark driver's resident memory differ by gigabytes between runs
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f'--driver-java-options "-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"',
        "--conf spark.ui.showConsoleProgress=false",
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "--conf spark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "pyspark-shell",
    ])


def _stop_spark(spark) -> None:
    """Stop the session, then the Spark driver JVM, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="default", choices=sorted(SIZES), help="input size profile")
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    if not os.path.isfile(os.path.join(ROOT, "big_ann_spark", "__init__.py")):
        print(f"perfbench: no big_ann_spark package under {ROOT}; run from a source checkout",
              file=sys.stderr)
        return 2
    sizes = SIZES[args.size]
    cpus = len(os.sched_getaffinity(0))
    # A task that calls a Python UDF keeps its JVM thread and a Python
    # worker busy at once, so local[cpus] can run twice as many busy
    # threads and processes as there are CPUs.
    spark_cpus = max(1, cpus // 2)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _spark_env(work, spark_cpus)
    host = {"loadavg_before": tracing.loadavg(), "cpu_probe_s": tracing.cpu_probe_s(), "cpus": cpus,
            "spark_cpus": spark_cpus}
    steal0 = tracing.steal_s()
    traced = bool(args.trace)
    spark = None
    try:
        with tracing.MemorySampler() as mem:
            t0 = time.perf_counter()
            from big_ann_spark.session import get_spark

            spark = get_spark("perfbench")
            start_s = time.perf_counter() - t0
            host["driver_memory"] = spark.sparkContext.getConf().get("spark.driver.memory")
            run = Run(spark, work, tracing.Tracer(spark.sparkContext))
            w = WORKLOADS[args.workload](run)
            t0 = time.perf_counter()
            run.inputs = Inputs(args.seed, sizes)
            w.setup(traced)
            setup_s = start_s + time.perf_counter() - t0
            setup_failed = w.check_setup()
            # warm-up: checked, but not timed into the metrics
            for i in w.warmup_ops:
                w.attempt(i, False)
            run.reset_measurements()
            deadline = time.perf_counter() + args.seconds
            i = 0
            while not (
                time.perf_counter() >= deadline
                and run.samples.get(w.primary)
                # a slow host may cut a cycle short to keep the run
                # inside its time limit
                and (w.boundary(i) or time.perf_counter() > t_start + HARD_STOP_S)
            ):
                w.attempt(i, traced and w.traced_op(i))
                i += 1
            if traced:
                run.tracer.attach()
        result_metrics = {
            "p50_ms": statistics.median(run.samples[w.primary]) * 1e3,
            "items_per_s": run.items / run.busy_s,
            "recall_at_10": w.recall(),
            "setup_s": setup_s,
        }
        if traced:
            values = layer_metrics(w, start_s)
            metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in values.items()}
            run.tracer.dump(os.path.join(ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}-spans.json"))
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in result_metrics.items()}
    finally:
        if spark is not None:
            _stop_spark(spark)
        stragglers = tracing.wait_descendants_gone()
        shutil.rmtree(work, ignore_errors=True)
    host["loadavg_after"] = tracing.loadavg()
    host["steal_s"] = round(tracing.steal_s() - steal0, 2)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "size": args.size,
        "sizes": sizes.__dict__, "host": host, "session_start_s": start_s, "setup_failed": setup_failed,
        "samples_ms": {k: [round(x * 1e3, 1) for x in v] for k, v in run.samples.items()},
        "checks": run.checks,
        "failures": run.failures[:10], "end_to_end": result_metrics,
        "peak_rss_mb": mem.peak_mb, "peak_rss_parts": mem.peak_parts,
        **detail_metrics(w),
        "stragglers": stragglers,
    }
    print(json.dumps({"detail": detail}))
    correct = run.failed == 0 and run.attempted > 0 and bool(run.checks)
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
