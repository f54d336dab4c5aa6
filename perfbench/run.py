"""Benchmark entry point.

    python3 perfbench/run.py --workload classify_parquet --seed 1 --seconds 5 --trace 0

Run from the root of a source checkout. Generates the workload's inputs
from ``--seed`` under ``.perfbench_work/`` in the checkout, starts a
Spark session sized to this machine, runs one cold operation (the
warm-up), then warm operations for ``--seconds`` seconds (at least
``MIN_OPS``), checks every output, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` instead runs
one untraced and one traced operation, writes the spans to
``.perfbench_work/trace-<workload>-<seed>.json`` and reports the
per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("classify_parquet", "query_mix")
MIN_OPS = 3
DRIVER_MEM = "2g"

# metric name -> unit, as declared in BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "cold_op_s": "s",
    "op_p50_s": "s",
    "work_per_s": "1/s",
    "peak_rss_mb": "MiB",
}
PER_LAYER = {
    "session.start_s": "s",
    "trace.op_s": "s",
    "trace.untraced_op_s": "s",
    "trace.overhead_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_mb": "MiB",
    "spark.shuffle_read_mb": "MiB",
}


def session_env(run_dir: str, trace: bool) -> dict[str, str]:
    """The program's own session settings, sized to this machine: one
    task slot per usable core, a driver heap well under physical memory,
    one shuffle partition per core, workers that can import the package,
    and the Spark UI (status REST API) only when tracing."""
    cores = len(os.sched_getaffinity(0))
    return {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(cores),
        "SPARK_GRAFT_UI": "true" if trace else "false",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        # keep every scratch file inside the checkout
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
    }


def session_conf(run_dir: str) -> dict[str, str]:
    return {
        # run_concurrent's per-query pools need the FAIR scheduler
        "spark.scheduler.mode": "FAIR",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # the heap is committed and touched up front (-Xms = the driver
        # memory), so peak RSS does not depend on when the collector
        # happened to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
        f" -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    }


def stop_session() -> None:
    """Stop Spark, then the JVM it ran in, and wait until it has exited."""
    from pyspark import SparkContext

    from mitoscape_spark.session import stop_spark

    stop_spark()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits on EOF from its parent
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(args: argparse.Namespace, run_dir: str, work_root: str) -> dict:
    from mitoscape_spark.session import get_spark
    from tracing import RssSampler, Tracer
    from workloads import WORKLOADS as CLASSES

    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=session_conf(run_dir))
        session_s = time.perf_counter() - t0
        try:
            tracer = Tracer(bool(args.trace), spark)
            w = CLASSES[args.workload](spark, run_dir, args.seed, tracer)
            t1 = time.perf_counter()
            w.prepare()
            prepare_s = time.perf_counter() - t1
            cold_s = w.op()
            setup_s = time.perf_counter() - T_START - w.build_s
            w.reset_measurements()
            if args.trace:
                untraced_s = w.op()
                traced_s = w.traced_op()
            else:
                deadline = time.perf_counter() + args.seconds
                n = 0
                while n < MIN_OPS or time.perf_counter() < deadline:
                    w.op()
                    n += 1
            w.final_check()
            if args.trace:
                tracer.attach_stage_counters()
        finally:
            stop_session()

    print(
        f"perfbench: {args.workload} seed={args.seed} attempted={w.attempted}"
        f" failed={w.failed} session_s={session_s:.2f} prepare_s={prepare_s:.2f}"
        f" build_s={w.build_s:.2f}",
        file=sys.stderr,
    )
    for p in w.problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)

    if not args.trace:
        values = {
            "setup_s": setup_s,
            "cold_op_s": cold_s,
            "op_p50_s": statistics.median(w.latencies),
            "work_per_s": statistics.median(w.rates),
            "peak_rss_mb": rss.peak_bytes / (1 << 20),
        }
        units = END_TO_END
        extra = {
            "op_count": len(w.latencies),
            "op_s": [round(x, 3) for x in w.latencies],
            "op_unit": w.unit_name,
            "work_units_per_op": w.work_units(),
        }
        print(f"perfbench: {json.dumps(extra)}", file=sys.stderr)
    else:
        stages = tracer.stage_totals()
        values = {
            "session.start_s": session_s,
            "trace.op_s": traced_s,
            "trace.untraced_op_s": untraced_s,
            "trace.overhead_s": traced_s - untraced_s,
            **{f"spark.{k}": stages.get(k, 0.0) for k in (
                "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                "shuffle_write_mb", "shuffle_read_mb",
            )},
        }
        units = PER_LAYER
        trace_path = os.path.join(work_root, f"trace-{args.workload}-{args.seed}.json")
        tracer.dump(
            trace_path,
            {
                "workload": args.workload,
                "seed": args.seed,
                "session_start_s": session_s,
                "setup_s": setup_s,
                "traced_op_s": traced_s,
                "untraced_op_s": untraced_s,
                "tracing_overhead_s": traced_s - untraced_s,
                "stage_totals": stages,
            },
        )
        print_trace_table(tracer, trace_path)

    return {
        "correct": w.failed == 0,
        "attempted": w.attempted,
        "failed": w.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def print_trace_table(tracer, path: str) -> None:
    """Per-layer self times and counts, to stderr."""
    self_s = tracer.self_seconds()
    print(f"perfbench: trace written to {path}", file=sys.stderr)
    for name in sorted(self_s):
        print(
            f"perfbench:   {name:32s} self {self_s[name]:8.3f} s"
            f"  total {tracer.total_seconds(name):8.3f} s",
            file=sys.stderr,
        )
    for name in sorted(tracer.counts):
        print(f"perfbench:   {name:32s} {tracer.counts[name]:g}", file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "mitoscape_spark", "__init__.py")):
        print(
            f"perfbench: no mitoscape_spark package under {ROOT}; run from a"
            " source checkout",
            file=sys.stderr,
        )
        return 2

    work_root = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work_root, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ.update(session_env(run_dir, bool(args.trace)))
    sys.path.insert(0, ROOT)
    try:
        result = run(args, run_dir, work_root)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
