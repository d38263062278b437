"""Seeded closed-loop benchmark of the engine: one workload per run.

    python3 perfbench/run.py --workload fuel_cron --seed 1 --seconds 10 --trace 0

Run from the repository root. One client thread drives one local Spark
session (``local[$SPARK_GRAFT_CPUS]``, default: the CPUs this process may
use); each operation starts when the previous one returns. The run sets
up five times (the first set-up also launches the JVM) and reports the
median, performs one untimed warm-up operation, then loops for
``--seconds`` (and at least the workload's minimum number of iterations)
and checks every output against closed-form or oracle expectations.
Everything it writes stays under ``.perfbench_work/``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
PACKAGE = "etl_fuel_priceguide_ec2_spark"
WORKLOADS = ("fuel_cron", "llm_tier")
SETUPS = 5
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "batch_p50_s": "s",
    "items_per_s": "1/s",
    "request_p50_ms": "ms",
}

# counts the traced run reports beside the span numbers (0 when the
# workload never reaches the layer)
COUNTS = {
    "sources.rest.yield_frac": "ratio",
    "operators.projections.kept_frac": "ratio",
    "sinks.upsert_dim.rows_inserted": "count",
    "sinks.append_fact.files_written": "count",
    "sinks.append_fact.bytes_per_row": "bytes/row",
    "operators.asof.latest_for_key.bytes_read_per_lookup": "bytes",
    "operators.curation.pairs_out": "count",
    "operators.curation.spans_out": "count",
    "operators.curation.planted_dup_recall": "ratio",
    "operators.similarity.input_rows_per_request": "count",
    "operators.similarity.recall_at_10": "ratio",
    "run.spill_bytes": "bytes",
    "run.failed_tasks": "count",
    "run.trace_overhead_frac": "ratio",
}
SPAN_UNITS = {"wall_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count", "cpu_s": "s", "shuffle_bytes": "bytes"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name of the traced run, with its unit."""
    from perfbench.trace import SPANS

    out = {f"{s}.{f}": u for s in SPANS for f, u in SPAN_UNITS.items()}
    out.update(COUNTS)
    return out


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args(argv)


def prepare_environment(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the run dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM. A
    JVM that does not stop within the grace period is killed, so a failed
    run still exits promptly and leaves no process behind."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    stopper = threading.Thread(target=spark.stop, daemon=True)
    stopper.start()
    stopper.join(timeout=60)
    if gateway is not None and not stopper.is_alive():
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still leaves through the finally that stops Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"run from the repository root: no {PACKAGE}/ in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_environment(run_dir)
    sys.path.insert(0, ROOT)

    from etl_fuel_priceguide_ec2_spark.session import get_session
    from perfbench import stats, trace
    from perfbench.workloads import WORKLOADS as CLASSES

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # a heap sized and touched up front: left to grow, G1 settles on
        # one of two footprints run to run, and an untouched heap's RSS
        # tracks how much was allocated, so peak RSS would vary by run
        "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:+AlwaysPreTouch",
    }
    tracer = trace.Tracer(enabled=False)
    # numpy seeds must be non-negative; any integer maps to one
    wl = CLASSES[args.workload](args.seed % (1 << 63), run_dir, tracer)
    spark = None
    setups: list[float] = []
    iters: dict[bool, list[float]] = {True: [], False: []}
    try:
        with trace.RssSampler() as rss:
            for _ in range(SETUPS):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                tracer.enabled = bool(args.trace)
                with tracer.span("session.get_session"):
                    spark = get_session("perfbench", extra_conf=conf)
                tracer.enabled = False
                spark.sparkContext.setLogLevel("ERROR")
                wl.prepare(spark)
                setups.append(time.perf_counter() - t0)
            digest = wl.digest()
            wl.warm_up()
            tracer.enabled = bool(args.trace)
            wl.build()

            # the closed loop; a traced run traces iterations in the order
            # T U U T (repeated), which cancels a linear warming trend, so
            # it can measure its own overhead
            loop_start = time.perf_counter()
            deadline = loop_start + args.seconds
            min_iterations = max(wl.min_iterations, 4 if args.trace else 1)
            k = 0
            while True:
                traced = bool(args.trace) and k % 4 in (0, 3)
                tracer.enabled = traced
                t0 = time.perf_counter()
                wl.iteration()
                iters[traced].append(time.perf_counter() - t0)
                k += 1
                if time.perf_counter() >= deadline and k >= min_iterations:
                    break
            tracer.enabled = False
            loop_end = time.perf_counter()
            wl.check()
            if args.trace:
                jobs, stages = trace.StageCollector(spark.sparkContext).fetch()
        peak_rss = rss.peak(loop_start, loop_end)
    finally:
        if spark is not None:
            stop_spark(spark)

    r = wl.r
    print(f"workload {args.workload} seed {args.seed} input digest {digest}")
    print(
        f"  set-ups {[round(s, 3) for s in setups]}; {len(r.batch_s)} batch ops "
        f"({wl.batch_unit}: {r.batch_items}); {len(r.request_s)} requests; "
        f"{sum(len(v) for v in iters.values())} iterations"
    )
    print(f"  batch s {[round(x, 3) for x in r.batch_s]}")
    print(f"  request ms {[round(x * 1000, 1) for x in r.request_s]}")
    tail = stats.highest_supported_percentile(len(r.request_s))
    if tail is not None:
        print(f"  request p{tail} {stats.tail_percentile(r.request_s, tail) * 1000:.1f} ms")
    for f in r.failures:
        print(f"  FAILED: {f}")

    if args.trace:
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        tracer.dump(os.path.join(work, "traces", f"{args.workload}-seed{args.seed}.json"))
        layer, totals = trace.layer_metrics(tracer.spans, jobs, stages)
        counts = {n: (sum(v) / len(v) if v else 0.0) for n, v in r.counts.items()}
        lookup = totals["operators.asof.latest_for_key"]
        counts["operators.asof.latest_for_key.bytes_read_per_lookup"] = lookup["input_bytes"] / (lookup["calls"] or 1)
        topk = totals["operators.similarity.topk_ivf_pq"]
        counts["operators.similarity.input_rows_per_request"] = topk["input_records"] / (topk["calls"] or 1)
        counts["run.trace_overhead_frac"] = stats.median(iters[True]) / stats.median(iters[False]) - 1
        layer.update({n: counts.get(n, 0.0) for n in COUNTS if n not in layer})
        metrics = {n: {"value": layer[n], "unit": u} for n, u in per_layer_units().items()}
    else:
        values = {
            "setup_s": stats.median(setups),
            "peak_rss_mb": peak_rss / 2**20,
            "batch_p50_s": stats.median(r.batch_s),
            "items_per_s": r.batch_items / sum(r.batch_s),
            "request_p50_ms": stats.median(r.request_s) * 1000,
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}
    print(json.dumps({
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
