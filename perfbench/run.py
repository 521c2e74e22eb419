"""Benchmark entry point.

    python3 perfbench/run.py --workload datamart_queries --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the workload's inputs from the
seed, starts a Spark session sized from the host, times the workload for
``--seconds`` (whole units, at least one), checks the outputs, stops every
process it started, and prints one JSON object as the last stdout line:
the end-to-end metrics with ``--trace 0``, the per-layer metrics of a
traced run with ``--trace 1``. Everything the run writes stays under
``.perfbench/`` in the checkout; the full result (conditions, per-op
timings, checks) is written to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("datamart_queries", "reference_day")

#: name -> unit, in report order
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "rows_per_s": "1/s",
}


def warm_up(spark) -> None:
    """One small shuffle and aggregation before timing, on generated rows
    only, so no program cache is filled outside the timed region."""
    from pyspark.sql import functions as F

    spark.range(10_000).groupBy((F.col("id") % 100).alias("k")).agg(
        F.sum("id").alias("s")
    ).write.format("noop").mode("overwrite").save()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers it forked, and
    wait until each has ended."""
    from pyspark import SparkContext

    from perfbench.host import alive, process_tree

    children = process_tree()[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while any(alive(p) for p in children) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in children:
        if alive(p):
            os.kill(p, signal.SIGKILL)


def end_to_end(outcome, setup_s: float, peak_rss_mb: float) -> dict[str, float]:
    from perfbench.workloads import tail

    walls = [u["wall_s"] for u in outcome.units]
    lat = [o.seconds for o in outcome.ops]
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(walls),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail(lat)[0],
        "cpu_s": outcome.cpu_s / len(walls),
        "peak_rss_mb": peak_rss_mb,
        "rows_per_s": outcome.rows / sum(walls),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if os.environ.get("PYTHONHASHSEED") != "0":
        # the program orders a job's assets through sets of names, and the
        # first assets pay the JIT warm-up; a fixed hash seed keeps that
        # order the same in every run
        env = {**os.environ, "PYTHONHASHSEED": "0"}
        os.execve(sys.executable, [sys.executable, *sys.argv], env)
    if not os.path.isdir(os.path.join(ROOT, "aave_etl_spark")):
        print(f"perfbench: no aave_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench", name)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # the JVM, its Python workers and tempfile all write under the checkout;
    # workers import the program and perfbench from its root
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # import perfbench as a package from the checkout root, not its modules
    # from the script's own directory (trace.py would shadow the stdlib)
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]

    from perfbench import host, layers, workloads
    from perfbench.trace import (
        TracedTransport,
        Tracer,
        event_log_file,
        instrument,
        read_event_log,
    )

    traced = bool(args.trace)
    event_dir = os.path.join(work, "eventlog") if traced else None
    tracer = Tracer(name, enabled=traced, trace_dir=os.path.join(work, "trace"))
    if traced:
        os.makedirs(tracer.trace_dir)

    inputs_s = time.perf_counter()
    data_dir = os.path.join(work, "data")
    if args.workload == "datamart_queries":
        from perfbench.datagen import write_tables

        write_tables(args.seed, data_dir)
    inputs_s = time.perf_counter() - inputs_s

    from aave_etl_spark.session import get_spark

    cores = host.host_cpus()
    s0 = time.perf_counter()
    with tracer.span("session.start", jobs=False):
        spark = get_spark(
            app_name=f"perfbench-{name}",
            master=f"local[{cores}]",
            extra_conf=host.session_conf(work, event_dir),
        )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer.attach(spark)
        with tracer.span("session.warmup"):
            warm_up(spark)
        setup_s = time.perf_counter() - s0
        with instrument(tracer) if traced else contextlib.nullcontext():
            if args.workload == "datamart_queries":
                outcome = workloads.run_datamart_queries(spark, tracer, args.seconds, data_dir)
            else:
                wrap = (lambda fn, kind: TracedTransport(fn, kind, tracer)) if traced else None
                outcome = workloads.run_reference_day(
                    spark, tracer, args.seed, args.seconds, work, wrap
                )
        conditions = host.conditions(spark)
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        peak_rss = host.peak_rss_mb([os.getpid(), jvm_pid])
    finally:
        stop_s = time.perf_counter()
        stop_spark(spark)
        stop_s = time.perf_counter() - stop_s

    result = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "conditions": conditions,
        "phases_s": {"inputs": inputs_s, "setup": setup_s, "timed": outcome.timed_s,
                     "checks": outcome.checks_s, "stop": stop_s},
        "units": outcome.units,
        "ops": [vars(o) for o in outcome.ops],
        "errors": outcome.errors,
        "checks": outcome.checks,
        "error_rate": outcome.failed / max(outcome.attempted, 1),
    }
    for what, msg in {**outcome.errors,
                      **{k: v for k, v in outcome.checks.items() if v}}.items():
        print(f"FAILED {what}: {msg}", file=sys.stderr)
    results_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results_dir, exist_ok=True)
    if not outcome.units:  # nothing completed: no metric to report
        with open(os.path.join(results_dir, f"{name}.json"), "w") as fh:
            json.dump(result, fh, indent=1, default=str)
        return 1

    if traced:
        spans = tracer.dump(os.path.join(work, "spans.jsonl"))
        groups = read_event_log(event_log_file(event_dir))
        metrics = layers.layer_metrics(spans, groups, outcome, cores)
        units = layers.PER_LAYER
        untraced = os.path.join(results_dir, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["metrics"]["wall_s"]["value"]
            result["trace_overhead_s"] = metrics["trace.wall_s"] - base
    else:
        metrics = end_to_end(outcome, setup_s, peak_rss)
        units = END_TO_END
        result["op_tail_percentile"], result["op_count"] = (
            workloads.tail([o.seconds for o in outcome.ops])[1], len(outcome.ops))
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    with open(os.path.join(results_dir, f"{name}.json"), "w") as fh:
        json.dump(result, fh, indent=1, default=str)

    for k, v in result["metrics"].items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(f"error_rate = {result['error_rate']:.6g} ({outcome.failed} of {outcome.attempted})")
    if "trace_overhead_s" in result:
        print(f"trace_overhead_s = {result['trace_overhead_s']:.6g} s")
    print(json.dumps({
        "correct": not outcome.failed,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": result["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
