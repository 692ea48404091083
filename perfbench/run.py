#!/usr/bin/env python3
"""Seeded, layer-attributed benchmark of dataclass_array_spark.

    python3 perfbench/run.py --workload gates --seed 1 --seconds 14 --trace 0

Runs one workload (gates, dca_arrays; see ``perfbench/README.md``) in
one process with a ``local[<cores>]`` session on half the CPUs it may
run on, and prints as its last stdout line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``:

- ``--trace 0``: end-to-end metrics.  ``setup_s`` is session start,
  plus the median of three set-ups of the seeded input and the answers
  results are checked against, plus two untimed warm passes (the
  first pass after the cold one is still 10-20% slow);
  ``pass_s`` is the time of one pass over the passes run in
  ``--seconds``: the sum over ops of each op's median time;
  ``peak_rss_mb`` is the peak RSS of the driver Python plus the JVM.
- ``--trace 1``: per-layer metrics, medians over traced passes, with
  untraced passes interleaved so ``trace.overhead_ratio`` (traced over
  untraced pass time) is measured in the same process; with one pass of
  each it also carries the warm-up drift between them.  The spans go to
  ``.perfbench/traces/<workload>-seed<seed>.json``; summarise or diff
  them with ``perfbench/trace.py``.

Every op's result is checked in every pass (oracle or numpy); an op
that raises or returns a wrong result counts in ``failed``, and
``failed / attempted`` is the run's fail ratio.  Everything the run
writes stays under ``.perfbench/`` in the checkout.
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
WORK = os.path.join(ROOT, ".perfbench")
SETUP_REPEATS = 3
WARM_PASSES = 2
DRIVER_MEM = "1g"


def _isolate_environment(work: str) -> None:
    """Keep Spark, its Python workers and temp files inside the checkout,
    and let the workers import the package from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")
    # a fixed, pre-touched heap: with a growable one the JVM's peak RSS
    # depended on when G1 chose to expand, not on the work.  No
    # hsperfdata file either: the JVM would write it outside the checkout.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    java_opts = f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{java_opts}" '
        f"--conf spark.local.dir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell"
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _pin_cpus() -> int:
    """Restrict this process, and the JVM and Python workers it starts,
    to the first half of the CPUs it may run on; returns how many.

    On a few virtual CPUs of a shared host, a run that kept every CPU
    busy measured the host's other tenants: in paired runs of
    ``dca_arrays`` on a 4-vCPU VM its pass time spread 0.56 (quartile
    distance over median, 6 seeds) against 0.13 on half the CPUs."""
    cpus = sorted(os.sched_getaffinity(0))
    keep = cpus[: max(1, len(cpus) // 2)]
    os.sched_setaffinity(0, keep)
    return len(keep)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def pass_seconds(passes) -> float:
    """Time of one pass: the sum over ops of each op's median time across
    the passes (a spike in one op of one pass does not move it)."""
    ops = passes[0].op_seconds
    return sum(statistics.median(p.op_seconds[op] for p in passes) for op in ops)


def measure(workload, seconds: float, trace: bool, trace_path: str):
    """Run passes for ``seconds``; returns (metrics, attempted, failed)."""
    from perfbench import harvest, workloads
    from perfbench.trace import Tracer

    spark = workload.spark
    off = Tracer(False)
    passes_off, passes_on = [], []
    tracer = Tracer(True)
    probe = listener = None
    if trace:
        probe = harvest.SparkHarvest(spark)
        listener = harvest.StreamProgress()
        spark.streams.addListener(listener)
    start = time.perf_counter()
    while True:
        if trace and len(passes_on) < len(passes_off):
            since = len(listener.batches)
            p = workload.run_pass(tracer, probe)
            probe.drain()
            p.parts.update(listener.summarize(since))
            passes_on.append(p)
        else:
            passes_off.append(workload.run_pass(off))
        done = time.perf_counter() - start >= seconds
        if done and (not trace or passes_on):
            break
    every = passes_off + passes_on
    attempted = sum(p.attempted for p in every)
    failed = sum(len(p.failures) for p in every)
    for i, p in enumerate(every):
        for op, msg in p.failures.items():
            print(f"FAILED pass {i} {op}: {msg}", file=sys.stderr)
    pass_s = pass_seconds(passes_off)
    print(f"passes {[round(p.seconds, 3) for p in every]}s", file=sys.stderr)
    for op in every[0].op_seconds:
        print(f"  {op:<34} {[round(p.op_seconds.get(op, 0.0), 3) for p in every]}s", file=sys.stderr)
    if not trace:
        return {"pass_s": pass_s}, attempted, failed

    spark.streams.removeListener(listener)
    # every layer metric is reported; a layer the workload never enters
    # reads 0 (no vectorize calls on gates, no micro-batches on dca_arrays)
    metrics = {m: 0.0 for m in metric_units("per_layer")}
    keys = {k for p in passes_on for k in p.parts}
    metrics.update({k: statistics.median(p.parts.get(k, 0.0) for p in passes_on) for k in keys})
    cores = spark.sparkContext.defaultParallelism
    traced_s = pass_seconds(passes_on)
    metrics["executor.busy_share"] = metrics["executor.run_s"] / (traced_s * cores)
    metrics["trace.overhead_ratio"] = traced_s / pass_s
    metrics.update(workloads.derived_metrics(workload.name, passes_on))
    os.makedirs(os.path.dirname(trace_path), exist_ok=True)
    with open(trace_path, "w") as f:
        json.dump(
            {
                "workload": workload.name,
                "seed": workload.seed,
                "passes": len(passes_on),
                "spans": tracer.spans,
                "metrics": metrics,
            },
            f,
        )
    return metrics, attempted, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="dataclass_array_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _isolate_environment(WORK)
    from dataclass_array_spark.session import get_spark
    from perfbench import harvest, workloads
    from perfbench.trace import Tracer

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(workloads.WORKLOADS)}")
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=str(_pin_cpus()))
    session_s = time.perf_counter() - t0
    try:
        w = workloads.Workload(spark, args.workload, args.seed, work)
        setups = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            w.setup()
            setups.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        warm = [w.run_pass(Tracer(False)) for _ in range(WARM_PASSES)]
        warm_s = time.perf_counter() - t0
        print(
            f"session {session_s:.2f}s, set-ups {[round(x, 2) for x in setups]}s, "
            f"warm passes {[round(p.seconds, 2) for p in warm]}s",
            file=sys.stderr,
        )
        trace_path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        metrics, attempted, failed = measure(w, args.seconds, bool(args.trace), trace_path)
        for p in warm:
            attempted += p.attempted
            failed += len(p.failures)
            for op, msg in p.failures.items():
                print(f"FAILED warm pass {op}: {msg}", file=sys.stderr)
        if args.trace:
            metrics["session.start_s"] = session_s
        else:
            metrics["setup_s"] = session_s + statistics.median(setups) + warm_s
            metrics["peak_rss_mb"] = harvest.peak_rss_mb(
                [os.getpid(), harvest.SparkHarvest(spark).jvm_pid()]
            )
    finally:
        _stop(spark)

    units = metric_units("per_layer" if args.trace else "end_to_end")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in sorted(metrics.items())},
    }
    print(json.dumps(result), flush=True)
    return 0


def metric_units(group: str):
    """Metric name -> unit for one group of BENCHMARK.json (the file
    that declares every metric this runner prints)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[group]}


if __name__ == "__main__":
    sys.exit(main())
