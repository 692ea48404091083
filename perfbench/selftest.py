#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the program).

    python3 perfbench/selftest.py

Checks that
- the same seed gives identical inputs and op order, and another seed
  gives different ones;
- a deliberately corrupted gate result is counted as a failed op, so
  it raises the fail ratio;
- each Spark harvest helper reads the right figures for one known gate
  (stage metrics on q1, Python-worker metrics on multimodal_frames,
  the streaming listener on streaming_tumbling_hourly);
- the trace summariser computes self time and per-op breakdowns;
- every metric the runner prints, traced and untraced, is declared in
  BENCHMARK.json, and every declared metric is printed.

Exits 0 when every check passes.
"""

from __future__ import annotations

import dataclasses
import json
import math
import os
import subprocess
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402


def check_seeded_inputs(tmp: str) -> None:
    import filecmp

    from perfbench import inputs, workloads

    a, b, c = (os.path.join(tmp, d) for d in ("a", "b", "c"))
    inputs.derive_tables(1, a)
    inputs.derive_tables(1, b)
    inputs.derive_tables(2, c)
    for t in inputs.TABLES:
        f = f"{t}.parquet"
        assert filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False), t
    assert not filecmp.cmp(
        os.path.join(a, "lineitem.parquet"), os.path.join(c, "lineitem.parquet"), shallow=False
    )
    orders = {}
    for seed in (1, 1, 2):
        w = workloads.Workload(None, "gates", seed, tmp)
        orders.setdefault(seed, []).append([w.next_order() for _ in range(4)])
    assert orders[1][0] == orders[1][1]
    assert orders[1][0] != orders[2][0]
    x, y, z = (inputs.dca_arrays(s, 64 * 128) for s in (1, 1, 2))
    assert all(x[k].tobytes() == y[k].tobytes() for k in x)
    assert x["pos"].tobytes() != z["pos"].tobytes()


def check_trace_summary(tmp: str) -> None:
    from perfbench import trace

    t = trace.Tracer(True)
    for _ in range(2):
        with t.op("g"):
            with t.span("def", "workload"):
                pass
            with t.span("act", "action") as attrs:
                attrs["jobs"] = 3
    st = trace.self_times(t.spans)
    op = t.spans[0]
    children = [s for s in t.spans if s["parent"] == op["id"]]
    assert len(children) == 2 and all(s["op"] == op["op"] for s in children)
    want = (op["end"] - op["start"]) - sum(s["end"] - s["start"] for s in children)
    assert abs(st[op["id"]] - want) < 1e-12
    doc = {"workload": "x", "seed": 0, "passes": 2, "spans": t.spans}
    layers = trace.layer_self_time(doc)
    assert set(layers) == {"bench", "workload", "action"}
    assert trace.op_breakdown(doc)["g"]["act.jobs"] == 3
    path = os.path.join(tmp, "t.json")
    with open(path, "w") as f:
        json.dump(doc, f)
    import io

    out = io.StringIO()
    trace.diff(path, path, out=out)
    assert "workload" in out.getvalue()


def check_sql_metric_parser() -> None:
    from perfbench.harvest import parse_sql_metric

    assert parse_sql_metric("0.0 B", "size") == 0
    assert parse_sql_metric("2.0 KiB", "size") == 2048
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n1.5 s (1 ms, 2 ms, 3 ms (stage 1.0: task 2))", "time") == 1.5
    assert math.isclose(parse_sql_metric("235 ms", "time"), 0.235)


def check_with_spark(tmp: str) -> None:
    """Corrupted result -> failed op; harvest helpers on known gates."""
    from pyspark.sql import functions as F

    from dataclass_array_spark.session import get_spark
    from dataclass_array_spark.workload import QUERIES
    from perfbench import harvest, workloads
    from perfbench.trace import Tracer

    spark = get_spark("perfbench-selftest", cpus="2")
    try:
        w = workloads.Workload(spark, "gates", 7, tmp)
        w.setup()
        p = workloads.Pass(Tracer(False), None)
        w._gate(p, "q1_pricing_summary")
        assert not p.failures, p.failures

        good = QUERIES["q1_pricing_summary"]
        QUERIES["q1_pricing_summary"] = dataclasses.replace(
            good, fn=lambda s, d: good.fn(s, d).withColumn("count_order", F.col("count_order") + 1)
        )
        try:
            p = w.run_pass(Tracer(False))
        finally:
            QUERIES["q1_pricing_summary"] = good
        assert list(p.failures) == ["q1_pricing_summary"], p.failures
        assert len(p.failures) / p.attempted > 0

        probe = harvest.SparkHarvest(spark)
        m0 = probe.mark()
        rows = w.answers["q1_pricing_summary"]
        assert len(good.fn(spark, w.sf_dir).toPandas()) == len(rows)
        m = probe.spark_metrics(m0, probe.mark())
        assert m["action.jobs"] >= 1 and m["action.tasks"] >= 1
        assert m["scan.input_rows"] == w.table_rows["lineitem"], m
        assert m["executor.run_s"] > 0 and m["arrow.sent_bytes"] == 0

        m0 = probe.mark()
        QUERIES["multimodal_frames"].fn(spark, w.sf_dir).toPandas()
        m = probe.spark_metrics(m0, probe.mark())
        assert m["arrow.sent_bytes"] > 0 and m["arrow.returned_bytes"] > 0, m
        assert m["arrow.python_run_s"] > 0, m

        listener = harvest.StreamProgress()
        spark.streams.addListener(listener)
        try:
            got = QUERIES["streaming_tumbling_hourly"].fn(spark, w.sf_dir).toPandas()
            probe.drain()
        finally:
            spark.streams.removeListener(listener)
        s = listener.summarize(0)
        assert s["stream.batches"] == 1, s
        assert s["stream.input_rows"] == w.table_rows["events"], s
        assert s["stream.state_rows"] == len(got), (s, len(got))
        assert s["stream.trigger_ms"] >= s["stream.add_batch_ms"] > 0, s

        pids = [os.getpid(), probe.jvm_pid()]
        assert harvest.peak_rss_mb(pids) > harvest.peak_rss_mb(pids[:1]) > 0
    finally:
        spark.stop()


def check_metric_names() -> None:
    """One short run per mode: printed names == declared names."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for trace, group in ((0, "end_to_end"), (1, "per_layer")):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "gates",
             "--seed", "3", "--seconds", "1", "--trace", str(trace)],
            capture_output=True, text=True, timeout=300, cwd=ROOT,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        result = json.loads(out.stdout.strip().splitlines()[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        declared = {m["name"]: m["unit"] for m in spec[group]}
        printed = {k: v["unit"] for k, v in result["metrics"].items()}
        assert printed == declared, set(printed) ^ set(declared)


def main() -> int:
    run._isolate_environment(run.WORK)
    failures = 0
    with tempfile.TemporaryDirectory(dir=os.environ["TMPDIR"]) as tmp:
        checks = [
            ("seeded inputs and order", lambda: check_seeded_inputs(tmp)),
            ("trace summary", lambda: check_trace_summary(tmp)),
            ("SQL metric parser", check_sql_metric_parser),
            ("corrupted result and harvest helpers", lambda: check_with_spark(tmp)),
            ("metric names", check_metric_names),
        ]
        for name, fn in checks:
            try:
                fn()
                print(f"ok    {name}")
            except Exception:
                failures += 1
                print(f"FAIL  {name}")
                traceback.print_exc()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
