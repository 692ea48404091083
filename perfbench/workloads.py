"""The benchmark's workloads and the pass that runs each of them.

A pass runs every op of a workload once.  An op is a sequence of timed
pieces (a definition call into the program, then the action that
collects its result); the op's time is the sum of its pieces, from
each call to its collected result.  Checking the result against the
oracle, releasing pins and harvesting Spark metrics happen outside
the timed pieces.

Gate workloads run registry gates on a seeded copy of the bundled
sf0.01 snapshot, in a seeded order per pass, and check each result
against the gate's DuckDB oracle on the same copy.  ``dca_arrays``
runs the paper's own surface (construct, save/load, shape ops, the
three vectorize tiers, numpy egress) on seeded arrays and checks it
against numpy.
"""

from __future__ import annotations

import contextlib
import os
import random
import statistics
import sys
import time
import traceback
import warnings
from collections import defaultdict
from typing import Callable, Dict, List, Optional

import numpy as np
from pyspark.sql import functions as F

import dataclass_array_spark as das
from dataclass_array_spark.core.schema import f32
from dataclass_array_spark.core.table import ROWID, release_pins
from dataclass_array_spark.workload import QUERIES

from perfbench import inputs, oracle
from perfbench.harvest import SparkHarvest
from perfbench.trace import Tracer

# relational gates (time in the final action, no Python workers), one
# LLM-pipeline gate whose time is driver-side definition (BPE merge
# loop), and one stateful streaming gate whose micro-batches, with a
# Python state function, run inside its definition
GATES: Dict[str, List[str]] = {
    "gates": [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q18_large_orders",
        "window_running_total",
        "bpe_train_docs",
        "streaming_user_totals_stateful",
    ],
}
WORKLOADS = ("gates", "dca_arrays")

DCA_SHAPE = (128, 64)
DCA_ROWS = DCA_SHAPE[0] * DCA_SHAPE[1]
PER_ROW_ROWS = 256
# tolerance for the Catalyst-tier matmul, fixed from the float32 inputs
# (Spark folds the dot products in double, numpy in float32)
MATMUL_RTOL, MATMUL_ATOL = 1e-5, 1e-5


@das.dataclass_array(broadcast=True, cast_dtype=True)
class Point(das.DcaTable):
    pos: f32["*b 3"]

    @das.vectorize_method
    def spaced(self):
        # elementwise, so it broadcasts over a batch axis; np.spacing
        # has no Catalyst mapping, so it runs in the numpy-batch tier
        d = np.asarray(self.pos)
        return {"s": (np.spacing(d) + d * 2.0).astype(np.float32)}

    @das.vectorize_method
    def norm2(self):
        # np.dot of two (B, 3) batches raises, so it runs per row
        d = np.asarray(self.pos)
        return {"n2": float(np.dot(d, d) + 0.0 * np.spacing(d).sum())}


@das.dataclass_array(broadcast=True, cast_dtype=True)
class Particle(Point):
    rot: f32["*b 3 3"]

    @das.vectorize_method
    def rotated(self):
        # numpy-style matmul traces to one Catalyst select
        return {"p": np.asarray(self.rot) @ np.asarray(self.pos)}


def shape_chain(t, mask, gather, stack, concat):
    """reshape -> einops -> slice -> concat -> stack -> mask -> gather ->
    broadcast.  ``t`` is a DcaTable, or a numpy field (whose inner dims
    ride along) with ``np.stack``/``np.concatenate``."""
    table = hasattr(t, "df")
    inner = () if table else t.shape[1:]
    t2 = t.reshape(DCA_SHAPE + inner)
    e = t2.reshape("a b -> b a") if table else t2.swapaxes(0, 1)
    c = concat([e[::2, 16:112], e[1::2, 16:112]])
    half = c.shape[0] // 2
    f = stack([c[:half], c[half:]]).reshape((c.shape[0], c.shape[1]) + inner)
    g = f[mask][gather][:, 5:6]
    shape = (len(gather), 8)
    return g.broadcast_to(shape) if table else np.broadcast_to(g, shape + inner)


class Pass:
    """Timers, counters and spans of one pass."""

    def __init__(self, tracer: Tracer, harvest: Optional[SparkHarvest]):
        self.tracer = tracer
        self.harvest = harvest
        self.parts: Dict[str, float] = defaultdict(float)
        self.op_seconds: Dict[str, float] = {}
        self.failures: Dict[str, str] = {}
        self.attempted = 0
        self._op_time = 0.0

    @property
    def seconds(self) -> float:
        return sum(self.op_seconds.values())

    @contextlib.contextmanager
    def op(self, name: str):
        """One op: records its time, and counts an exception (a wrong
        result raises ``WrongResult``) as the op's failure."""
        self.attempted += 1
        self._op_time = 0.0
        with self.tracer.op(name):
            try:
                yield
            except Exception as e:  # an op failure is a result, not a crash
                traceback.print_exc(file=sys.stderr)
                lines = f"{type(e).__name__}: {e}".splitlines()
                self.failures[name] = lines[0][:300] if lines else type(e).__name__
            finally:
                self.op_seconds[name] = self._op_time
                self._release()

    def piece(self, name: str, layer: str, key: str, fn: Callable, phase: str = "def"):
        """Time ``fn()`` as part of the current op.  In a traced pass the
        Spark work it started is harvested into the pass counters, after
        its span closes so harvesting counts as benchmark time; ``phase``
        is ``def`` for a call into the program and ``act`` for the action
        that collects its result."""
        mark = self.harvest.mark() if self.harvest else None
        try:
            with self.tracer.span(name, layer) as attrs:
                t0 = time.perf_counter()
                try:
                    return fn()
                finally:
                    dt = time.perf_counter() - t0
                    self._op_time += dt
                    self.parts[key] += dt
        finally:
            if mark is not None:
                self._harvest(mark, attrs, phase)

    def _harvest(self, mark, attrs: dict, phase: str) -> None:
        m = self.harvest.spark_metrics(mark, self.harvest.mark())
        attrs.update(m)
        jobs = m.pop("action.jobs")
        if phase == "act":
            self.parts["action.jobs"] += jobs
        else:
            self.parts["workload.def_jobs"] += jobs
            m.pop("action.stages")
            m.pop("action.tasks")
        for k, v in m.items():
            self.parts[k] += v

    def _release(self) -> None:
        """Drop the op's pins, outside the timed pieces, and count them."""
        with self.tracer.span("release", "core") as attrs:
            if self.harvest:
                self.harvest.drain()
                attrs["pinned_bytes"] = self.harvest.pinned_bytes()
                self.parts["core.pinned_bytes"] += attrs["pinned_bytes"]
            t0 = time.perf_counter()
            n = release_pins()
            self.parts["core.release_s"] += time.perf_counter() - t0
            self.parts["core.pins_released"] += n
            attrs["pins_released"] = n


class WrongResult(AssertionError):
    pass


def check(errors: List[str]) -> None:
    if errors:
        raise WrongResult("; ".join(errors)[:300])


def field_errors(got: Dict[str, np.ndarray], want: Dict[str, np.ndarray]) -> List[str]:
    """Fields whose shape or values differ (exactly) from numpy's."""
    return [
        f"{k}: {got[k].shape} vs numpy {w.shape} or values differ"
        for k, w in want.items()
        if got[k].shape != w.shape or not np.array_equal(got[k], w)
    ]


class Workload:
    """Seeded inputs plus the pass of one workload."""

    def __init__(self, spark, name: str, seed: int, work_dir: str):
        self.spark = spark
        self.name = name
        self.seed = seed
        self.work_dir = work_dir
        self._order_rng = random.Random(seed)

    # ---------------- set-up ----------------

    def setup(self) -> None:
        """Derive this seed's inputs and the answers results are checked
        against.  Repeatable: each call rebuilds everything."""
        if self.name == "dca_arrays":
            self._setup_arrays()
            return
        self.sf_dir = os.path.join(self.work_dir, "input")
        self.table_rows = inputs.derive_tables(self.seed, self.sf_dir)
        gates = GATES[self.name]
        self.answers = oracle.oracle_answers(
            self.sf_dir, inputs.TABLES, {g: QUERIES[g].oracle for g in gates}
        )

    def _setup_arrays(self) -> None:
        a = inputs.dca_arrays(self.seed, DCA_ROWS)
        self.arrays = a
        chain = {
            k: shape_chain(a[k], a["mask"], a["gather"], np.stack, np.concatenate)
            for k in ("pos", "rot")
        }
        self.expect = {
            "shape_chain": chain,
            "rotated": np.einsum("nij,nj->ni", a["rot"].astype(np.float64), a["pos"].astype(np.float64)),
            "spaced": (np.spacing(a["pos"]) + a["pos"] * 2.0).astype(np.float32),
            "norm2": np.array([float(np.dot(d, d)) for d in a["pos"][:PER_ROW_ROWS]]),
        }

    def next_order(self) -> List[str]:
        """Gate order of the next pass (seeded; one draw per pass)."""
        order = list(GATES[self.name])
        self._order_rng.shuffle(order)
        return order

    # ---------------- passes ----------------

    def run_pass(self, tracer: Tracer, harvest: Optional[SparkHarvest] = None) -> Pass:
        p = Pass(tracer, harvest)
        if self.name == "dca_arrays":
            self._dca_pass(p)
        else:
            for gate in self.next_order():
                self._gate(p, gate)
        return p

    def _gate(self, p: Pass, name: str) -> None:
        q = QUERIES[name]
        layer = "streaming" if name.startswith("streaming_") else "workload"
        with p.op(name):
            df = p.piece("def", layer, "workload.def_s", lambda: q.fn(self.spark, self.sf_dir))
            got = p.piece("act", "action", "action.collect_s", df.toPandas, phase="act")
            check(oracle.mismatches(got, self.answers[name]))

    def _dca_pass(self, p: Pass) -> None:
        a, e = self.arrays, self.expect
        spark = self.spark
        path = os.path.join(self.work_dir, "particles")
        state = {}

        with p.op("construct"):
            t = p.piece("construct", "core", "core.construct_s",
                        lambda: Particle(spark, pos=a["pos"], rot=a["rot"]))
            n = p.piece("count", "action", "action.collect_s", t.df.count, phase="act")
            check([] if n == DCA_ROWS else [f"count {n} != {DCA_ROWS}"])
            state["built"] = t
        with p.op("save"):
            p.piece("save", "core", "core.save_s", lambda: state["built"].save(path))
        with p.op("load"):
            t = p.piece("load", "core", "core.load_s", lambda: Particle.load(spark, path))
            n = p.piece("count", "action", "action.collect_s", t.df.count, phase="act")
            check([] if n == DCA_ROWS and t.shape == (DCA_ROWS,) else [f"loaded {t.shape}, {n} rows"])
            state["t"] = t

        with p.op("shape_chain"):
            def run():
                r = shape_chain(state["t"], a["mask"], a["gather"], das.stack, das.concat)
                return r, r.to_numpy_fields()
            r, got = p.piece("shape_chain", "core", "core.shape_ops_s", run)
            want = e["shape_chain"]
            errs = [] if r.shape == want["pos"].shape[:-1] else [f"batch shape {r.shape}"]
            check(errs + field_errors(got, want))

        def vec_op(name: str, call: Callable, field: str, compare: Callable) -> None:
            with p.op(name):
                with warnings.catch_warnings(record=True) as caught:
                    warnings.simplefilter("always", das.VectorizeFallbackWarning)
                    res = p.piece("call", "vectorize", "vectorize.call_s", call)
                p.parts["vectorize.fallbacks"] += sum(
                    issubclass(w.category, das.VectorizeFallbackWarning) for w in caught
                )
                p.piece(
                    "count", "action", "vectorize.action_s",
                    lambda: res.df.agg(F.sum(F.xxhash64(ROWID, field))).collect(),
                    phase="act",
                )
                if p.harvest:
                    plan = res.df._jdf.queryExecution().optimizedPlan().toString()
                    p.parts["vectorize.arrow_calls"] += "MapInPandas" in plan
                pdf = res.df.toPandas().sort_values(ROWID)
                check(compare(np.array(pdf[field].tolist())))

        def close(want, rtol=0.0, atol=0.0):
            def cmp(got):
                ok = got.shape == want.shape and np.allclose(got, want, rtol=rtol, atol=atol)
                return [] if ok else [f"result {got.shape} differs from numpy {want.shape}"]
            return cmp

        def points():
            return Point.from_df(state["t"].df.select(ROWID, "pos"), shape=state["t"].shape)

        vec_op("vectorize_catalyst", lambda: state["t"].rotated(), "p",
               close(e["rotated"], MATMUL_RTOL, MATMUL_ATOL))
        vec_op("vectorize_numpy_batch", lambda: points().spaced(), "s", close(e["spaced"]))
        vec_op("vectorize_per_row", lambda: points()[:PER_ROW_ROWS].norm2(), "n2", close(e["norm2"]))

        with p.op("to_numpy"):
            got = p.piece("to_numpy", "core", "core.to_numpy_s", lambda: state["t"].to_numpy_fields())
            check(field_errors(got, {k: a[k] for k in ("pos", "rot")}))


VECTORIZE_OPS = ("vectorize_catalyst", "vectorize_numpy_batch", "vectorize_per_row")


def derived_metrics(workload: str, passes: List[Pass]) -> Dict[str, float]:
    """Workload-specific rates from a run's passes (medians over passes)."""
    def med(fn):
        return statistics.median(fn(p) for p in passes)

    out = {}
    if workload == "dca_arrays":
        out["ingest_rows_per_s"] = DCA_ROWS / med(lambda p: p.op_seconds["construct"])
        out["egress_rows_per_s"] = DCA_ROWS / med(lambda p: p.op_seconds["to_numpy"])
        out["vectorize_s"] = statistics.median(
            p.op_seconds[o] for p in passes for o in VECTORIZE_OPS
        )
    if workload == "gates":
        # micro-batch throughput: input rows over trigger execution time
        out["stream_rows_per_s"] = med(
            lambda p: p.parts["stream.input_rows"] / (p.parts["stream.trigger_ms"] / 1e3)
        )
    return out
