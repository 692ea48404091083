"""In-memory spans for the traced benchmark run, and a summariser/diff
for the trace files it writes.

A span has a name, a layer, start and end (seconds, perf_counter), the
id of the span that caused it and the id of the op it belongs to; all
spans of one op share that op id.  Spans are recorded by the
benchmark around its calls into each layer, never inside the program.
A layer's self time is its spans' durations minus the time covered by
their child spans.

Usage:
    python3 perfbench/trace.py summary TRACE.json
    python3 perfbench/trace.py diff BASE.json NEW.json
"""

from __future__ import annotations

import argparse
import contextlib
import json
import statistics
import sys
import time
from collections import defaultdict
from typing import Dict, List, Optional


class Tracer:
    """Span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[dict] = []
        self._op = 0

    @contextlib.contextmanager
    def op(self, name: str):
        """Top-level span of one op, whose self time is the benchmark's
        own work (checking results, harvesting); spans opened inside share
        its op id."""
        self._op += 1
        with self.span(name, "bench") as s:
            yield s

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent,
            "op": self._op,
            "name": name,
            "layer": layer,
            "start": time.perf_counter(),
            "end": None,
            "attrs": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec["attrs"]
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()


def self_times(spans: List[dict]) -> Dict[int, float]:
    """Span id -> self time (duration minus time covered by children;
    children of one span never overlap, as spans are recorded on one
    thread)."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


def layer_self_time(trace: dict) -> Dict[str, float]:
    """Per-layer self time per traced pass."""
    n = max(1, trace.get("passes", 1))
    st = self_times(trace["spans"])
    out: Dict[str, float] = defaultdict(float)
    for s in trace["spans"]:
        out[s["layer"]] += st[s["id"]] / n
    return dict(out)


def op_breakdown(trace: dict) -> Dict[str, Dict[str, float]]:
    """Per top-level op name: median wall time of the op and of each of
    its child spans, over the traced passes, plus the median of every
    numeric attribute recorded on the op's spans."""
    by_id = {s["id"]: s for s in trace["spans"]}
    samples: Dict[str, Dict[str, List[float]]] = defaultdict(lambda: defaultdict(list))
    for s in trace["spans"]:
        root = s
        while root["parent"] is not None:
            root = by_id[root["parent"]]
        key = "total_s" if s is root else f"{s['name']}_s"
        rows = samples[root["name"]]
        rows[key].append(s["end"] - s["start"])
        for k, v in s["attrs"].items():
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                rows[k if s is root else f"{s['name']}.{k}"].append(v)
    return {
        op: {k: statistics.median(v) for k, v in cols.items()}
        for op, cols in samples.items()
    }


def _load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def summary(path: str, out=sys.stdout) -> None:
    t = _load(path)
    print(f"{path}: workload={t['workload']} seed={t['seed']} traced passes={t['passes']}", file=out)
    print("self time per layer, s per pass:", file=out)
    for layer, v in sorted(layer_self_time(t).items(), key=lambda kv: -kv[1]):
        print(f"  {layer:<12} {v:9.4f}", file=out)
    print("per op (medians over passes):", file=out)
    for op, cols in sorted(op_breakdown(t).items(), key=lambda kv: -kv[1]["total_s"]):
        rest = "  ".join(f"{k}={v:.4g}" for k, v in sorted(cols.items()) if k != "total_s")
        print(f"  {op:<34} total_s={cols['total_s']:.4f}  {rest}", file=out)


def diff(base: str, new: str, out=sys.stdout) -> None:
    a, b = layer_self_time(_load(base)), layer_self_time(_load(new))
    print(f"self time per layer, s per pass: {base} -> {new}", file=out)
    print(f"  {'layer':<12} {'base':>9} {'new':>9} {'delta':>9} {'new/base':>9}", file=out)
    for layer in sorted(set(a) | set(b), key=lambda k: -abs(b.get(k, 0) - a.get(k, 0))):
        x, y = a.get(layer, 0.0), b.get(layer, 0.0)
        ratio = f"{y / x:9.3f}" if x else f"{'-':>9}"
        print(f"  {layer:<12} {x:9.4f} {y:9.4f} {y - x:+9.4f} {ratio}", file=out)


def main(argv: Optional[List[str]] = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("summary")
    s.add_argument("trace")
    d = sub.add_parser("diff")
    d.add_argument("base")
    d.add_argument("new")
    args = p.parse_args(argv)
    if args.cmd == "summary":
        summary(args.trace)
    else:
        diff(args.base, args.new)
    return 0


if __name__ == "__main__":
    sys.exit(main())
