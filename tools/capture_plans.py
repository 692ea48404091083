#!/usr/bin/env python
"""Capture .explain("formatted") for named queries into plans/<round>/
and print one line per query: plan size, Exchange count, the count of
each join strategy (so a before/after pair compares join shapes from
the summary alone), the Union and Generate counts (how many frames a
plan concatenates and how many explodes it runs), and the plan
properties that matter at scale (parquet filter pushdown, broadcast
joins, WindowGroupLimit, AQE).

Usage: python tools/capture_plans.py <round> before|after q1 q2 ...
  e.g. python tools/capture_plans.py r17 before q1 q18
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataclass_array_spark.session import get_spark
from dataclass_array_spark.workload import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

CHECKS = {
    "pushed_filters": "PushedFilters: [",
    "broadcast_join": "BroadcastHashJoin",
    "window_group_limit": "WindowGroupLimit",
    "aqe": "AdaptiveSparkPlan",
}


JOINS = ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin")


def node_count(p: str, node: str) -> int:
    """Physical-plan nodes named ``node`` in formatted plan text ``p``
    (one per numbered operator line, so a repeated name in a node's
    details is not counted twice)."""
    return len(re.findall(rf"^\(\d+\) {node}\b", p, re.M))


def properties(p: str) -> "list[str]":
    """Names of the CHECKS found in plan text ``p``; pushdown reads
    ``pushed_filters(+)`` when some scan pushes a non-empty list."""
    hits = [k for k, pat in CHECKS.items() if pat in p]
    if "PushedFilters: []" not in p and "PushedFilters: [" in p:
        hits = [h if h != "pushed_filters" else "pushed_filters(+)" for h in hits]
    return hits


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        sys.exit(__doc__)
    out_dir = os.path.join("plans", sys.argv[1])
    tag = sys.argv[2]
    names = sys.argv[3:]
    spark = get_spark("plans")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            df = QUERIES[name].fn(spark, SF_DIR)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            p = buf.getvalue()
        except Exception as e:
            p = f"ERROR: {type(e).__name__}: {e}"
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(p)
        joins = "".join(f"{j} x{node_count(p, j)}, " for j in JOINS + ("Union", "Generate"))
        print(
            f"{name}: {len(p)} bytes, Exchange x{node_count(p, 'Exchange')}, "
            f"{joins}{', '.join(properties(p))}",
            flush=True,
        )


if __name__ == "__main__":
    main()
