#!/usr/bin/env python
"""Capture .explain("formatted") for named queries into plans/<round>/.

Usage: python tools/capture_plans.py <round> before|after q1 q2 ...
  e.g. python tools/capture_plans.py r17 before q1 q18
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataclass_array_spark.session import get_spark
from dataclass_array_spark.workload import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


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
        n_ex = p.count("Exchange")
        print(f"{name}: {len(p)} bytes, Exchange x{n_ex}", flush=True)


if __name__ == "__main__":
    main()
