"""Seeded benchmark inputs.

Everything a run feeds the program comes from ``--seed`` through this
module, so the same seed gives byte-identical inputs and op order, and
a different seed gives different ones:

- ``derive_tables``: a copy of the bundled sf0.01 snapshot, one parquet
  file per table, with every table's rows in a seeded permutation.
  Row order must not change any gate's answer; a gate whose result
  does is a defect and is counted as a failed op.
- ``dca_arrays``: the numpy fields of the ``dca_arrays`` workload.
"""

from __future__ import annotations

import os
import shutil
from typing import Dict

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
SNAPSHOT = os.path.join(HERE, "data", "sf0.01")
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _table_seed(seed: int, name: str) -> int:
    # stable across processes (str hash is salted per process)
    return (seed * 1_000_003 + sum(ord(c) * 31**i for i, c in enumerate(name))) % 2**32


def derive_tables(seed: int, out_dir: str) -> Dict[str, int]:
    """Write the seeded row permutation of every snapshot table to
    ``out_dir/<table>.parquet``; returns rows per table."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    rows = {}
    for name in TABLES:
        t = pq.read_table(os.path.join(SNAPSHOT, f"{name}.parquet"))
        perm = np.random.default_rng(_table_seed(seed, name)).permutation(t.num_rows)
        pq.write_table(t.take(perm), os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows


def dca_arrays(seed: int, n: int) -> Dict[str, np.ndarray]:
    """Seeded fields of the ``dca_arrays`` workload: ``n`` rows of a
    float32 3-vector and a float32 3x3 matrix, plus the boolean mask
    (32 of 64 set) and gather indices its shape chain uses."""
    rng = np.random.default_rng(seed)
    mask = np.zeros(64, dtype=bool)
    mask[rng.permutation(64)[:32]] = True
    return {
        "pos": rng.standard_normal((n, 3)).astype(np.float32),
        "rot": rng.standard_normal((n, 3, 3)).astype(np.float32),
        "mask": mask,
        "gather": rng.integers(0, 32, size=24),
    }
