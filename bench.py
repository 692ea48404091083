#!/usr/bin/env python
"""Headline benchmark: runs the bench-tagged workload queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line with per-query wall seconds.

Each query is fully materialized via collect() (results are small by
construction — aggregates or limited top-k).  A warm-up run of q6 is
excluded so JVM/codegen startup doesn't pollute the numbers.

Statistical hygiene: every query is timed $SPARK_GRAFT_BENCH_N times
(default 3) in INTERLEAVED passes (pass 1 runs every query, then pass 2,
...) so an ambient VM load spike cannot hit all repeats of one query.
The reported per-query number and the headline total are MEDIANS; per-
query minima are kept in BENCH_DETAIL.json ("queries_min") as the
low-noise floor, and ALL raw per-pass samples in "queries_samples" so a
round-over-round delta can be attributed (drifting passes = process
aging / ambient load; tight passes at a new level = real change).  The
documented ±15% single-run VM variance made n=1 round-over-round deltas
unattributable (rounds 2/3 exhibit A).

ORDERING IS FIXED (round 10): queries run in ALPHABETICAL order, not
registry order.  The registry rotates every round for the correctness
window, so registry-ordered benching silently changed each query's
position — and its warm-up/neighbor context — every round; the round-9
kmeans-family "regression" (5.4 -> 9.1 s driver-to-driver, flat in every
isolated replay; the triage script is in git history) tracked exactly such a
rotation that moved the family from mid-pack to positions 5-12.  With
alphabetical order the per-query context is identical across rounds
regardless of rotation.  (r9 -> r10 deltas carry this one-time
reordering; r10+ deltas are clean.)

TIMEOUT SURVIVABILITY (round 15): the sf0.1 headline JSON line prints
IMMEDIATELY after the sf0.1 phase, before sf1 generation, so a driver
wall-budget kill during the sf1 phase still leaves a parseable record
(round 14's driver bench died at rc=124 with parsed:null because the
only parseable line printed after everything).  A clean run prints the
final combined headline (with sf1_* fields) as the true last line.

SCHEMA CATALOG (round 23): every query reads its tables through
``session.read_parquet``, whose per-session catalog caches METADATA
ONLY — one Parquet schema (a ``StructType``) per local path, never a
DataFrame, data or a result.  So a repeated pass still scans, shuffles
and computes everything; it skips only the Parquet footer-inference
job that defining each query paid per table read.  An entry is used
when the path's stamp — ``(st_ino, st_mtime_ns, st_size)`` of the
file, or of each file under a Spark-written directory — and the values
of the inference confs (``spark.sql.legacy.parquet.nanosAsLong``,
``parquet.binaryAsString``, ``parquet.int96AsTimestamp``,
``parquet.inferTimestampNTZ.enabled``, ``parquet.mergeSchema``,
``sources.partitionColumnTypeInference.enabled``) both match the
entry's; otherwise the read infers and replaces it.  The first pass
over a table therefore still pays the inference job.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dataclass_array_spark.core.table import release_pins
from dataclass_array_spark.session import get_spark
from dataclass_array_spark.workload import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BENCH_N = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_N", "3")))
# sf1 repeats: the sf1 line is SCALING EVIDENCE, not the record stat
# (the record is the sf0.1 median).  Default n=1: the round-14 driver
# bench TIMED OUT at rc=124 with n=3 (≈ 3×389s sf0.1 + 3×723s sf1 ≈
# 56 min) and produced NO record; n=1 cuts ~24 min and keeps the full
# run ≈ 33 min, inside the budget the r13 51-min run survived.  Set
# SPARK_GRAFT_SF1_N=3 for the interleaved-median mode when wall budget
# allows (builder closing runs).
SF1_N = max(0, int(os.environ.get("SPARK_GRAFT_SF1_N", "1")))


def _timed_passes(
    names: list[str], sf_dir: str, n: int
) -> tuple[dict[str, float], dict[str, float], dict[str, list[float]], dict[str, str]]:
    """Run each query n times in interleaved passes; return
    (median, min, samples, errors) seconds per query.  Each query is
    fault-isolated: one failure records an error entry for THAT query
    and never discards the others' timings (round 4 lost 101 good sf1
    numbers to a single all-or-nothing try/except)."""
    samples: dict[str, list[float]] = {name: [] for name in names}
    errors: dict[str, str] = {}
    for _rep in range(n):
        for name in names:
            if name in errors:
                continue  # failed once — don't burn passes re-failing
            t0 = time.perf_counter()
            try:
                rows = QUERIES[name].fn(_timed_passes.spark, sf_dir).collect()
                _ = len(rows)
            except Exception as e:
                errors[name] = f"{type(e).__name__}: {e}"[:500]
                release_pins()
                continue
            samples[name].append(time.perf_counter() - t0)
            # between queries (OUTSIDE the timed region — the timed
            # action and methodology are unchanged): drop the pinned
            # localCheckpoint blocks this query created.  Dead pinned
            # blocks otherwise pile up across the ~600 query invocations
            # of a full sweep until the periodic-GC ContextCleaner pass,
            # and were measured spiking alphabetically-late queries'
            # late passes (round-15 bench; see core/table.release_pins).
            release_pins()
    med = {k: round(statistics.median(v), 3) for k, v in samples.items() if v}
    mn = {k: round(min(v), 3) for k, v in samples.items() if v}
    raw = {k: [round(x, 3) for x in v] for k, v in samples.items() if v}
    return med, mn, raw, errors


def main() -> None:
    spark = get_spark("bench")
    _timed_passes.spark = spark
    # warm-up (excluded from timings): JVM JIT + codegen + parquet footer
    # reads, plus one mapInPandas query so the Python worker pool and
    # Arrow serde are spun up before anything is measured
    QUERIES["q6_forecast_revenue"].fn(spark, SF_DIR).collect()
    QUERIES["multimodal_decode"].fn(spark, SF_DIR).collect()
    release_pins()

    # alphabetical: rotation-independent ordering (see module docstring)
    bench_names = sorted(name for name, q in QUERIES.items() if q.bench)
    timings, timings_min, timings_raw, errors = _timed_passes(
        bench_names, SF_DIR, BENCH_N
    )
    total = sum(timings.values())
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Per-query timings go to a file + an EARLIER stdout line; the driver
    # tail-captures stdout and round 1 showed the full 74-query dict
    # overflows its capture window ("parsed": null).  The LAST stdout line
    # must be a short, self-contained headline JSON.
    detail = {
        "metric": "workload_total_wall_sec",
        "value": round(total, 3),
        "unit": "sec",
        "n_repeats": BENCH_N,
        "stat": "median",
        "queries": timings,
        "queries_min": timings_min,
        "queries_samples": timings_raw,
        "order": "alphabetical",
        "sf": sf_val,
    }
    if errors:
        detail["errors"] = errors
    # Print the sf0.1 headline NOW, before the sf1 phase: the round-14
    # driver bench was timeout-killed during sf1 and lost EVERYTHING
    # because the only parseable line printed at the very end.  With
    # this line out early, a tail-parse always finds a record even if
    # the sf1 phase never finishes; on a clean run the final combined
    # headline below supersedes it as the last line.
    headline = {
        "metric": "workload_total_wall_sec",
        "value": round(total, 3),
        "unit": "sec",
        "n_queries": len(timings),
        "n_repeats": BENCH_N,
        "stat": "median",
        "sf": sf_val,
    }
    # guarded: with timings == {} (every query errored) the record must
    # still print — an IndexError here would reproduce the parsed:null
    # failure this flow exists to prevent (round-15 review)
    if timings:
        headline["median_sec"] = round(
            sorted(timings.values())[len(timings) // 2], 3
        )
        headline["max_sec"] = round(max(timings.values()), 3)
    if errors:
        headline["n_errors"] = len(errors)
    print(json.dumps(headline), flush=True)
    # ---- optional sf1 pass (full catalog; SPARK_GRAFT_SF1=off to skip) ----
    if os.environ.get("SPARK_GRAFT_SF1", "auto") != "off" and SF1_N > 0:
        try:
            from tools.make_sf1 import ensure_sf1

            sf1_dir = ensure_sf1(spark)
            t1, t1_min, t1_raw, e1 = _timed_passes(bench_names, sf1_dir, SF1_N)
            detail["sf1"] = {
                "value": round(sum(t1.values()), 3),
                "n_queries": len(t1),
                "n_repeats": SF1_N,
                "queries": t1,
                "queries_min": t1_min,
                "queries_samples": t1_raw,
            }
            if e1:
                detail["sf1"]["errors"] = e1
        except Exception as e:  # generation failed; timings are per-query safe
            detail["sf1"] = {"error": f"{type(e).__name__}: {e}"}

    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"),
            "w",
        ) as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass
    print(json.dumps(detail))
    sf1_info = detail.get("sf1", {})
    if "value" in sf1_info:
        headline["sf1_total_sec"] = sf1_info["value"]
        headline["sf1_n_queries"] = sf1_info["n_queries"]
        headline["sf1_n_repeats"] = SF1_N
        if sf1_info.get("errors"):
            headline["sf1_n_errors"] = len(sf1_info["errors"])
    # final combined headline — LAST stdout line on a clean run
    print(json.dumps(headline), flush=True)


if __name__ == "__main__":
    main()
