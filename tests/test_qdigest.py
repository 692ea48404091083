"""q-digest rank sketch: error-bound, merge, and structure properties
(the deterministic greedy variant documented in operators/qdigest.py)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

BITS, K = 10, 32


def _prices(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    r = li.agg(
        F.min(F.col("l_extendedprice").cast("double")),
        F.max(F.col("l_extendedprice").cast("double")),
    ).collect()[0]
    return li, float(r[0]), float(r[1])


def test_qdigest_rank_error_bound(spark, sf_dir):
    """Estimated quantiles must be within the sketch's RANK guarantee:
    the estimate's rank is within bits·(n/k) + n(bucket) of the target
    (bucket mass is the value-discretization term, internal nodes the
    compression term)."""
    from dataclass_array_spark.operators.qdigest import (
        qdigest_build,
        qdigest_quantiles,
    )

    li, lo, hi = _prices(spark, sf_dir)
    vals = np.sort(
        np.array([r[0] for r in li.select("l_extendedprice").collect()], dtype=float)
    )
    n = len(vals)
    d = qdigest_build(li, [], "l_extendedprice", lo, hi, BITS, K)
    row = qdigest_quantiles(d, [], [0.5, 0.9, 0.99], lo, hi, BITS).collect()[0]
    assert row["n"] == n
    slack = BITS * (n // K) + math.ceil(n / (1 << BITS)) * 4 + 2
    for p, est in [(0.5, row["p50_est"]), (0.9, row["p90_est"]), (0.99, row["p99_est"])]:
        target = math.ceil(p * n)
        rank_le = int(np.searchsorted(vals, est, side="right"))
        assert abs(rank_le - target) <= slack, (p, est, rank_le, target, slack)


def test_qdigest_leaf_merge_equals_single_shot(spark, sf_dir):
    """The streaming contract: leaf histograms of two shards SUM-merge,
    one compression over the merged leaves == the single-shot digest,
    node-for-node."""
    from dataclass_array_spark.operators.qdigest import (
        _leaves,
        qdigest_build,
        qdigest_compress,
    )

    li, lo, hi = _prices(spark, sf_dir)
    half_a = li.filter(F.col("l_orderkey") % 2 == 0)
    half_b = li.filter(F.col("l_orderkey") % 2 == 1)
    merged_leaves = (
        _leaves(half_a, ["l_returnflag"], "l_extendedprice", lo, hi, 1 << BITS)
        .unionByName(
            _leaves(half_b, ["l_returnflag"], "l_extendedprice", lo, hi, 1 << BITS)
        )
        .groupBy("l_returnflag", "id")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    got = qdigest_compress(merged_leaves, ["l_returnflag"], BITS, K)
    want = qdigest_build(li, ["l_returnflag"], "l_extendedprice", lo, hi, BITS, K)
    key = lambda df: sorted(tuple(r) for r in df.collect())
    assert key(got) == key(want)


def test_qdigest_internal_nodes_bounded_and_counts_conserved(spark, sf_dir):
    """Every INTERNAL digest node (lvl > 0) was created by a collapse,
    so its count must be ≤ T = floor(n/k); total digest count must
    equal n exactly (no mass lost or duplicated)."""
    from dataclass_array_spark.operators.qdigest import qdigest_build

    li, lo, hi = _prices(spark, sf_dir)
    n = li.count()
    d = qdigest_build(li, [], "l_extendedprice", lo, hi, BITS, K).collect()
    assert sum(r["cnt"] for r in d) == n
    t = n // K
    bad = [r for r in d if r["lvl"] > 0 and r["cnt"] > t]
    assert not bad, bad[:5]
    # compression actually compresses: digest well under the leaf count
    n_leaf_buckets = li.select(
        F.least(
            F.lit((1 << BITS) - 1),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col("l_extendedprice").cast("double") - F.lit(lo))
                    * F.lit(float(1 << BITS))
                    / F.lit(hi - lo)
                ),
            ),
        ).alias("b")
    ).distinct().count()
    assert len(d) < n_leaf_buckets


def test_qdigest_validation_errors(spark):
    from dataclass_array_spark.operators.qdigest import (
        qdigest_build,
        qdigest_quantiles,
    )

    df = spark.range(10).select(F.col("id").cast("double").alias("v"))
    with pytest.raises(ValueError, match="hi > lo"):
        qdigest_build(df, [], "v", 5.0, 5.0)
    with pytest.raises(ValueError, match="bits"):
        qdigest_build(df, [], "v", 0.0, 1.0, bits=0)
    with pytest.raises(ValueError, match="k must"):
        qdigest_build(df, [], "v", 0.0, 1.0, k=0)
    d = qdigest_build(df, [], "v", 0.0, 10.0, bits=4, k=4)
    with pytest.raises(ValueError, match="colliding"):
        qdigest_quantiles(d, [], [0.5, 0.505], 0.0, 10.0, bits=4)


def test_qdigest_node_level_merge(spark, sf_dir):
    """Node-level merge of two shipped digests: counts conserved
    exactly, internal nodes ≤ 2·T_new, quantile estimates within the
    doubled rank bound."""
    from dataclass_array_spark.operators.qdigest import (
        qdigest_build,
        qdigest_merge,
        qdigest_quantiles,
    )

    li, lo, hi = _prices(spark, sf_dir)
    half_a = li.filter(F.col("l_orderkey") % 2 == 0)
    half_b = li.filter(F.col("l_orderkey") % 2 == 1)
    da = qdigest_build(half_a, [], "l_extendedprice", lo, hi, BITS, K)
    db = qdigest_build(half_b, [], "l_extendedprice", lo, hi, BITS, K)
    m = qdigest_merge([da, db], [], BITS, K)
    rows = m.collect()
    n = li.count()
    assert sum(r["cnt"] for r in rows) == n
    t = n // K
    bad = [r for r in rows if r["lvl"] > 0 and r["cnt"] > 2 * t]
    assert not bad, bad[:5]

    vals = np.sort(
        np.array([r[0] for r in li.select("l_extendedprice").collect()], dtype=float)
    )
    row = qdigest_quantiles(m, [], [0.5, 0.9], lo, hi, BITS).collect()[0]
    slack = 2 * BITS * t + math.ceil(n / (1 << BITS)) * 4 + 2
    for p, est in [(0.5, row["p50_est"]), (0.9, row["p90_est"])]:
        target = math.ceil(p * n)
        rank_le = int(np.searchsorted(vals, est, side="right"))
        assert abs(rank_le - target) <= slack, (p, est, rank_le, target, slack)


def test_qdigest_hypothesis_conservation_and_bound(spark):
    """Randomized value lists (heavy-tailed by construction): count
    conservation, internal-node ≤ T, and the rank guarantee — fuzzed."""
    from hypothesis import given, settings, strategies as st

    from dataclass_array_spark.operators.qdigest import (
        qdigest_build,
        qdigest_quantiles,
    )

    vals = st.lists(
        st.one_of(
            st.floats(min_value=0.0, max_value=10.0),
            st.floats(min_value=0.0, max_value=10000.0),
        ),
        min_size=3,
        max_size=120,
    )

    @settings(max_examples=6, deadline=None)
    @given(vals, st.integers(min_value=3, max_value=8),
           st.integers(min_value=2, max_value=16))
    def run(xs, bits, k):
        lo, hi = min(xs), max(xs)
        if not hi > lo:
            hi = lo + 1.0
        df = spark.createDataFrame([(float(x),) for x in xs], "v double")
        d = qdigest_build(df, [], "v", lo, hi, bits, k).collect()
        n = len(xs)
        assert sum(r["cnt"] for r in d) == n
        t = n // k
        assert not [r for r in d if r["lvl"] > 0 and r["cnt"] > t]
        dd = spark.createDataFrame(d)
        row = qdigest_quantiles(dd, [], [0.5], lo, hi, bits).collect()[0]
        est = row["p50_est"]
        srt = sorted(xs)
        target = math.ceil(0.5 * n)
        import bisect
        rank_le = bisect.bisect_right(srt, est)
        slack = bits * t + (n // (1 << bits) + 1) * 4 + 2
        assert abs(rank_le - target) <= slack, (xs[:5], bits, k, est, rank_le, target)

    run()
