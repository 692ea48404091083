"""Exact Mann-Whitney AUC (round 14): three-way differential (Spark ≡
DuckDB CTE mirror ≡ explicit pairwise counting) plus the boundary
values and the undefined-AUC loud failure."""

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from dataclass_array_spark.operators.metrics import auc_exact, sql_auc_ctes


def _pairwise_u2(rows):
    pos = [s for _, y, s in rows if y == 1]
    neg = [s for _, y, s in rows if y == 0]
    u2 = sum(
        2 if p > n else (1 if p == n else 0) for p in pos for n in neg
    )
    return len(pos), len(neg), u2


def test_auc_three_way_with_ties(spark):
    random.seed(11)
    rows = [
        (i, random.randint(0, 1),
         float(random.choice([0.1, 0.2, 0.2, 0.3, 0.5, 0.5, 0.9])))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "i long, y long, s double")
    got = auc_exact(df, "y", "s").collect()[0]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, y BIGINT, s DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    want = con.sql(
        "WITH " + sql_auc_ctes("t", "y", "s") + " SELECT * FROM auc"
    ).fetchone()
    assert (got["n_pos"], got["n_neg"], int(got["u2"]), got["auc"]) == (
        want[0], want[1], int(want[2]), want[3],
    )
    p, n, u2 = _pairwise_u2(rows)
    assert (got["n_pos"], got["n_neg"], int(got["u2"])) == (p, n, u2)
    assert got["auc"] == u2 / (2 * p * n)


def test_auc_boundary_values(spark):
    # perfect separation -> 1.0; inverted -> 0.0; all-tied -> 0.5
    perfect = [(1, 1, 0.9), (2, 1, 0.8), (3, 0, 0.2), (4, 0, 0.1)]
    inverted = [(1, 1, 0.1), (2, 0, 0.9)]
    tied = [(1, 1, 0.5), (2, 0, 0.5), (3, 1, 0.5), (4, 0, 0.5)]
    for rows, want in ((perfect, 1.0), (inverted, 0.0), (tied, 0.5)):
        df = spark.createDataFrame(rows, "i long, y long, s double")
        assert auc_exact(df, "y", "s").collect()[0]["auc"] == want


def test_auc_single_class_raises_both_engines(spark):
    df = spark.createDataFrame([(1, 1, 0.5), (2, 1, 0.7)], "i long, y long, s double")
    with pytest.raises(Exception, match="both classes"):
        auc_exact(df, "y", "s").collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, y BIGINT, s DOUBLE)")
    con.execute("INSERT INTO t VALUES (1, 1, 0.5), (2, 1, 0.7)")
    with pytest.raises(Exception, match="both classes"):
        con.sql("WITH " + sql_auc_ctes("t", "y", "s") + " SELECT * FROM auc").fetchall()


def test_auc_no_single_task_global_sort(spark):
    """The distinct-score running sum must go through the two-phase
    global_cumsum (range partition + within-partition window), never a
    single-partition global window."""
    import io
    import re
    from contextlib import redirect_stdout

    rows = [(i, i % 2, float(i % 17)) for i in range(100)]
    df = spark.createDataFrame(rows, "i long, y long, s double")
    buf = io.StringIO()
    with redirect_stdout(buf):
        auc_exact(df, "y", "s").explain("formatted")
    p = buf.getvalue()
    # every window spec must partition by the cumsum's partition-id
    # column, never be partition-less (SinglePartition window)
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", p):
        assert "__pid" in spec, spec


def _py_pr(rows):
    """Explicit per-threshold counting reference."""
    out = {}
    thresholds = sorted({s for _, _, s in rows})
    for t in thresholds:
        tp = sum(1 for _, y, s in rows if y == 1 and s >= t)
        fp = sum(1 for _, y, s in rows if y == 0 and s >= t)
        fn = sum(1 for _, y, s in rows if y == 1 and s < t)
        out[t] = (tp, fp, fn)
    return out


def test_pr_curve_three_way(spark):
    from dataclass_array_spark.operators.metrics import (
        pr_curve_exact,
        sql_pr_curve_ctes,
    )

    random.seed(19)
    rows = [
        (i, random.randint(0, 1),
         float(random.choice([0.1, 0.3, 0.3, 0.6, 0.8])))
        for i in range(240)
    ]
    df = spark.createDataFrame(rows, "i long, y long, s double")
    got = {
        r["threshold"]: (r["tp"], r["fp"], r["fn"], r["precision"],
                         r["recall"], r["f1"])
        for r in pr_curve_exact(df, "y", "s").collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, y BIGINT, s DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    want = {
        r[0]: tuple(r[1:])
        for r in con.sql(
            "WITH " + sql_pr_curve_ctes("t", "y", "s") + " SELECT * FROM pr"
        ).fetchall()
    }
    assert got == want
    ref = _py_pr(rows)
    for t, (tp, fp, fn, prec, rec, f1) in got.items():
        assert (tp, fp, fn) == ref[t], t
        assert prec == tp / (tp + fp)
        assert rec == tp / (tp + fn)
        assert f1 == 2 * tp / (2 * tp + fp + fn)


def test_pr_curve_monotone_recall(spark):
    """Recall must be non-increasing in the threshold; the lowest
    threshold must have recall 1.0 and fn 0."""
    from dataclass_array_spark.operators.metrics import pr_curve_exact

    random.seed(23)
    rows = [(i, random.randint(0, 1), float(random.random()))
            for i in range(100)]
    df = spark.createDataFrame(rows, "i long, y long, s double")
    curve = sorted(
        (r["threshold"], r["recall"], r["fn"])
        for r in pr_curve_exact(df, "y", "s").collect()
    )
    assert curve[0][1] == 1.0 and curve[0][2] == 0
    recalls = [r for _, r, _ in curve]
    assert recalls == sorted(recalls, reverse=True)


def test_pr_curve_floor_quantization_parity_and_bound(spark):
    """floor_digits must bound the threshold set to the grid dimension
    and stay engine-exact (floor grid, no cast-tie ambiguity)."""
    from dataclass_array_spark.operators.metrics import (
        pr_curve_exact,
        sql_pr_curve_ctes,
    )

    random.seed(29)
    rows = [(i, random.randint(0, 1), random.random()) for i in range(500)]
    df = spark.createDataFrame(rows, "i long, y long, s double")
    got = {
        r["threshold"]: (r["tp"], r["fp"], r["fn"])
        for r in pr_curve_exact(df, "y", "s", floor_digits=2).collect()
    }
    assert len(got) <= 100  # grid-bounded, not corpus-sized
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, y BIGINT, s DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    want = {
        r[0]: tuple(r[1:4])
        for r in con.sql(
            "WITH " + sql_pr_curve_ctes("t", "y", "s", floor_digits=2)
            + " SELECT * FROM pr"
        ).fetchall()
    }
    assert got == want
    # totals conserved at every threshold
    P = sum(1 for _, y, _ in rows if y == 1)
    for t, (tp, fp, fn) in got.items():
        assert tp + fn == P, t


def test_ann_recall_counts_and_edges(spark):
    from dataclass_array_spark.operators.metrics import ann_recall

    truth = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (3, 30)],
        "qid long, nid long",
    )
    approx = spark.createDataFrame(
        # q1: 2/3 hit; q2: 0 hits; q3 missing entirely; q4 not in truth
        [(1, 10), (1, 12), (1, 99), (2, 98), (2, 97), (4, 40)],
        "qid long, nid long",
    )
    got = {
        r["qid"]: (r["hits"], r["k"], r["recall"])
        for r in ann_recall(approx, truth).collect()
    }
    assert got == {
        1: (2, 3, 2 / 3),
        2: (0, 2, 0.0),
        3: (0, 1, 0.0),
    }
    assert 4 not in got  # no ground truth -> dropped


def test_ann_recall_ivf_gate_is_meaningful(spark):
    """The gate must report non-trivial recall (IVF with nprobe=4/16
    finds most but typically not all of the exact top-5) and exact
    self-consistency: truth vs truth is recall 1.0 everywhere."""
    from dataclass_array_spark.operators.metrics import ann_recall
    from dataclass_array_spark.operators.similarity import brute_force_topk

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    truth = brute_force_topk(q, e, "vec_id", "vec_id", "embedding", k=5)
    self_r = ann_recall(truth, truth).collect()
    assert all(r["recall"] == 1.0 for r in self_r)
    from dataclass_array_spark.workload import QUERIES

    rows = QUERIES["ann_recall_ivf_docs"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    mean = sum(r["recall"] for r in rows) / len(rows)
    assert 0.2 <= mean <= 1.0, mean


def test_calibration_bins_three_way(spark):
    from dataclass_array_spark.operators.metrics import (
        calibration_bins,
        sql_calibration_ctes,
    )

    random.seed(31)
    rows = [(i, random.randint(0, 1), random.random()) for i in range(400)]
    rows += [(1000, 1, 0.0), (1001, 0, 1.0)]  # both edges
    df = spark.createDataFrame(rows, "i long, y long, p double")
    got = {
        r["bin"]: (r["n"], r["n_pos"], r["mean_pred"], r["frac_pos"])
        for r in calibration_bins(df, "y", "p", 10).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, y BIGINT, p DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    want = {
        r[0]: tuple(r[1:])
        for r in con.sql(
            "WITH " + sql_calibration_ctes("t", "y", "p", 10)
            + " SELECT * FROM calib"
        ).fetchall()
    }
    assert got == want
    # python reference on the integer parts
    import collections
    import math

    ref = collections.defaultdict(lambda: [0, 0, 0])
    for _, y, p in rows:
        b = min(int(math.floor(p * 10)), 9)
        ref[b][0] += 1
        ref[b][1] += y
        ref[b][2] += math.floor(p * 1e9)
    for b, (n, npos, mp, fp) in got.items():
        rn, rp, rsq = ref[b]
        assert (n, npos) == (rn, rp), b
        assert fp == rp / rn
        assert mp == (float(rsq) / 1e9) / float(rn)
    # prob=1.0 must fold into the TOP bin, not an 11th
    assert set(got) <= set(range(10))


def test_calibration_bins_out_of_range_raises_both(spark):
    from dataclass_array_spark.operators.metrics import (
        calibration_bins,
        sql_calibration_ctes,
    )

    df = spark.createDataFrame([(1, 1, 1.5)], "i long, y long, p double")
    with pytest.raises(Exception, match="outside"):
        calibration_bins(df, "y", "p").collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, y BIGINT, p DOUBLE)")
    con.execute("INSERT INTO t VALUES (1, 1, 1.5)")
    with pytest.raises(Exception, match="outside"):
        con.sql(
            "WITH " + sql_calibration_ctes("t", "y", "p", 10)
            + " SELECT * FROM calib"
        ).fetchall()


def test_pr_curve_no_positives_raises_both(spark):
    """Round-14 review: zero positives makes recall 0/0 — loud on both
    engines instead of NULL rows (the auc_exact discipline)."""
    from dataclass_array_spark.operators.metrics import (
        pr_curve_exact,
        sql_pr_curve_ctes,
    )

    df = spark.createDataFrame(
        [(1, 0, 0.2), (2, 0, 0.7)], "i long, y long, s double"
    )
    with pytest.raises(Exception, match="positives"):
        pr_curve_exact(df, "y", "s").collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, y BIGINT, s DOUBLE)")
    con.execute("INSERT INTO t VALUES (1, 0, 0.2), (2, 0, 0.7)")
    with pytest.raises(Exception, match="positives"):
        con.sql(
            "WITH " + sql_pr_curve_ctes("t", "y", "s") + " SELECT * FROM pr"
        ).fetchall()


def test_global_cumsum_multi_column_matches_two_passes(spark):
    """The multi-value global_cumsum must equal two single-value
    passes (round-14 review efficiency fix)."""
    import random as _r

    from dataclass_array_spark.operators.packing import global_cumsum

    _r.seed(5)
    rows = [(float(i), _r.randint(0, 9), _r.randint(0, 9)) for i in range(500)]
    df = spark.createDataFrame(rows, "k double, a long, b long")
    one = global_cumsum(
        df, "k", ["a", "b"], out_col=["ca", "cb"]
    )
    got = {r["k"]: (r["ca"], r["cb"]) for r in one.collect()}
    two = global_cumsum(global_cumsum(df, "k", "a", "ca"), "k", "b", "cb")
    want = {r["k"]: (r["ca"], r["cb"]) for r in two.collect()}
    assert got == want
    with pytest.raises(ValueError, match="lengths differ"):
        global_cumsum(df, "k", ["a", "b"], out_col="ca")


def test_auc_grouped_three_way(spark):
    """Grouped AUC (round 15 — the fairness table): Spark ≡ DuckDB
    grouped mirror ≡ per-group explicit pairwise counting."""
    random.seed(37)
    rows = [
        (i, f"g{i % 4}", random.randint(0, 1),
         float(random.choice([0.1, 0.2, 0.2, 0.4, 0.7, 0.7])))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "i long, g string, y long, s double")
    got = {
        r["g"]: (r["n_pos"], r["n_neg"], int(r["u2"]), r["auc"])
        for r in auc_exact(df, "y", "s", group_cols=["g"]).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, g VARCHAR, y BIGINT, s DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
    want = {
        r[0]: (r[1], r[2], int(r[3]), r[4])
        for r in con.sql(
            "WITH " + sql_auc_ctes("t", "y", "s", group_exprs=["g"])
            + " SELECT * FROM auc"
        ).fetchall()
    }
    assert got == want
    for gname in {r[1] for r in rows}:
        grp = [(i, y, s) for i, g, y, s in rows if g == gname]
        p, n, u2 = _pairwise_u2(grp)
        assert got[gname] == (p, n, u2, u2 / (2 * p * n)), gname


def test_auc_grouped_single_class_is_null_both_engines(spark):
    """A degenerate slice (one class only) is an EXPECTED fairness-table
    outcome: grouped mode emits auc NULL instead of raising, on both
    engines (the global path keeps raising — tested above)."""
    rows = [
        (1, "only_pos", 1, 0.5), (2, "only_pos", 1, 0.7),
        (3, "mixed", 1, 0.9), (4, "mixed", 0, 0.1),
    ]
    df = spark.createDataFrame(rows, "i long, g string, y long, s double")
    got = {
        r["g"]: r["auc"]
        for r in auc_exact(df, "y", "s", group_cols=["g"]).collect()
    }
    assert got["only_pos"] is None and got["mixed"] == 1.0
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, g VARCHAR, y BIGINT, s DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
    want = dict(con.sql(
        "WITH " + sql_auc_ctes("t", "y", "s", group_exprs=["g"])
        + " SELECT g, auc FROM auc"
    ).fetchall())
    assert want["only_pos"] is None and want["mixed"] == 1.0


def test_auc_null_score_and_label_raise_both_engines(spark):
    """Round-15 ADVICE: a NULL score would sort NULLS FIRST in Spark's
    range sort but NULLS LAST in DuckDB's window ORDER BY — silently
    shifting every running count.  Enforced loudly on both engines."""
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, y BIGINT, s DOUBLE)")
    con.execute("INSERT INTO t VALUES (1, 1, 0.5), (2, 0, NULL)")
    con.execute("CREATE TABLE t2 (i BIGINT, y BIGINT, s DOUBLE)")
    con.execute("INSERT INTO t2 VALUES (1, 1, 0.5), (2, NULL, 0.3)")
    df = spark.createDataFrame(
        [(1, 1, 0.5), (2, 0, None)], "i long, y long, s double"
    )
    with pytest.raises(Exception, match="NULL in score"):
        auc_exact(df, "y", "s").collect()
    with pytest.raises(Exception, match="NULL input"):
        con.sql("WITH " + sql_auc_ctes("t", "y", "s") + " SELECT * FROM auc").fetchall()
    df2 = spark.createDataFrame(
        [(1, 1, 0.5), (2, None, 0.3)], "i long, y long, s double"
    )
    with pytest.raises(Exception, match="must be 0/1"):
        auc_exact(df2, "y", "s").collect()
    with pytest.raises(Exception, match="must be 0/1"):
        con.sql("WITH " + sql_auc_ctes("t2", "y", "s") + " SELECT * FROM auc").fetchall()
    from dataclass_array_spark.operators.metrics import pr_curve_exact

    with pytest.raises(Exception, match="NULL in score"):
        pr_curve_exact(df, "y", "s").collect()


def test_pr_curve_floor_grid_overflow_raises_both_engines(spark):
    """Round-15 ADVICE: Spark's floor() returns BIGINT and CLAMPS past
    2^63 while DuckDB's floor stays DOUBLE — the guard turns the silent
    divergence into an error on both engines."""
    from dataclass_array_spark.operators.metrics import (
        pr_curve_exact,
        sql_pr_curve_ctes,
    )

    rows = [(1, 1, 1.0e19), (2, 0, 0.5)]
    df = spark.createDataFrame(rows, "i long, y long, s double")
    with pytest.raises(Exception, match="floor grid would clamp"):
        pr_curve_exact(df, "y", "s", floor_digits=2).collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, y BIGINT, s DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    with pytest.raises(Exception, match="floor grid would clamp"):
        con.sql(
            "WITH " + sql_pr_curve_ctes("t", "y", "s", floor_digits=2)
            + " SELECT * FROM pr"
        ).fetchall()
    # in-range large scores still work on both engines
    ok = [(1, 1, 1.0e10), (2, 0, 0.5)]
    df2 = spark.createDataFrame(ok, "i long, y long, s double")
    got = {r["threshold"]: (r["tp"], r["fp"], r["fn"])
           for r in pr_curve_exact(df2, "y", "s", floor_digits=2).collect()}
    con.execute("DELETE FROM t")
    con.executemany("INSERT INTO t VALUES (?,?,?)", ok)
    want = {r[0]: tuple(r[1:4]) for r in con.sql(
        "WITH " + sql_pr_curve_ctes("t", "y", "s", floor_digits=2)
        + " SELECT * FROM pr").fetchall()}
    assert got == want


def test_pr_curve_empty_input_raises_both_engines(spark):
    """Round-15 ADVICE: an empty frame raised only on the Spark side;
    the mirror now carries an explicit emptiness guard."""
    from dataclass_array_spark.operators.metrics import (
        pr_curve_exact,
        sql_pr_curve_ctes,
    )

    df = spark.createDataFrame([], "i long, y long, s double")
    with pytest.raises(Exception, match="positives must be non-empty"):
        pr_curve_exact(df, "y", "s").collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, y BIGINT, s DOUBLE)")
    with pytest.raises(Exception, match="positives must be non-empty"):
        con.sql(
            "WITH " + sql_pr_curve_ctes("t", "y", "s") + " SELECT * FROM pr"
        ).fetchall()


def test_ann_recall_duplicate_pairs_cannot_inflate(spark):
    """Round-15 ADVICE: duplicate (qid, nid) rows (e.g. a multi-probe
    ANN variant emitting a neighbor twice) must not push recall past
    1.0 — both sides are deduplicated to sets before the join."""
    from dataclass_array_spark.operators.metrics import ann_recall

    truth = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 11)], "qid long, nid long"  # dup in truth
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 10), (1, 10), (1, 11)], "qid long, nid long"
    )
    got = ann_recall(approx, truth).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["hits"], r["k"], r["recall"]) == (2, 2, 1.0)


def test_ece_three_way(spark):
    """ECE (round 15): Spark ≡ DuckDB mirror (bit-equal — the fold is
    sequential in bin order on both engines) ≡ python reference."""
    import math

    from dataclass_array_spark.operators.metrics import ece_exact, sql_ece_ctes

    random.seed(41)
    rows = [(i, random.randint(0, 1), random.random()) for i in range(600)]
    df = spark.createDataFrame(rows, "i long, y long, p double")
    got = ece_exact(df, "y", "p", 10).collect()[0]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, y BIGINT, p DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    want = con.sql(
        "WITH " + sql_ece_ctes("t", "y", "p", 10) + " SELECT * FROM ece"
    ).fetchone()
    assert (got["n"], got["ece"]) == want
    # python reference: same floor bins, same left fold in bin order
    import collections

    bins = collections.defaultdict(lambda: [0, 0, 0])
    for _, y, p in rows:
        b = min(int(math.floor(p * 10)), 9)
        bins[b][0] += 1
        bins[b][1] += y
        bins[b][2] += math.floor(p * 1e9)
    N = len(rows)
    acc = 0.0
    for b in sorted(bins):
        n, npos, sq = bins[b]
        mean_pred = (float(sq) / 1e9) / float(n)
        frac_pos = npos / n
        acc = acc + (n / N) * abs(frac_pos - mean_pred)
    assert got["ece"] == acc
    assert 0.0 <= got["ece"] <= 1.0


def test_grouped_cumsum_matches_python_and_handles_null_groups(spark):
    """grouped_cumsum (round 15): per-group running sums over a global
    order, two-phase (no single-task sort of a group's full extent);
    NULL group values form their own group (SQL GROUP BY semantics)."""
    import random as _r

    from dataclass_array_spark.operators.packing import grouped_cumsum

    _r.seed(43)
    rows = [
        (float(i), _r.choice(["a", "b", "c", None]), _r.randint(0, 9))
        for i in range(800)
    ]
    df = spark.createDataFrame(rows, "k double, g string, v long")
    got = {
        (r["g"], r["k"]): r["cum"]
        for r in grouped_cumsum(df, ["g"], "k", "v").collect()
    }
    assert len(got) == len(rows)  # the null-safe join drops nothing
    acc = {}
    for k, g, v in sorted(rows):
        acc[g] = acc.get(g, 0) + v
        assert got[(g, k)] == acc[g], (g, k)


def test_grouped_cumsum_empty_groups_delegates_to_global(spark):
    from dataclass_array_spark.operators.packing import (
        global_cumsum,
        grouped_cumsum,
    )

    rows = [(float(i), i % 5) for i in range(100)]
    df = spark.createDataFrame(rows, "k double, v long")
    a = {r["k"]: r["cum"] for r in grouped_cumsum(df, [], "k", "v").collect()}
    b = {r["k"]: r["cum"] for r in global_cumsum(df, "k", "v").collect()}
    assert a == b


def test_auc_grouped_no_single_task_global_sort(spark):
    """Grouped AUC must never need a partition-less (single-task)
    window.  Since round 16 the integral/exact-group-key case computes
    the running count in a mapInArrow pass over the pinned range
    partitions — ZERO window specs; any window that does appear (the
    fallback path for non-conforming dtypes) must partition by
    (__pid, …) or by the group column."""
    import io
    import re
    from contextlib import redirect_stdout

    rows = [(i, f"g{i % 3}", i % 2, float(i % 17)) for i in range(100)]
    df = spark.createDataFrame(rows, "i long, g string, y long, s double")
    buf = io.StringIO()
    with redirect_stdout(buf):
        auc_exact(df, "y", "s", group_cols=["g"]).explain("formatted")
    p = buf.getvalue()
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    for spec in specs:
        assert "__pid" in spec or "g#" in spec, spec
    # the integral-count path runs windowless through PythonMapInArrow
    assert "MapInArrow" in p or specs == []


def test_classifier_auc_by_source_gate_is_meaningful(spark):
    """The fairness gate at sf0.001: one row per source, both classes
    present in every slice, every AUC defined and in [0, 1], and the
    slice counts re-add to the corpus totals."""
    from dataclass_array_spark.workload import QUERIES

    rows = QUERIES["classifier_auc_by_source_docs"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 20  # src0..src19
    n_pos = sum(r["n_pos"] for r in rows)
    n_neg = sum(r["n_neg"] for r in rows)
    assert n_pos + n_neg == 500  # sf0.001 documents count
    for r in rows:
        assert r["n_pos"] > 0 and r["n_neg"] > 0, r
        assert r["auc"] is not None and 0.0 <= r["auc"] <= 1.0, r


def test_classifier_ece_gate_composes_calibration_bins(spark):
    """The ECE gate must equal the same sequential fold over the
    calibration gate's own bins — the two gates share one pipeline."""
    from dataclass_array_spark.workload import QUERIES

    sf = "/root/testdata/sf0.001"
    bins = sorted(
        (r["bin"], r["n"], r["frac_pos"], r["mean_pred"])
        for r in QUERIES["classifier_calibration_docs"].fn(spark, sf).collect()
    )
    got = QUERIES["classifier_ece_docs"].fn(spark, sf).collect()[0]
    n_total = sum(n for _, n, _, _ in bins)
    assert got["n"] == n_total
    acc = 0.0
    for _, n, frac_pos, mean_pred in bins:
        acc = acc + (n / n_total) * abs(frac_pos - mean_pred)
    assert got["ece"] == acc
    assert 0.0 <= got["ece"] <= 1.0


def test_auc_out_of_domain_label_raises_both_engines(spark):
    """Round-15 review: a stray y=2 would under-count n_neg IDENTICALLY
    on both engines — the one failure class the oracle differential
    cannot catch — so the label domain is enforced at the source."""
    from dataclass_array_spark.operators.metrics import pr_curve_exact

    rows = [(1, 1, 0.5), (2, 2, 0.7), (3, 0, 0.1)]
    df = spark.createDataFrame(rows, "i long, y long, s double")
    with pytest.raises(Exception, match="must be 0/1"):
        auc_exact(df, "y", "s").collect()
    with pytest.raises(Exception, match="must be 0/1"):
        pr_curve_exact(df, "y", "s").collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, y BIGINT, s DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    with pytest.raises(Exception, match="must be 0/1"):
        con.sql("WITH " + sql_auc_ctes("t", "y", "s") + " SELECT * FROM auc").fetchall()
    # fractional labels fail too (they would cast-truncate silently)
    df2 = spark.createDataFrame([(1, 0.7, 0.5), (2, 0.0, 0.1)],
                                "i long, y double, s double")
    with pytest.raises(Exception, match="must be 0/1"):
        auc_exact(df2, "y", "s").collect()


def test_sql_auc_group_exprs_accepts_expressions(spark):
    """Round-15 review: a computed group expression must be aliased in
    the first CTE (downstream CTEs no longer see the base columns)."""
    rows = [
        (1, "A", 1, 0.9), (2, "a", 0, 0.1),
        (3, "b", 1, 0.8), (4, "B", 0, 0.3),
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, g VARCHAR, y BIGINT, s DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
    want = dict(con.sql(
        "WITH "
        + sql_auc_ctes("t", "y", "s", group_exprs=[("lower(g)", "gl")])
        + " SELECT gl, auc FROM auc"
    ).fetchall())
    df = spark.createDataFrame(rows, "i long, g string, y long, s double")
    got = {
        r["gl"]: r["auc"]
        for r in auc_exact(
            df.withColumn("gl", F.lower("g")), "y", "s", group_cols="gl"
        ).collect()
    }
    assert got == want == {"a": 1.0, "b": 1.0}


def test_auc_group_cols_accepts_bare_string(spark):
    """Round-15 review: group_cols='source' must mean ONE column, not
    per-character columns (str is a Sequence[str])."""
    rows = [(1, "x", 1, 0.9), (2, "x", 0, 0.1)]
    df = spark.createDataFrame(rows, "i long, g string, y long, s double")
    got = auc_exact(df, "y", "s", group_cols="g").collect()
    assert len(got) == 1 and got[0]["g"] == "x" and got[0]["auc"] == 1.0
    from dataclass_array_spark.operators.packing import grouped_cumsum

    c = grouped_cumsum(
        spark.createDataFrame([(1.0, "x", 2), (2.0, "x", 3)],
                              "k double, g string, v long"),
        "g", "k", "v",
    ).collect()
    assert {r["k"]: r["cum"] for r in c} == {1.0: 2, 2.0: 5}


def test_calibration_and_ece_grouped_three_way(spark):
    """Grouped calibration + grouped ECE (round 15, fairness-family
    completion): Spark ≡ DuckDB grouped mirrors (bit-equal — per-slice
    N, per-slice sequential fold) ≡ python per-group reference; NULL
    group values form their own group on both engines."""
    import collections
    import math

    from dataclass_array_spark.operators.metrics import (
        calibration_bins,
        ece_exact,
        sql_calibration_ctes,
        sql_ece_ctes,
    )

    random.seed(53)
    rows = [
        (i, random.choice(["a", "b", None]), random.randint(0, 1),
         random.random())
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "i long, g string, y long, p double")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, g VARCHAR, y BIGINT, p DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
    got = {
        (r["g"], r["bin"]): (r["n"], r["n_pos"], r["mean_pred"], r["frac_pos"])
        for r in calibration_bins(df, "y", "p", 10, group_cols=["g"]).collect()
    }
    want = {
        (r[0], r[1]): tuple(r[2:])
        for r in con.sql(
            "WITH " + sql_calibration_ctes("t", "y", "p", 10, group_exprs=["g"])
            + " SELECT * FROM calib"
        ).fetchall()
    }
    assert got == want
    gote = {
        r["g"]: (r["n"], r["ece"])
        for r in ece_exact(df, "y", "p", 10, group_cols="g").collect()
    }
    wante = {
        r[0]: (r[1], r[2])
        for r in con.sql(
            "WITH " + sql_ece_ctes("t", "y", "p", 10, group_exprs=["g"])
            + " SELECT * FROM ece"
        ).fetchall()
    }
    assert gote == wante and None in gote
    # python reference per group
    bins = collections.defaultdict(lambda: [0, 0, 0])
    for _, g, y, p in rows:
        b = min(int(math.floor(p * 10)), 9)
        bins[(g, b)][0] += 1
        bins[(g, b)][1] += y
        bins[(g, b)][2] += math.floor(p * 1e9)
    for gname in {g for _, g, _, _ in rows}:
        keys = sorted((b for gg, b in bins if gg == gname),
                      key=lambda b: b)
        N = sum(bins[(gname, b)][0] for b in keys)
        acc = 0.0
        for b in keys:
            n, npos, sq = bins[(gname, b)]
            acc = acc + (n / N) * abs(npos / n - (float(sq) / 1e9) / float(n))
            assert got[(gname, b)][0] == n and got[(gname, b)][1] == npos
        assert gote[gname] == (N, acc), gname


def test_classifier_ece_by_source_gate_is_meaningful(spark):
    """One row per source; per-slice N re-adds to the corpus size;
    every ECE in [0, 1]."""
    from dataclass_array_spark.workload import QUERIES

    rows = QUERIES["classifier_ece_by_source_docs"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 20
    assert sum(r["n"] for r in rows) == 500
    assert all(0.0 <= r["ece"] <= 1.0 for r in rows)


def test_brier_three_way_and_grouped(spark):
    """Brier score (round 15): Spark ≡ DuckDB mirror ≡ python reference
    on the 10^-9 quantized grid; quantization bias < 1e-8 vs the raw
    float fold; grouped mode incl. a NULL group; out-of-domain labels
    and probabilities loud on both engines."""
    import math

    from dataclass_array_spark.operators.metrics import (
        brier_exact,
        sql_brier_ctes,
    )

    random.seed(61)
    rows = [
        (i, random.choice(["a", "b", None]), random.randint(0, 1),
         random.random())
        for i in range(700)
    ]
    df = spark.createDataFrame(rows, "i long, g string, y long, p double")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, g VARCHAR, y BIGINT, p DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
    got = brier_exact(df, "y", "p").collect()[0]
    want = con.sql(
        "WITH " + sql_brier_ctes("t", "y", "p") + " SELECT * FROM brier"
    ).fetchone()
    assert (got["n"], got["brier"]) == want
    ss = sum((math.floor(p * 1e9) - y * 10**9) ** 2 for _, _, y, p in rows)
    assert got["brier"] == ss / (len(rows) * 1e18)
    raw = sum((p - y) ** 2 for _, _, y, p in rows) / len(rows)
    assert abs(got["brier"] - raw) < 1e-8
    gg = {
        r["g"]: (r["n"], r["brier"])
        for r in brier_exact(df, "y", "p", group_cols="g").collect()
    }
    ww = {
        r[0]: (r[1], r[2])
        for r in con.sql(
            "WITH " + sql_brier_ctes("t", "y", "p", group_exprs=["g"])
            + " SELECT * FROM brier"
        ).fetchall()
    }
    assert gg == ww and None in gg
    bad = spark.createDataFrame([(1, 2, 0.5)], "i long, y long, p double")
    with pytest.raises(Exception, match="must be 0/1"):
        brier_exact(bad, "y", "p").collect()
    badp = spark.createDataFrame([(1, 1, 1.5)], "i long, y long, p double")
    with pytest.raises(Exception, match="outside"):
        brier_exact(badp, "y", "p").collect()
    con.execute("CREATE TABLE tb (i BIGINT, y BIGINT, p DOUBLE)")
    con.execute("INSERT INTO tb VALUES (1, 2, 0.5)")
    with pytest.raises(Exception, match="must be 0/1"):
        con.sql("WITH " + sql_brier_ctes("tb", "y", "p") + " SELECT * FROM brier").fetchall()


def test_classifier_brier_gate_is_meaningful(spark):
    """The gate's Brier must be consistent with its own calibration
    bins (grouped decomposition: Σ n_b/N · [that bin's mean squared
    error] ≥ the calibration term) and in [0, 1]."""
    from dataclass_array_spark.workload import QUERIES

    sf = "/root/testdata/sf0.001"
    got = QUERIES["classifier_brier_docs"].fn(spark, sf).collect()[0]
    assert got["n"] == 500 and 0.0 <= got["brier"] <= 1.0
    # Brier >= ECE^2 is not a theorem, but Brier >= calibration MSE
    # term is: check the standard lower bound via the bins —
    # sum (n_b/N)*(frac_pos - mean_pred)^2 <= brier (calibration-
    # refinement decomposition, refinement term >= 0)
    bins = QUERIES["classifier_calibration_docs"].fn(spark, sf).collect()
    N = sum(r["n"] for r in bins)
    cal = sum(
        (r["n"] / N) * (r["frac_pos"] - r["mean_pred"]) ** 2 for r in bins
    )
    assert got["brier"] >= cal - 1e-6


def _py_ks(rows):
    """Explicit reference: max_t |F_pos(t) - F_neg(t)| over distinct
    scores, via exact integer cross-products."""
    from fractions import Fraction

    pos = sorted(s for _, y, s in rows if y == 1)
    neg = sorted(s for _, y, s in rows if y == 0)
    P, N = len(pos), len(neg)
    best = 0
    for t in sorted({s for _, _, s in rows}):
        cp = sum(1 for s in pos if s <= t)
        cn = sum(1 for s in neg if s <= t)
        best = max(best, abs(cp * N - cn * P))
    return P, N, best, float(Fraction(best, P * N))


def test_ks_three_way_with_ties(spark):
    from dataclass_array_spark.operators.metrics import ks_exact, sql_ks_ctes

    random.seed(23)
    rows = [
        (i, random.randint(0, 1),
         float(random.choice([0.1, 0.2, 0.2, 0.3, 0.5, 0.5, 0.9, 1.5])))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "i long, y long, s double")
    got = ks_exact(df, "y", "s").collect()[0]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, y BIGINT, s DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    want = con.sql(
        "WITH " + sql_ks_ctes("t", "y", "s") + " SELECT * FROM ks"
    ).fetchone()
    assert (got["n_pos"], got["n_neg"], int(got["d_num"]), got["ks"]) == (
        want[0], want[1], int(want[2]), want[3],
    )
    p, n, d, ks = _py_ks(rows)
    assert (got["n_pos"], got["n_neg"], int(got["d_num"])) == (p, n, d)
    assert got["ks"] == d / (p * n)


def test_ks_boundary_values(spark):
    from dataclass_array_spark.operators.metrics import ks_exact

    # perfect separation -> 1.0; identical one-point distributions -> 0.0
    perfect = [(1, 1, 0.9), (2, 1, 0.8), (3, 0, 0.2), (4, 0, 0.1)]
    same = [(1, 1, 0.5), (2, 0, 0.5), (3, 1, 0.5), (4, 0, 0.5)]
    for rows, want in ((perfect, 1.0), (same, 0.0)):
        df = spark.createDataFrame(rows, "i long, y long, s double")
        assert ks_exact(df, "y", "s").collect()[0]["ks"] == want


def test_ks_single_class_and_empty_raise_both_engines(spark):
    from dataclass_array_spark.operators.metrics import ks_exact, sql_ks_ctes

    single = [(1, 1, 0.5), (2, 1, 0.7)]
    df = spark.createDataFrame(single, "i long, y long, s double")
    with pytest.raises(Exception, match="both classes"):
        ks_exact(df, "y", "s").collect()
    empty = spark.createDataFrame([], "i long, y long, s double")
    with pytest.raises(Exception, match="both classes"):
        ks_exact(empty, "y", "s").collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, y BIGINT, s DOUBLE)")
    con.execute("INSERT INTO t VALUES (1, 1, 0.5), (2, 1, 0.7)")
    with pytest.raises(Exception, match="both classes"):
        con.sql("WITH " + sql_ks_ctes("t", "y", "s") + " SELECT * FROM ks").fetchall()
    con.execute("CREATE TABLE e (i BIGINT, y BIGINT, s DOUBLE)")
    with pytest.raises(Exception, match="both classes"):
        con.sql("WITH " + sql_ks_ctes("e", "y", "s") + " SELECT * FROM ks").fetchall()


def test_ks_no_single_task_global_sort(spark):
    """The running counts must go through the two-phase global_cumsum —
    every window spec partitioned by __pid, never partition-less."""
    import io
    import re
    from contextlib import redirect_stdout

    from dataclass_array_spark.operators.metrics import ks_exact

    rows = [(i, i % 2, float(i % 17)) for i in range(100)]
    df = spark.createDataFrame(rows, "i long, y long, s double")
    buf = io.StringIO()
    with redirect_stdout(buf):
        ks_exact(df, "y", "s").explain("formatted")
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", buf.getvalue()):
        assert "__pid" in spec, spec


def _py_f1_best(rows, floor_digits=None):
    """Explicit reference: the pr row maximizing the 10^-18 integer F1
    key, highest threshold on ties — the DEFINED total order."""
    if floor_digits is not None:
        scale = 10 ** floor_digits
        import math

        rows = [(i, y, math.floor(s * scale) / scale) for i, y, s in rows]
    best = None
    for t, (tp, fp, fn) in _py_pr(rows).items():
        key = (2 * tp * 10**18) // (2 * tp + fp + fn)
        if best is None or (key, t) > (best[0], best[1]):
            best = (key, t, tp, fp, fn)
    return best[1:]


def test_f1_best_three_way(spark):
    from dataclass_array_spark.operators.metrics import f1_best, sql_f1_best_ctes

    random.seed(31)
    rows = [
        (i, random.randint(0, 1),
         float(random.choice([0.1, 0.2, 0.2, 0.3, 0.5, 0.5, 0.9])))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "i long, y long, s double")
    got = f1_best(df, "y", "s").collect()[0]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, y BIGINT, s DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    want = con.sql(
        "WITH " + sql_f1_best_ctes("t", "y", "s") + " SELECT * FROM f1b"
    ).fetchone()
    assert (got["threshold"], got["tp"], got["fp"], got["fn"]) == want[:4]
    assert (got["precision"], got["recall"], got["f1"]) == want[4:]
    t, tp, fp, fn = _py_f1_best(rows)
    assert (got["threshold"], got["tp"], got["fp"], got["fn"]) == (t, tp, fp, fn)
    # the selected row really is the max-F1 row
    assert got["f1"] == max(
        2 * tp2 / (2 * tp2 + fp2 + fn2)
        for tp2, fp2, fn2 in _py_pr(rows).values()
    )


def test_f1_best_tiebreak_highest_threshold(spark):
    """Two thresholds whose F1 ratios are EXACTLY equal (so their
    integer keys collide) — the defined order picks the HIGHER
    threshold on both engines.  Identical (tp, fp, fn) triples are
    impossible between distinct thresholds (the counts differ by the
    group sizes), so the realizable tie class is equal-RATIO triples:
    threshold 0.4 gives (tp=2, fp=4, fn=0) → F1 = 4/8, threshold 0.8
    gives (tp=1, fp=1, fn=1) → F1 = 2/4, keys both
    ⌊10¹⁸/2⌋ = 5·10¹⁷ (round-15 review: the previous construction had
    a unique max key and never consulted the tie-break)."""
    from dataclass_array_spark.operators.metrics import f1_best, sql_f1_best_ctes

    rows = [(1, 1, 0.4), (2, 1, 0.8), (3, 0, 0.4), (4, 0, 0.4),
            (5, 0, 0.4), (6, 0, 0.8)]
    # both thresholds really tie on the key
    keys = {
        t: (2 * tp * 10**18) // (2 * tp + fp + fn)
        for t, (tp, fp, fn) in _py_pr(rows).items()
    }
    assert keys[0.4] == keys[0.8] == 5 * 10**17
    df = spark.createDataFrame(rows, "i long, y long, s double")
    got = f1_best(df, "y", "s").collect()[0]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, y BIGINT, s DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    want = con.sql(
        "WITH " + sql_f1_best_ctes("t", "y", "s") + " SELECT * FROM f1b"
    ).fetchone()
    assert got["threshold"] == want[0] == _py_f1_best(rows)[0] == 0.8
    assert (got["tp"], got["fp"], got["fn"]) == want[1:4] == (1, 1, 1)
    assert got["f1"] == 0.5


def test_f1_best_floor_grid_parity(spark):
    from dataclass_array_spark.operators.metrics import f1_best, sql_f1_best_ctes

    random.seed(37)
    rows = [(i, random.randint(0, 1), random.uniform(-3, 3)) for i in range(250)]
    df = spark.createDataFrame(rows, "i long, y long, s double")
    got = f1_best(df, "y", "s", floor_digits=2).collect()[0]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, y BIGINT, s DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    want = con.sql(
        "WITH " + sql_f1_best_ctes("t", "y", "s", floor_digits=2)
        + " SELECT * FROM f1b"
    ).fetchone()
    assert (got["threshold"], got["tp"], got["fp"], got["fn"]) == want[:4]
    t, tp, fp, fn = _py_f1_best(rows, floor_digits=2)
    assert (got["threshold"], got["tp"], got["fp"], got["fn"]) == (t, tp, fp, fn)


def test_brier_and_ece_empty_input_raise_both_engines(spark):
    """Round-15 review: the ungrouped brier/ece aggs over an EMPTY
    frame used to emit a silent degenerate row (brier: (0, NULL)
    IDENTICALLY on both engines — the one class the oracle
    differential can never catch).  Both now raise loudly; grouped
    mode consistently yields zero rows on both engines."""
    from dataclass_array_spark.operators.metrics import (
        brier_exact,
        ece_exact,
        sql_brier_ctes,
        sql_ece_ctes,
    )

    empty = spark.createDataFrame([], "i long, y long, p double")
    with pytest.raises(Exception, match="non-empty"):
        brier_exact(empty, "y", "p").collect()
    with pytest.raises(Exception, match="non-empty"):
        ece_exact(empty, "y", "p", 10).collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE e (i BIGINT, y BIGINT, p DOUBLE, g VARCHAR)")
    with pytest.raises(Exception, match="non-empty"):
        con.sql(
            "WITH " + sql_brier_ctes("e", "y", "p") + " SELECT * FROM brier"
        ).fetchall()
    with pytest.raises(Exception, match="non-empty"):
        con.sql(
            "WITH " + sql_ece_ctes("e", "y", "p", 10) + " SELECT * FROM ece"
        ).fetchall()
    # grouped: zero rows, no error, both engines
    empty_g = spark.createDataFrame([], "i long, y long, p double, g string")
    assert brier_exact(empty_g, "y", "p", group_cols=["g"]).count() == 0
    assert ece_exact(empty_g, "y", "p", 10, group_cols=["g"]).count() == 0
    assert con.sql(
        "WITH " + sql_brier_ctes("e", "y", "p", group_exprs=["g"])
        + " SELECT * FROM brier"
    ).fetchall() == []
    assert con.sql(
        "WITH " + sql_ece_ctes("e", "y", "p", 10, group_exprs=["g"])
        + " SELECT * FROM ece"
    ).fetchall() == []


def test_grouped_cumsum_multi_column_matches_two_passes(spark):
    """The multi-column grouped_cumsum (one shuffle) must equal two
    single-column passes — per group, NULL groups included."""
    from dataclass_array_spark.operators.packing import grouped_cumsum

    random.seed(41)
    rows = [
        (i, random.choice(["a", "b", None]), float(i % 13),
         random.randint(0, 5), random.randint(0, 5))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "i long, g string, s double, u long, v long")
    # the order key must be unique per group for a well-defined cumsum
    df = df.groupBy("g", "s").agg(
        F.sum("u").alias("u"), F.sum("v").alias("v")
    )
    both = grouped_cumsum(
        df, ["g"], "s", ["u", "v"], out_col=["cu", "cv"]
    )
    one_u = grouped_cumsum(df, ["g"], "s", "u", out_col="cu")
    one_v = grouped_cumsum(df, ["g"], "s", "v", out_col="cv")
    key = lambda r: (r["g"] or "", r["s"])
    got = sorted(
        ((r["g"], r["s"], r["cu"], r["cv"]) for r in both.collect()),
        key=lambda t: (t[0] or "", t[1]),
    )
    want_u = {(r["g"], r["s"]): r["cu"] for r in one_u.collect()}
    want_v = {(r["g"], r["s"]): r["cv"] for r in one_v.collect()}
    assert got == sorted(
        ((g, s, want_u[(g, s)], want_v[(g, s)]) for g, s, _, _ in got),
        key=lambda t: (t[0] or "", t[1]),
    )


def _py_ks_grouped(rows):
    """Per-group explicit KS; single-class slices -> (d_num=0, ks=None)."""
    from collections import defaultdict

    groups = defaultdict(list)
    for _, g, y, s in rows:
        groups[g].append((None, y, s))
    out = {}
    for g, rs in groups.items():
        P = sum(1 for _, y, _ in rs if y == 1)
        N = sum(1 for _, y, _ in rs if y == 0)
        if P == 0 or N == 0:
            out[g] = (P, N, 0, None)
        else:
            out[g] = _py_ks(rs)
    return out


def test_ks_grouped_three_way_with_null_and_single_class(spark):
    from dataclass_array_spark.operators.metrics import ks_exact, sql_ks_ctes

    random.seed(43)
    rows = [
        (i, random.choice(["en", "de", None]), random.randint(0, 1),
         float(random.choice([0.1, 0.2, 0.2, 0.5, 0.9])))
        for i in range(300)
    ]
    # a deliberately single-class slice (all positives)
    rows += [(1000 + i, "zz", 1, 0.4 + i / 10) for i in range(4)]
    df = spark.createDataFrame(rows, "i long, g string, y long, s double")
    got = {
        r["g"]: (r["n_pos"], r["n_neg"], int(r["d_num"]), r["ks"])
        for r in ks_exact(df, "y", "s", group_cols=["g"]).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, g VARCHAR, y BIGINT, s DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
    want = {
        r[0]: (r[1], r[2], int(r[3]), r[4])
        for r in con.sql(
            "WITH " + sql_ks_ctes("t", "y", "s", group_exprs=["g"])
            + " SELECT * FROM ks"
        ).fetchall()
    }
    assert got == want
    ref = _py_ks_grouped(rows)
    assert set(got) == set(ref)
    for g, (p, n, d, ks) in ref.items():
        assert got[g][:3] == (p, n, d), g
        if ks is None:
            assert got[g][3] is None
        else:
            assert got[g][3] == d / (p * n)
    assert got["zz"] == (4, 0, 0, None)  # single-class slice -> NULL ks


def test_ks_grouped_matches_global_per_slice(spark):
    """Each grouped slice must equal a global ks_exact run on that
    slice alone."""
    from dataclass_array_spark.operators.metrics import ks_exact

    random.seed(47)
    rows = [
        (i, ["en", "de"][i % 2], random.randint(0, 1),
         float(random.choice([0.1, 0.3, 0.7])))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "i long, g string, y long, s double")
    grouped = {
        r["g"]: (r["n_pos"], r["n_neg"], int(r["d_num"]), r["ks"])
        for r in ks_exact(df, "y", "s", group_cols=["g"]).collect()
    }
    for g in ("en", "de"):
        solo = ks_exact(df.filter(F.col("g") == g), "y", "s").collect()[0]
        assert grouped[g] == (
            solo["n_pos"], solo["n_neg"], int(solo["d_num"]), solo["ks"]
        ), g


def test_global_cumsum_empty_input(spark):
    """Round-16 (advice): zero-row inputs (and therefore zero-row Arrow
    batches) must flow through the integer fast path without touching
    __pid[0]."""
    from dataclass_array_spark.operators.packing import global_cumsum

    df = spark.createDataFrame([], "k double, v long")
    out = global_cumsum(df, "k", "v")
    assert out.collect() == []
    assert out.schema["cum"].dataType.simpleString() == "bigint"
