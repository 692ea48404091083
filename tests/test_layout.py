"""Z-order layout operator: Morton key correctness vs a python
reference, scaling bounds, and the actual file-skipping effect (per-
partition bounding boxes shrink vs a single-column sort)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from dataclass_array_spark.operators.layout import (
    morton_key,
    morton_sql,
    scale_expr,
    with_hilbert_key,
    zorder_key,
)


def _morton_ref(vals, bits):
    """Python reference interleave: bit i of column j -> i*k + j."""
    k = len(vals)
    out = 0
    for j, v in enumerate(vals):
        for i in range(bits):
            out |= ((int(v) >> i) & 1) << (i * k + j)
    return out


def test_morton_key_matches_reference(spark):
    rng = np.random.RandomState(11)
    a = rng.randint(0, 1 << 16, 200)
    b = rng.randint(0, 1 << 16, 200)
    df = spark.createDataFrame(
        [(int(x), int(y)) for x, y in zip(a, b)], "a long, b long"
    )
    got = (
        df.withColumn("z", morton_key([F.col("a"), F.col("b")], 16))
        .orderBy("a", "b")
        .collect()
    )
    for r in got:
        assert r["z"] == _morton_ref([r["a"], r["b"]], 16)


def test_morton_key_three_columns_and_bounds(spark):
    df = spark.createDataFrame([(5, 3, 7)], "a long, b long, c long")
    z = df.select(
        morton_key([F.col("a"), F.col("b"), F.col("c")], 3).alias("z")
    ).collect()[0]["z"]
    assert z == _morton_ref([5, 3, 7], 3)
    with pytest.raises(ValueError, match="overflows"):
        morton_key([F.col("a"), F.col("b")], 32)
    with pytest.raises(ValueError, match=">= 2"):
        morton_key([F.col("a")], 8)


def test_scale_expr_endpoints_and_guard(spark):
    df = spark.createDataFrame([(0,), (50,), (100,)], "x long")
    got = [
        r["s"]
        for r in df.select(scale_expr(F.col("x"), 0, 100, 8).alias("s"))
        .orderBy("x")
        .collect()
    ]
    assert got[0] == 0 and got[-1] == 255 and 0 < got[1] < 255
    with pytest.raises(ValueError, match="2\\^53"):
        scale_expr(F.col("x"), 0, 1 << 45, 16)


def test_scale_sql_dyn_matches_scale_expr_incl_zero_span(spark):
    """scale_sql_dyn (SQL-expression bounds) mirrors scale_expr on
    normal AND degenerate data: a constant column must scale to 0 on
    both sides (scale_expr decides span<=0 at build time; the SQL form
    needs the CASE guard — unguarded x/0.0 is NULL in DuckDB)."""
    import duckdb

    from dataclass_array_spark.operators.layout import scale_sql_dyn

    vals = [0, 7, 50, 93, 100]
    df = spark.createDataFrame([(v, 42) for v in vals], "x long, c long")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ",".join(f"({v}, 42)" for v in vals)
        + ") v(x, c)"
    )
    for col, lo, hi in [("x", 0, 100), ("c", 42, 42)]:
        got_spark = [
            r["s"]
            for r in df.select(
                scale_expr(F.col(col), lo, hi, 8).alias("s")
            ).collect()
        ]
        got_sql = [
            r[0]
            for r in con.execute(
                "SELECT "
                + scale_sql_dyn(col, f"(SELECT MIN({col}) FROM t)",
                                f"(SELECT MAX({col}) FROM t)", 8)
                + " FROM t"
            ).fetchall()
        ]
        assert got_spark == got_sql, col
        if col == "c":
            assert got_sql == [0] * len(vals)


def test_morton_sql_matches_spark(spark):
    """The oracle-side SQL string evaluates identically in DuckDB."""
    import duckdb

    rng = np.random.RandomState(3)
    a = rng.randint(0, 1 << 12, 100)
    b = rng.randint(0, 1 << 12, 100)
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES " +
                ",".join(f"({int(x)},{int(y)})" for x, y in zip(a, b)) +
                ") v(a, b)")
    sql_vals = [
        r[0]
        for r in con.execute(
            f"SELECT {morton_sql(['a', 'b'], 12)} FROM t ORDER BY a, b"
        ).fetchall()
    ]
    ref = sorted(zip(a, b))
    assert sql_vals == [_morton_ref(v, 12) for v in ref]


def _partition_boxes(df, xcol, ycol):
    """Per-partition min/max bounding boxes — what parquet footer
    stats would expose to a pruned scan."""
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(
            F.min(xcol).alias("x0"), F.max(xcol).alias("x1"),
            F.min(ycol).alias("y0"), F.max(ycol).alias("y1"),
        )
        .collect()
    )


def _files_read(boxes, dim0, dim1, lo, hi):
    """Partitions a min/max-pruned scan must read for a 1-d range
    predicate ``lo <= dim <= hi`` (dim0/dim1 = that dim's box cols)."""
    return sum(1 for b in boxes if b[dim1] >= lo and b[dim0] <= hi)


def test_zorder_layout_prunes_both_dimensions(spark):
    """The scale claim, measured as partition pruning: sorting by x
    alone leaves every partition spanning the FULL y range, so a
    selective y predicate reads all 16 partitions; range-partitioning
    on the Z-key gives partitions bounded in BOTH dims, so the same
    predicate prunes most of them — at the price of reading a few
    more partitions for an x predicate.  At 64 partitions (files) the
    z-order boxes approximate an 8×8 grid: a 64-wide band intersects
    ~2 grid rows plus range-boundary stragglers in EITHER dimension,
    while the x-sorted layout reads ~5 for x and all 64 for y.  The
    trade only pays off at realistic file counts — at 16 partitions
    the boxes are too coarse to beat the 1-dim sort's own dimension,
    which is why OPTIMIZE-style z-ordering targets many-file tables."""
    rng = np.random.RandomState(7)
    n = 16384
    df = spark.createDataFrame(
        [(int(x), int(y)) for x, y in
         zip(rng.randint(0, 1024, n), rng.randint(0, 1024, n))],
        "x long, y long",
    )
    key, bounds = zorder_key(df, ["x", "y"], bits=10)
    assert bounds[0][0] >= 0 and bounds[1][1] <= 1023
    zb = _partition_boxes(
        df.withColumn("_z", key).repartitionByRange(64, "_z"), "x", "y"
    )
    nb = _partition_boxes(df.repartitionByRange(64, "x"), "x", "y")
    # selective 64-wide range predicate on each dimension
    z_x, z_y = _files_read(zb, "x0", "x1", 480, 543), _files_read(zb, "y0", "y1", 480, 543)
    n_x, n_y = _files_read(nb, "x0", "x1", 480, 543), _files_read(nb, "y0", "y1", 480, 543)
    assert n_y == 64, "x-sorted layout must be unprunable on y"
    assert z_y <= 28, f"z-order failed to prune on y: reads {z_y}/64"
    assert z_x <= 28, f"z-order failed to prune on x: reads {z_x}/64"
    assert z_x + z_y < (n_x + n_y) * 3 // 4, (
        f"zorder ({z_x}+{z_y}) vs x-sort ({n_x}+{n_y})"
    )


def _hilbert_ref(x, y, bits):
    """Classic xy2d reference."""
    rx = ry = 0
    d = 0
    s = 1 << (bits - 1)
    x, y = int(x), int(y)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


@pytest.mark.parametrize("bits", [10, 13])
def test_hilbert_key_matches_reference(spark, bits):
    rng = np.random.RandomState(23)
    a = rng.randint(0, 1 << bits, 300)
    b = rng.randint(0, 1 << bits, 300)
    df = spark.createDataFrame(
        [(int(x), int(y)) for x, y in zip(a, b)], "a long, b long"
    )
    got = (
        with_hilbert_key(df, F.col("a"), F.col("b"), bits, out="h")
        .orderBy("a", "b")
        .collect()
    )
    for r in got:
        assert r["h"] == _hilbert_ref(r["a"], r["b"], bits), (r["a"], r["b"])


def test_hilbert_is_a_bijection_with_adjacency(spark):
    """Every cell of the 16x16 grid gets a distinct curve position in
    [0, 256), and consecutive positions are ADJACENT cells (the
    locality property Morton lacks)."""
    df = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], "x long, y long"
    )
    rows = with_hilbert_key(df, F.col("x"), F.col("y"), 4, out="h").collect()
    pos = {r["h"]: (r["x"], r["y"]) for r in rows}
    assert sorted(pos) == list(range(256))
    for d in range(255):
        (x1, y1), (x2, y2) = pos[d], pos[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, f"jump at d={d}"


def test_with_hilbert_key_matches_column_form(spark):
    """The chained-projection form must match the Python reference
    walk, and its plan must contain no higher-order functions (the
    perf point)."""
    rng = np.random.RandomState(11)
    n, bits = 500, 13
    pts = rng.randint(0, 1 << bits, size=(n, 2))
    df = spark.createDataFrame(
        [(i, int(x), int(y)) for i, (x, y) in enumerate(pts)],
        "id long, x long, y long",
    )
    b = with_hilbert_key(df, F.col("x"), F.col("y"), bits, out="h").select(
        "id", "h"
    )
    got = {r["id"]: r["h"] for r in b.collect()}
    assert got == {i: _hilbert_ref(x, y, bits) for i, (x, y) in enumerate(pts)}
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        b.explain("formatted")
    plan = buf.getvalue().lower()
    assert "transform(" not in plan and "element_at" not in plan
    # temp state columns must not leak
    assert set(b.columns) == {"id", "h"}
    with pytest.raises(ValueError, match="already present"):
        with_hilbert_key(df.withColumn("_hil_x", F.lit(1)), F.col("x"), F.col("y"), bits)
    # out= naming an internal state column would be silently dropped
    # by the final projection — rejected instead (ADVICE r10)
    with pytest.raises(ValueError, match="internal state column"):
        with_hilbert_key(df, F.col("x"), F.col("y"), bits, out="_hil_d")


def test_hilbert_sql_matches_spark(spark):
    import duckdb

    from dataclass_array_spark.operators.layout import hilbert_sql

    rng = np.random.RandomState(29)
    a = rng.randint(0, 1 << 8, 120)
    b = rng.randint(0, 1 << 8, 120)
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES " +
                ",".join(f"({int(x)},{int(y)})" for x, y in zip(a, b)) +
                ") v(a, b)")
    q = hilbert_sql("a", "b", 8, "FROM t", "a, b")
    got = {(r[0], r[1]): r[2] for r in con.execute(q).fetchall()}
    for x, y in zip(a, b):
        assert got[(int(x), int(y))] == _hilbert_ref(x, y, 8)


# ---- k-dimensional Hilbert (Skilling transpose construction) ----


def _hilbert_kd_ref(coords, bits):
    """Pure-Python reference of the Skilling axes->index walk (the
    algorithm with_hilbert_key_kd unrolls) — loop form, for
    differential testing."""
    k = len(coords)
    X = list(coords)
    q = 1 << (bits - 1)
    while q > 1:
        p = q - 1
        for i in range(k):
            if X[i] & q:
                X[0] ^= p
            else:
                t = (X[0] ^ X[i]) & p
                X[0] ^= t
                X[i] ^= t
        q >>= 1
    for i in range(1, k):
        X[i] ^= X[i - 1]
    t = 0
    q = 1 << (bits - 1)
    while q > 1:
        if X[k - 1] & q:
            t ^= q - 1
        q >>= 1
    for i in range(k):
        X[i] ^= t
    h = 0
    for j in range(bits - 1, -1, -1):
        for i in range(k):
            h = (h << 1) | ((X[i] >> j) & 1)
    return h


def test_hilbert_kd_bijection_and_adjacency():
    """Full-domain properties at small bits, straight off the Python
    reference (fast): the map is a BIJECTION onto [0, 2^(k*bits)) and
    consecutive indices are L1-ADJACENT cells — the Hilbert property
    that makes range-partition boundaries tight bounding boxes."""
    for k, bits in ((2, 3), (3, 2), (4, 2), (3, 3)):
        side = 1 << bits
        import itertools

        inv = {}
        for coords in itertools.product(range(side), repeat=k):
            h = _hilbert_kd_ref(coords, bits)
            assert 0 <= h < side**k
            assert h not in inv
            inv[h] = coords
        assert len(inv) == side**k
        for h in range(1, side**k):
            a, b = inv[h - 1], inv[h]
            assert sum(abs(x - y) for x, y in zip(a, b)) == 1, (k, bits, h)


def test_with_hilbert_key_kd_matches_reference(spark):
    """Spark chained-projection form == the Python reference, 3-d and
    4-d, on real orders data; state columns don't leak; the plan stays
    HOF-free (no interpreted transform/element_at)."""
    from dataclass_array_spark.operators.layout import with_hilbert_key_kd

    df = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select(
            "o_orderkey",
            (F.col("o_custkey") % 64).alias("a"),
            (F.col("o_orderkey") % 64).alias("b"),
            (F.dayofmonth("o_orderdate") % 32).alias("c"),
        )
        .limit(400)
    )
    rows = df.collect()
    for cols, bits in ((["a", "b", "c"], 6), (["a", "b", "c", "a"], 5)):
        out = with_hilbert_key_kd(df, [F.col(c) for c in cols], bits, out="h")
        got = {r["o_orderkey"]: r["h"] for r in out.collect()}
        assert set(out.columns) == {"o_orderkey", "a", "b", "c", "h"}
        for r in rows:
            want = _hilbert_kd_ref([r[c] % (1 << bits) for c in cols], bits)
            assert got[r["o_orderkey"]] == want, (cols, bits, r)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue().lower()
    assert "transform(" not in plan and "element_at" not in plan


def test_hilbert_kd_sql_matches_spark(spark):
    """DuckDB CTE-chain mirror emits value-exact keys (integer-only
    arithmetic both sides)."""
    import duckdb

    from dataclass_array_spark.operators.layout import (
        hilbert_kd_sql,
        with_hilbert_key_kd,
    )

    path = "/root/testdata/sf0.001/orders.parquet"
    df = spark.read.parquet(path).select(
        "o_orderkey",
        (F.col("o_custkey") % 256).alias("a"),
        (F.col("o_orderkey") % 256).alias("b"),
        (F.dayofmonth("o_orderdate") % 32).alias("c"),
    )
    out = with_hilbert_key_kd(
        df, [F.col("a"), F.col("b"), F.col("c")], 8, out="hkey"
    )
    got = {r["o_orderkey"]: r["hkey"] for r in out.collect()}
    con = duckdb.connect()
    sql = hilbert_kd_sql(
        ["o_custkey % 256", "o_orderkey % 256",
         "EXTRACT(day FROM CAST(o_orderdate AS DATE)) % 32"],
        8,
        f"FROM read_parquet('{path}')",
        "o_orderkey",
    )
    want = dict(con.execute(sql).fetchall())
    assert got == {k: int(v) for k, v in want.items()}


def test_with_hilbert_key_kd_validation(spark):
    from dataclass_array_spark.operators.layout import with_hilbert_key_kd

    df = spark.range(4).select(
        F.col("id").alias("a"), F.col("id").alias("b"), F.col("id").alias("c")
    )
    cols3 = [F.col("a"), F.col("b"), F.col("c")]
    with pytest.raises(ValueError, match="overflows BIGINT"):
        with_hilbert_key_kd(df, cols3, 22)
    with pytest.raises(ValueError, match=">= 2 columns"):
        with_hilbert_key_kd(df, [F.col("a")], 8)
    with pytest.raises(ValueError, match="internal state column"):
        with_hilbert_key_kd(df, cols3, 8, out="_hil1")
    with pytest.raises(ValueError, match="already present"):
        with_hilbert_key_kd(df.withColumn("_hil_t", F.lit(1)), cols3, 8)


def test_hilbert_kd_fuzz_vs_reference(spark):
    """Randomized (k, bits, coords) differential: the chained-projection
    Spark form == the Python Skilling reference, across the parameter
    envelope (k up to 6, bits up to 63//k)."""
    rng = np.random.RandomState(42)
    from dataclass_array_spark.operators.layout import with_hilbert_key_kd

    for _ in range(6):
        k = int(rng.randint(2, 7))
        bits = int(rng.randint(1, 63 // k + 1))
        n = 80
        coords = rng.randint(0, 1 << bits, size=(n, k))
        df = spark.createDataFrame(
            [(i, *[int(c) for c in row]) for i, row in enumerate(coords)],
            ", ".join(["id long"] + [f"c{j} long" for j in range(k)]),
        )
        out = with_hilbert_key_kd(
            df, [F.col(f"c{j}") for j in range(k)], bits, out="h"
        )
        got = {r["id"]: r["h"] for r in out.collect()}
        for i, row in enumerate(coords):
            want = _hilbert_kd_ref([int(c) for c in row], bits)
            assert got[i] == want, (k, bits, i)


def test_layout_empty_input_raises_clear_error(spark):
    """min/max bounds of an empty frame are NULL; zorder_key must fail
    loudly instead of feeding None into scale_expr."""
    empty = spark.range(0).selectExpr("id AS a", "id AS b")
    with pytest.raises(ValueError, match="empty input"):
        zorder_key(empty, ["a", "b"], bits=8)
