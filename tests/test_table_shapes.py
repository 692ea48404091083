"""Fixture-matrix shape-op tests, differential against numpy — the
reference's load-bearing test pattern (array_dataclass_test.py:248-390).
"""

import numpy as np
import pytest

import dataclass_array_spark as das
from dataclass_array_spark.core.schema import ShapeError, f32, i32
from tests.conftest import assert_np_equal


@das.dataclass_array(broadcast=True, cast_dtype=True)
class Point(das.DcaTable):
    x: f32
    y: f32


@das.dataclass_array(broadcast=True, cast_dtype=True)
class Isometrie(das.DcaTable):
    r: f32["*b 3 3"]
    t: i32["*b 2"]


@das.dataclass_array(broadcast=True, cast_dtype=True)
class WithStatic(das.DcaTable):
    x: f32["*b 3"]
    static: str


def make_point(shape, spark):
    n = int(np.prod(shape)) if shape else 1
    x = np.arange(n, dtype=np.float32).reshape(shape)
    y = (np.arange(n, dtype=np.float32) * 10).reshape(shape)
    return Point(spark, x=x, y=y), x, y


SHAPES = [(3,), (2, 3), (3, 2, 2)]


@pytest.mark.parametrize("shape", SHAPES)
def test_construct_and_roundtrip(spark, shape):
    p, x, y = make_point(shape, spark)
    assert p.shape == shape
    assert p.size == x.size
    assert_np_equal(p, {"x": x, "y": y})


def test_broadcast_scalar_field(spark):
    p = Point(spark, x=np.arange(4, dtype=np.float32), y=1.5)
    assert_np_equal(p, {"x": np.arange(4, dtype=np.float32), "y": np.full(4, 1.5, np.float32)})


@pytest.mark.parametrize("shape", SHAPES)
def test_reshape_flatten(spark, shape):
    p, x, y = make_point(shape, spark)
    f = p.flatten()
    assert_np_equal(f, {"x": x.reshape(-1), "y": y.reshape(-1)})
    r = p.reshape((-1, shape[-1]))
    assert_np_equal(r, {"x": x.reshape(-1, shape[-1]), "y": y.reshape(-1, shape[-1])})


def test_einops_transpose(spark):
    p, x, y = make_point((2, 3), spark)
    t = p.reshape("a b -> b a")
    assert_np_equal(t, {"x": x.T, "y": y.T})
    g = p.reshape("a b -> (b a)")
    assert_np_equal(g, {"x": x.T.reshape(-1), "y": y.T.reshape(-1)})


def test_einops_split_dim(spark):
    p, x, y = make_point((6,), spark)
    s = p.reshape("(a b) -> a b", a=2)
    assert_np_equal(s, {"x": x.reshape(2, 3), "y": y.reshape(2, 3)})


def test_broadcast_to(spark):
    p, x, y = make_point((1, 3), spark)
    b = p.broadcast_to((4, 3))
    assert_np_equal(b, {"x": np.broadcast_to(x, (4, 3)), "y": np.broadcast_to(y, (4, 3))})


def test_shape_ops_are_views_of_one_base(spark):
    """Basic indexing, reshape, einops and broadcast_to are strided views:
    each returns an object over the same base frame as its input, views
    of views included, and the frame is built only when read."""
    p, x, y = make_point((4, 6), spark)
    views = {
        "int": p[1],
        "slice": p[1:, ::2],
        "none+ellipsis": p[None, ..., 3],
        "reshape": p.reshape((3, 8)),
        "einops": p.reshape("a (b c) -> c a b", c=2),
        "broadcast_to": p[:, 2:3].broadcast_to((5, 4, 3)),
        "chain": p.reshape("a b -> b a")[1:5, ::2].broadcast_to((2, 4, 2)),
    }
    for name, v in views.items():
        assert v._base is p._base, name
        assert v._frame is None, name
    chain = views["chain"]
    want = np.broadcast_to(x.T[1:5, ::2], (2, 4, 2))
    assert_np_equal(chain, {"x": want, "y": np.broadcast_to(y.T[1:5, ::2], (2, 4, 2))})
    assert chain._frame is not None  # built once, on read
    assert chain.df is chain.df


def test_view_maps_hold_no_per_element_state(spark):
    """concat/stack/slice/broadcast_to chains over a 10**9-row base build
    their frames in under 1 MB of driver memory: the maps are a few
    integers per piece, never an index per element.  The repeats of a
    broadcast are no literal in the optimized plan either, even for one
    row broadcast to 10**8 (a constant ``sequence`` there is folded into
    a 10**8-entry array on the driver).  A mask or gather table has one
    row per picked entry, not per element under it."""
    import tracemalloc

    from pyspark.sql import functions as F

    class V(das.DcaTable):
        v: f32

    n = 10**9
    t = V.from_df(spark.range(n).select(F.col("id").alias("__rowid"), F.col("id").cast("float").alias("v")),
                  shape=(n,))
    tracemalloc.start()
    try:
        e = t.reshape((1000, 10**6)).reshape("a b -> b a")
        chains = [
            das.concat([t[: 10**8], t[5 * 10**8:], t[3:9]]),
            das.stack([e[::2, 10:], e[1::2, 10:]]).reshape((-1, 990))[7:].broadcast_to((3, 10**6 - 7, 990)),
            das.concat([e[:, :500], e[:, 500:]], axis=1)[::3],
            t.reshape((1000, 10**6))[::7, 10:].flatten(),
            t[:1].broadcast_to((10**8,)),
        ]
        plans = [c.df._jdf.queryExecution().optimizedPlan().toString() for c in chains]
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 1 << 20, peak
    assert not [p for p in plans if "UnsafeArrayData" in p or len(p) > 1 << 14], plans
    assert "array_repeat(" in plans[-1], plans[-1]
    rows = t.reshape((10**6, 1000))
    g = rows[np.array([5, 0, 5])]
    assert g._outer[0].shape == (3,) and g.shape == (3, 1000)
    m = rows.reshape((1000, 10**6))[np.arange(1000) % 4 == 0][np.array([1, 2])]
    assert m._outer[0].shape == (2,) and m.shape == (2, 10**6)


def test_inner_shape_fields(spark):
    r = np.arange(18, dtype=np.float32).reshape(2, 3, 3)
    t = np.arange(4, dtype=np.int32).reshape(2, 2)
    iso = Isometrie(spark, r=r, t=t)
    assert iso.shape == (2,)
    assert_np_equal(iso, {"r": r, "t": t})
    flat = iso[0]
    assert flat.shape == ()
    assert_np_equal(flat, {"r": r[0], "t": t[0]})


def test_inner_shape_validation(spark):
    with pytest.raises(ShapeError):
        Isometrie(spark, r=np.zeros((2, 3, 4), np.float32), t=np.zeros((2, 2), np.int32))


def test_static_fields_survive_ops(spark):
    w = WithStatic(spark, x=np.zeros((4, 3), np.float32), static="abc")
    assert w.static == "abc"
    assert w.reshape((2, 2)).static == "abc"
    assert w[1:3].static == "abc"
    assert w.map_field(lambda c: c).static == "abc"


def test_stack_concat(spark):
    p, x, y = make_point((3,), spark)
    q = p.map_field(lambda c: c + 100)
    st = das.stack([p, q])
    assert_np_equal(st, {"x": np.stack([x, x + 100]), "y": np.stack([y, y + 100])})
    st1 = das.stack([p, q], axis=1)
    assert_np_equal(st1, {"x": np.stack([x, x + 100], axis=1), "y": np.stack([y, y + 100], axis=1)})
    cc = das.concat([p, q])
    assert_np_equal(cc, {"x": np.concatenate([x, x + 100]), "y": np.concatenate([y, y + 100])})


def test_concat_axis1(spark):
    p, x, y = make_point((2, 3), spark)
    cc = das.concat([p, p], axis=1)
    assert_np_equal(cc, {"x": np.concatenate([x, x], axis=1), "y": np.concatenate([y, y], axis=1)})


def test_stack_type_mismatch(spark):
    p, *_ = make_point((2,), spark)
    iso = Isometrie(spark, r=np.zeros((2, 3, 3), np.float32), t=np.zeros((2, 2), np.int32))
    with pytest.raises(TypeError):
        das.stack([p, iso])


def test_len_and_bool(spark):
    p, *_ = make_point((3,), spark)
    assert len(p) == 3
    assert bool(p)
    s = p[0]
    with pytest.raises(TypeError):
        len(s)


def test_map_leaves_inner_shape(spark):
    r = np.arange(18, dtype=np.float32).reshape(2, 3, 3)
    t = np.arange(4, dtype=np.int32).reshape(2, 2)
    iso = Isometrie(spark, r=r, t=t)
    doubled = iso.map_leaves(lambda c: c * 2)
    assert_np_equal(doubled, {"r": r * 2, "t": t * 2})


def test_replace(spark):
    p, x, y = make_point((3,), spark)
    import pyspark.sql.functions as F

    p2 = p.replace(y=F.col("x") * 2)
    assert_np_equal(p2, {"x": x, "y": x * 2})
    p3 = p.replace(x=np.ones(3, np.float32))
    assert_np_equal(p3, {"x": np.ones(3, np.float32), "y": y})


@das.dataclass_array(broadcast=True, cast_dtype=True)
class PointDynamic(das.DcaTable):
    """Reference PointDynamicShape (array_dataclass_test.py:697-715):
    dynamic inner dims — length fixed per table, not per schema."""

    x: f32["*b _ _"]
    y: f32["*b 3 _"]


def test_dynamic_inner_dims(spark):
    x = np.zeros((2, 4, 5), np.float32)
    y = np.zeros((2, 3, 7), np.float32)
    p = PointDynamic(spark, x=x, y=y)
    assert p.shape == (2,)
    got = p.to_numpy_fields()
    assert got["x"].shape == (2, 4, 5) and got["y"].shape == (2, 3, 7)


def test_dynamic_fixed_prefix_enforced(spark):
    with pytest.raises(ShapeError):
        PointDynamic(
            spark, x=np.zeros((2, 4, 5), np.float32), y=np.zeros((2, 9, 7), np.float32)
        )


def test_cast_list_policy(spark):
    @das.dataclass_array(cast_list=False)
    class NoList(das.DcaTable):
        x: f32

    with pytest.raises(TypeError, match="cast_list"):
        NoList(spark, x=[1.0, 2.0])
    # default policy accepts lists
    p = Point(spark, x=[1.0, 2.0], y=[3.0, 4.0])
    assert p.shape == (2,)


def test_filter_alias(spark):
    import pyspark.sql.functions as F

    p, x, y = make_point((6,), spark)
    f = p.filter(F.col("x") >= 3)
    assert f.shape == (3,)
    assert_np_equal(f, {"x": x[x >= 3], "y": y[x >= 3]})


def _iso_fields(shape, seed):
    rng = np.random.default_rng(seed)
    return {
        "r": rng.standard_normal(shape + (3, 3)).astype(np.float32),
        "t": rng.integers(-50, 50, size=shape + (2,)).astype(np.int32),
    }


def _disordered(kind, spark):
    """(table, numpy fields) whose physical row order is not rowid order."""
    a, b = _iso_fields((4, 6), 0), _iso_fields((4, 6), 1)
    ta, tb = Isometrie(spark, **a), Isometrie(spark, **b)
    if kind == "repartition":
        return Isometrie.from_df(ta.df.repartition(7), shape=ta.shape), a
    if kind == "reversed_concat":
        want = {k: np.concatenate([b[k], a[k]], axis=1) for k in a}
        return das.concat([tb, ta], axis=1), want
    want = {k: np.stack([a[k], b[k]], axis=1) for k in a}
    return das.stack([ta, tb], axis=1), want


@pytest.mark.parametrize("kind", ["repartition", "reversed_concat", "stack_axis1"])
def test_egress_orders_disordered_rows(spark, kind):
    """Egress collects unsorted and orders rows on the driver: frames
    whose physical row order differs from rowid order must still come
    back equal to numpy through both exits."""
    from pyspark.sql import functions as F

    from tests.conftest import to_np_cell

    t, want = _disordered(kind, spark)
    physical = t.df.select(F.col("__rowid")).toPandas()["__rowid"].to_numpy()
    assert (np.diff(physical) < 0).any(), "fixture did not disorder the rows"
    got = t.to_numpy_fields()
    for k, w in want.items():
        np.testing.assert_array_equal(got[k], w)
    pdf = t.to_pandas()
    np.testing.assert_array_equal(pdf.index.to_numpy(), np.arange(t.size))
    for k, w in want.items():
        spec = Isometrie._array_fields()[k]
        cells = np.stack([to_np_cell(c, spec) for c in pdf[k]])
        np.testing.assert_array_equal(cells, w.reshape((t.size,) + w.shape[t.ndim:]))


@pytest.mark.parametrize("kind", ["gap", "duplicate", "short"])
def test_egress_rejects_rowids_not_dense(spark, kind):
    """A frame whose rowids are not exactly 0..size-1 raises ShapeError
    instead of reshaping into a wrong array."""
    from pyspark.sql import functions as F

    t = Isometrie(spark, **_iso_fields((6,), 2))
    rid = F.col("__rowid")
    bad = {
        "gap": t.df.withColumn("__rowid", rid * 2),
        "duplicate": t.df.withColumn("__rowid", F.when(rid == 1, 0).otherwise(rid)),
        "short": t.df.filter(rid != 5),
    }[kind]
    frame = Isometrie.from_df(bad, shape=t.shape)
    with pytest.raises(ShapeError):
        frame.to_numpy_fields()
    with pytest.raises(ShapeError):
        frame.to_pandas()
