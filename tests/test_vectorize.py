"""Vectorize-method tests (reference vectorization_test.py analog):
tier-1 Column tracing and tier-2 Arrow-batch per-row loop must agree."""

import numpy as np
import pytest
import pyspark.sql.functions as F

import warnings

import dataclass_array_spark as das
from dataclass_array_spark.core.schema import f32, f64
from tests.conftest import PYTHON_PLAN_NODES
from tests.test_schema import _BATCH, _ROUNDTRIP_DTYPES, _assert_exact, _values


@das.dataclass_array(broadcast=True, cast_dtype=True)
class Ray(das.DcaTable):
    pos: f32["*b 3"]
    dir: f32["*b 3"]

    @das.vectorize_method
    def dir_norm2_t1(self):
        # Column-traceable: compiles to one Catalyst select (tier 1)
        return {
            "n2": F.aggregate(
                self.dir, F.lit(0.0).cast("double"), lambda a, x: a + x * x
            )
        }

    @das.vectorize_method
    def dir_norm2_t2(self):
        # np.spacing (ulp distance) is deliberately unmapped in the
        # tracer (arcsinh traces tier-1 since round 9, sin since round
        # 8): forces the tier-2 mapInArrow per-row execution
        d = np.asarray(self.dir)
        return {"n2": float(np.dot(d, d) + 0.0 * np.spacing(d).sum())}

    @das.vectorize_method
    def scaled_t2(self, factor):
        return {"v": (np.asarray(self.pos) * factor).astype(np.float32)}


def make(spark, shape=(4,)):
    n = int(np.prod(shape))
    pos = np.arange(n * 3, dtype=np.float32).reshape(shape + (3,))
    dir_ = np.ones(shape + (3,), dtype=np.float32) * 2
    return Ray(spark, pos=pos, dir=dir_), pos, dir_


def test_tier1_tier2_agree(spark):
    r, pos, dir_ = make(spark)
    n1 = r.dir_norm2_t1().to_numpy_fields()["n2"]
    n2 = r.dir_norm2_t2().to_numpy_fields()["n2"]
    np.testing.assert_allclose(n1, n2)
    np.testing.assert_allclose(n1, np.full(4, 12.0))


def test_tier2_batch_shape_preserved(spark):
    r, pos, dir_ = make(spark, (2, 2))
    out = r.dir_norm2_t2()
    assert out.shape == (2, 2)


def test_tier2_array_output_and_args(spark):
    r, pos, dir_ = make(spark)
    out = r.scaled_t2(3.0)
    got = out.to_numpy_fields()["v"]
    np.testing.assert_allclose(got, pos * 3.0)


@das.dataclass_array(broadcast=True, cast_dtype=True)
class Offset(das.DcaTable):
    delta: f32["*b 3"]


@das.dataclass_array(broadcast=True, cast_dtype=True)
class Ray2(das.DcaTable):
    pos: f32["*b 3"]

    @das.vectorize_method
    def shift_t1(self, other):
        # Column-traceable with a table arg (rowid zip-join)
        return {"p": F.zip_with(self.pos, other.delta, lambda a, b: a + b)}

    @das.vectorize_method
    def shift_t2(self, other):
        return {"p": (np.asarray(self.pos) + np.asarray(other.delta)).astype(np.float32)}

    @das.vectorize_method(static_args=frozenset({"scale"}))
    def scaled_static(self, scale):
        return {"p": (np.asarray(self.pos) * scale).astype(np.float32)}


def test_table_arg_same_shape_both_tiers(spark):
    pos = np.arange(12, dtype=np.float32).reshape(4, 3)
    delta = np.ones((4, 3), dtype=np.float32) * 10
    r = Ray2(spark, pos=pos)
    o = Offset(spark, delta=delta)
    for m in (r.shift_t1, r.shift_t2):
        got = m(o).to_numpy_fields()["p"]
        np.testing.assert_allclose(got, pos + delta)


def test_table_arg_scalar_broadcast(spark):
    pos = np.arange(12, dtype=np.float32).reshape(4, 3)
    r = Ray2(spark, pos=pos)
    o = Offset(spark, delta=np.array([1, 2, 3], np.float32))  # shape ()
    got = r.shift_t2(o).to_numpy_fields()["p"]
    np.testing.assert_allclose(got, pos + np.array([1, 2, 3], np.float32))


def test_table_arg_shape_mismatch(spark):
    from dataclass_array_spark.core.schema import ShapeError
    r = Ray2(spark, pos=np.zeros((4, 3), np.float32))
    o = Offset(spark, delta=np.zeros((3, 3), np.float32))
    import pytest as _pytest
    with _pytest.raises(ShapeError):
        r.shift_t2(o)


def test_static_args_routing(spark):
    pos = np.arange(6, dtype=np.float32).reshape(2, 3)
    r = Ray2(spark, pos=pos)
    got = r.scaled_static(scale=4.0).to_numpy_fields()["p"]
    np.testing.assert_allclose(got, pos * 4.0)


class Ray3(Ray):
    @das.vectorize_method
    def norm_numpy_style(self):
        # plain numpy code — must TRACE to Catalyst (symbolic tier-1),
        # not fall back to the Python loop
        return {"n": np.sqrt(np.dot(self.dir, self.dir)) * 2.0 + 1.0}


def test_symbolic_tracing_compiles_to_catalyst(spark):
    r, pos, dir_ = make(spark)
    r3 = Ray3(spark, pos=pos, dir=dir_)
    out = r3.norm_numpy_style()
    got = out.to_numpy_fields()["n"]
    np.testing.assert_allclose(got, np.sqrt((dir_.astype(np.float64) ** 2).sum(1)) * 2 + 1)
    # proof of tier-1: the plan must contain no Python evaluation node
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        out.df.explain("formatted")
    plan = buf.getvalue()
    assert not any(m in plan for m in PYTHON_PLAN_NODES), plan


class RayNeg(Ray):
    @das.vectorize_method
    def last_minus_first(self):
        # negative indexing must trace tier-1 to element_at (Spark's
        # F.get returns NULL for negative indices — regression guard)
        return {"lmf": self.dir[-1] - self.dir[0], "last": self.dir[-1]}


def test_symbolic_negative_index(spark):
    dir_ = np.array([[1, 2, 6], [4, 5, 9]], np.float32)
    r = RayNeg(spark, pos=np.zeros((2, 3), np.float32), dir=dir_)
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error", das.VectorizeFallbackWarning)
        out = r.last_minus_first()
    got = out.to_numpy_fields()
    np.testing.assert_allclose(got["lmf"], dir_[:, -1] - dir_[:, 0])
    np.testing.assert_allclose(got["last"], dir_[:, -1])


def test_table_arg_dim1_broadcast(spark):
    """Per-dim broadcast: arg shape (1, 2) against self (3, 2) — the
    reference's _update_batch_shape rule (dim equal or 1)."""
    pos = np.arange(18, dtype=np.float32).reshape(3, 2, 3)
    delta = np.array([[[10, 0, 0], [100, 0, 0]]], np.float32)  # (1, 2, 3)
    r = Ray2(spark, pos=pos)
    o = Offset(spark, delta=delta)
    assert r.shape == (3, 2) and o.shape == (1, 2)
    got = r.shift_t2(o).to_numpy_fields()["p"]
    np.testing.assert_allclose(got, pos + np.broadcast_to(delta, (3, 2, 3)))
    got1 = r.shift_t1(o).to_numpy_fields()["p"]
    np.testing.assert_allclose(got1, got)


class Ray4(Ray):
    @das.vectorize_method
    def stats_numpy_style(self):
        d = self.dir
        return {
            "mean": np.mean(d),
            "spread": np.max(d) - np.min(d),
            "l2": np.linalg.norm(d),
        }


def test_symbolic_reductions(spark):
    dir_ = np.array([[1, 2, 6], [4, 4, 4]], np.float32)
    r = Ray4(spark, pos=np.zeros((2, 3), np.float32), dir=dir_)
    out = r.stats_numpy_style()
    got = out.to_numpy_fields()
    np.testing.assert_allclose(got["mean"], [3.0, 4.0])
    np.testing.assert_allclose(got["spread"], [5.0, 0.0])
    np.testing.assert_allclose(got["l2"], [np.sqrt(41.0), np.sqrt(48.0)])
    # still tier-1: no python in the plan
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        out.df.explain("formatted")
    assert not any(m in buf.getvalue() for m in PYTHON_PLAN_NODES)


def test_declared_returns_float_coercion_traces_tier1(spark):
    """The reference's scalar bodies freely wrap field math in
    ``float(...)`` (vectorization_test.py:39-106); since round 7 the
    trace-window float/int stand-ins keep that symbolic, so this body
    compiles to Catalyst — no fallback warning, no Python in the
    plan."""
    from dataclass_array_spark.core.schema import ArraySpec

    @das.dataclass_array(broadcast=True, cast_dtype=True)
    class R5(das.DcaTable):
        d: f32["*b 3"]

        @das.vectorize_method(returns={"s": ArraySpec(np.dtype(np.float64), ())})
        def total(self):
            return {"s": float(np.asarray(self.d).sum())}

    r = R5(spark, d=np.arange(6, dtype=np.float32).reshape(2, 3))
    with warnings.catch_warnings():
        warnings.simplefilter("error", das.VectorizeFallbackWarning)
        out = r.total()
        got = out.to_numpy_fields()["s"]
    np.testing.assert_allclose(got, [3.0, 12.0])
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        out.df.explain("formatted")
    assert not any(m in buf.getvalue() for m in PYTHON_PLAN_NODES)


def test_declared_returns_skips_probe(spark):
    """Declared ``returns=`` must skip the one-row tier-2 schema probe
    (an untraceable iterating body keeps this on tier-2 now that plain
    float() coercion traces)."""
    from dataclass_array_spark.core.schema import ArraySpec

    @das.dataclass_array(broadcast=True, cast_dtype=True)
    class R5b(das.DcaTable):
        d: f32["*b 3"]

        @das.vectorize_method(returns={"s": ArraySpec(np.dtype(np.float64), ())})
        def total(self):
            return {"s": float(sum(float(x) for x in np.asarray(self.d)))}

    r = R5b(spark, d=np.arange(6, dtype=np.float32).reshape(2, 3))
    with pytest.warns(das.VectorizeFallbackWarning, match="total"):
        got = r.total().to_numpy_fields()["s"]
    np.testing.assert_allclose(got, [3.0, 12.0])


def test_int_coercion_traces_trunc_toward_zero(spark):
    """int(symbolic 0-d) → cast('long'): truncation toward zero for
    both signs, matching int(np.float64(v)), fully JVM-side."""

    @das.dataclass_array(broadcast=True, cast_dtype=True)
    class RInt(das.DcaTable):
        x: f64["*b"]

        @das.vectorize_method
        def trunc(self):
            return {"t": int(self.x) * 2}

    vals = np.array([2.7, -2.7, 0.4, -0.4, 5.0], dtype=np.float64)
    r = RInt(spark, x=vals)
    with warnings.catch_warnings():
        warnings.simplefilter("error", das.VectorizeFallbackWarning)
        got = r.trunc().to_numpy_fields()["t"]
    np.testing.assert_array_equal(got, [int(v) * 2 for v in vals])


def test_trace_window_builtins_restored(spark):
    """After any vectorize call the real float/int builtins must be
    back (the trace-window patch is scoped), and plain coercions keep
    working inside a traced body for NON-symbolic values."""

    @das.dataclass_array(broadcast=True, cast_dtype=True)
    class RMix(das.DcaTable):
        x: f64["*b"]

        @das.vectorize_method
        def scaled(self):
            k = float("2.5")  # non-symbolic: must coerce normally mid-trace
            return {"y": self.x * k + int("3")}

    r = RMix(spark, x=np.array([1.0, 2.0]))
    with warnings.catch_warnings():
        warnings.simplefilter("error", das.VectorizeFallbackWarning)
        got = r.scaled().to_numpy_fields()["y"]
    np.testing.assert_allclose(got, [5.5, 8.0])
    assert float is __builtins__["float"] if isinstance(__builtins__, dict) else True
    assert isinstance(float("1.5"), float) and int("7") == 7
    assert type(float("1.5")) is float and type(int("7")) is int


@pytest.mark.parametrize(
    "self_shape,arg_shape",
    [
        ((4,), (4,)),
        ((4,), ()),
        ((2, 3), (2, 3)),
        ((2, 3), ()),
        ((2, 3), (1, 3)),
        ((2, 3), (2, 1)),
        ((2, 2, 2), (1, 1, 2)),
    ],
)
def test_broadcast_matrix(spark, self_shape, arg_shape):
    """Reference vectorization_test.py:39-106 grid: (self_shape,
    arg_shape) → numpy-broadcast result, both tiers."""
    import math

    n_s = int(np.prod(self_shape)) if self_shape else 1
    n_a = int(np.prod(arg_shape)) if arg_shape else 1
    pos = np.arange(n_s * 3, dtype=np.float32).reshape(self_shape + (3,))
    delta = (np.arange(n_a * 3, dtype=np.float32) * 10).reshape(arg_shape + (3,))
    r = Ray2(spark, pos=pos)
    o = Offset(spark, delta=delta)
    expect = pos + np.broadcast_to(
        delta.reshape(arg_shape + (3,)), self_shape + (3,)
    ) if arg_shape != () else pos + delta
    got2 = r.shift_t2(o).to_numpy_fields()["p"]
    np.testing.assert_allclose(got2, expect)
    got1 = r.shift_t1(o).to_numpy_fields()["p"]
    np.testing.assert_allclose(got1, expect)


def test_tier2_fallback_warns(spark):
    """Silent 100x degradation is banned: tier-2 fallback must warn,
    naming the method and the exception that broke tier-1 tracing."""
    r, *_ = make(spark)
    with pytest.warns(das.VectorizeFallbackWarning, match="dir_norm2_t2"):
        r.dir_norm2_t2().df.collect()


def test_tier1_does_not_warn(spark):
    import warnings

    r, *_ = make(spark)
    with warnings.catch_warnings():
        warnings.simplefilter("error", das.VectorizeFallbackWarning)
        r.dir_norm2_t1().df.collect()


def test_strict_raises_on_untraceable(spark):
    from dataclass_array_spark.symbolic import TraceError

    @das.dataclass_array(broadcast=True, cast_dtype=True)
    class StrictRay(das.DcaTable):
        dir: f32["*b 3"]

        @das.vectorize_method(strict=True)
        def norm2(self):
            # np.spacing is unmapped → untraceable, and strict=True
            # must surface that as a TraceError instead of falling back
            return {"n2": float(np.spacing(np.asarray(self.dir)).sum())}

    r = StrictRay(spark, dir=np.ones((4, 3), dtype=np.float32))
    with pytest.raises(TraceError, match="norm2"):
        r.norm2()


# ---------------------------------------------------------------- rank-2
@das.dataclass_array(broadcast=True, cast_dtype=True)
class MatBox(das.DcaTable):
    """3x3 matrix field (reference Isometrie analog)."""

    R: f32["*b 3 3"]
    t: f32["*b 3"]

    @das.vectorize_method
    def apply(self):
        return {"p": self.R @ self.t + self.t}

    @das.vectorize_method
    def rich(self):
        return {
            "colsum": np.sum(self.R, axis=0),
            "rowsum": np.sum(self.R, axis=1),
            "tot": np.sum(self.R),
            "mx": np.max(self.R),
            "el12": self.R[1, 2],
            "gram": self.R @ self.R.T,
            "vm": self.t @ self.R,
            "scaled": self.R * 2.0 + 1.0,
            "shifted": self.R + self.t,  # (3,3) + (3,) broadcast
        }


def _mat_fixture(spark, n=6):
    rng = np.random.default_rng(42)
    R = rng.standard_normal((n, 3, 3)).astype(np.float32)
    t = rng.standard_normal((n, 3)).astype(np.float32)
    return MatBox(spark, R=R, t=t), R.astype(np.float64), t.astype(np.float64)


def test_rank2_matmul_traces_to_catalyst(spark):
    """The reference's Isometrie-style matrix methods must compile to
    Catalyst (tier-1), not the per-row Python loop."""
    import warnings

    box, R, t = _mat_fixture(spark)
    with warnings.catch_warnings():
        warnings.simplefilter("error", das.VectorizeFallbackWarning)
        out = box.apply()
        got = out.to_numpy_fields()["p"]
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    assert not any(m in plan for m in PYTHON_PLAN_NODES) and "Python" not in plan
    np.testing.assert_allclose(got, np.einsum("nij,nj->ni", R, t) + t, rtol=1e-6)


def test_rank2_operations_match_numpy(spark):
    import warnings

    box, R, t = _mat_fixture(spark)
    with warnings.catch_warnings():
        warnings.simplefilter("error", das.VectorizeFallbackWarning)
        f = box.rich().to_numpy_fields()
    np.testing.assert_allclose(f["colsum"], R.sum(axis=1), rtol=1e-6)
    np.testing.assert_allclose(f["rowsum"], R.sum(axis=2), rtol=1e-6)
    np.testing.assert_allclose(f["tot"], R.sum(axis=(1, 2)), rtol=1e-6)
    np.testing.assert_allclose(f["mx"], R.max(axis=(1, 2)), rtol=1e-6)
    np.testing.assert_allclose(f["el12"], R[:, 1, 2], rtol=1e-6)
    np.testing.assert_allclose(f["gram"], np.einsum("nij,nkj->nik", R, R), rtol=1e-6)
    np.testing.assert_allclose(f["vm"], np.einsum("ni,nij->nj", t, R), rtol=1e-6)
    np.testing.assert_allclose(f["scaled"], R * 2.0 + 1.0, rtol=1e-6)
    np.testing.assert_allclose(f["shifted"], R + t[:, None, :], rtol=1e-6)


def test_rank2_matmul_chain_mm(spark):
    """m @ m composition keeps tracing (transpose-of-transpose path)."""
    import warnings

    @das.dataclass_array(broadcast=True, cast_dtype=True)
    class TwoMat(das.DcaTable):
        A: f32["*b 2 3"]
        B: f32["*b 3 2"]

        @das.vectorize_method
        def prod(self):
            return {"C": self.A @ self.B}

    rng = np.random.default_rng(7)
    A = rng.standard_normal((4, 2, 3)).astype(np.float32)
    B = rng.standard_normal((4, 3, 2)).astype(np.float32)
    tm = TwoMat(spark, A=A, B=B)
    with warnings.catch_warnings():
        warnings.simplefilter("error", das.VectorizeFallbackWarning)
        C = tm.prod().to_numpy_fields()["C"]
    np.testing.assert_allclose(
        C, np.einsum("nik,nkj->nij", A.astype(np.float64), B.astype(np.float64)),
        rtol=1e-6,
    )


def test_rank2_chained_negative_index(spark):
    """Chained indexing self.R[0][-1] must keep numpy semantics one level
    down — previously _NumpyIndexColumn.__getitem__ returned a plain
    Column, so the second [-1] hit getItem(-1) and silently yielded NULL
    while the raw-Column trace 'succeeded'."""
    import warnings

    @das.dataclass_array(broadcast=True, cast_dtype=True)
    class Chain(das.DcaTable):
        R: f32["*b 2 3"]

        @das.vectorize_method
        def corner(self):
            return {"x": self.R[0][-1], "y": self.R[-1][0]}

    rng = np.random.default_rng(11)
    R = rng.standard_normal((5, 2, 3)).astype(np.float32)
    c = Chain(spark, R=R)
    with warnings.catch_warnings():
        warnings.simplefilter("error", das.VectorizeFallbackWarning)
        f = c.corner().to_numpy_fields()
    assert not np.isnan(f["x"]).any() and not np.isnan(f["y"]).any()
    np.testing.assert_allclose(f["x"], R[:, 0, -1], rtol=1e-6)
    np.testing.assert_allclose(f["y"], R[:, -1, 0], rtol=1e-6)


def test_rank3_symbolic_fallback_negative_index(spark):
    """Rank-3 fields fail SymbolicArray construction (rank<=2) and stay
    raw Columns in symbolic mode — the fallback must still wrap them so
    negative indexing traces to element_at instead of NULL-producing
    getItem(-1)."""
    import warnings

    @das.dataclass_array(broadcast=True, cast_dtype=True)
    class Cube(das.DcaTable):
        T: f32["*b 2 2 2"]
        v: f32["*b 3"]

        @das.vectorize_method
        def mix(self):
            # np.dot on the rank-1 field kills the raw-Column trace, so
            # this method only traces in symbolic mode, where T is the
            # TraceError-fallback raw Column.
            return {"s": np.sqrt(np.dot(self.v, self.v)), "last": self.T[-1]}

    rng = np.random.default_rng(13)
    T = rng.standard_normal((4, 2, 2, 2)).astype(np.float32)
    v = rng.standard_normal((4, 3)).astype(np.float32)
    cu = Cube(spark, T=T, v=v)
    with warnings.catch_warnings():
        warnings.simplefilter("error", das.VectorizeFallbackWarning)
        f = cu.mix().to_numpy_fields()
    np.testing.assert_allclose(
        f["s"], np.sqrt((v.astype(np.float64) ** 2).sum(1)), rtol=1e-6
    )
    np.testing.assert_allclose(f["last"], T[:, -1], rtol=1e-6)


# ---------------------------------------------------------------- booleans
@das.dataclass_array(broadcast=True, cast_dtype=True)
class BoolRay(das.DcaTable):
    """Predicate-style scalar bodies — the reference batches these the
    same as arithmetic ones (vectorization.py:151-196); tier-1 must
    compile them to size(filter)/exists/forall, never the row loop."""

    v: f32["*b 4"]

    @das.vectorize_method
    def stats(self):
        a = np.asarray(self.v)
        pos = a > 0
        return {
            "n_pos": np.sum(pos),
            "n_band": np.count_nonzero((a > -1.0) & (a < 1.0)),
            "any_neg": np.any(a < 0),
            "all_fin": np.all(a < 1e9),
            "frac_pos": np.mean(pos),
            "n_inv": np.sum(~pos),
        }


def _bool_make(spark):
    rng = np.random.RandomState(7)
    v = rng.randn(16, 4).astype(np.float32)
    return BoolRay(spark, v=v), v


def test_bool_reductions_tier1_no_fallback(spark):
    import warnings

    r, v = _bool_make(spark)
    with warnings.catch_warnings():
        warnings.simplefilter("error", das.VectorizeFallbackWarning)
        out = r.stats().to_numpy_fields()
    np.testing.assert_array_equal(out["n_pos"], (v > 0).sum(axis=1))
    np.testing.assert_array_equal(
        out["n_band"], ((v > -1.0) & (v < 1.0)).sum(axis=1)
    )
    np.testing.assert_array_equal(out["any_neg"], (v < 0).any(axis=1))
    np.testing.assert_array_equal(out["all_fin"], (v < 1e9).all(axis=1))
    np.testing.assert_allclose(out["frac_pos"], (v > 0).mean(axis=1))
    np.testing.assert_array_equal(out["n_inv"], (~(v > 0)).sum(axis=1))


def test_bool_plan_is_pure_catalyst(spark):
    import io
    from contextlib import redirect_stdout

    r, _ = _bool_make(spark)
    buf = io.StringIO()
    with redirect_stdout(buf):
        r.stats().df.explain("formatted")
    p = buf.getvalue()
    assert not any(m in p for m in PYTHON_PLAN_NODES)


def test_eq_ne_astype_trace(spark):
    import warnings

    @das.dataclass_array(broadcast=True, cast_dtype=True)
    class Lab(das.DcaTable):
        v: f32["*b 4"]

        @das.vectorize_method
        def marks(self):
            a = np.asarray(self.v)
            z = (a == 0.0)
            return {
                "n_zero": np.sum(z),
                "n_nonzero": np.sum(a != 0.0),
                "as32": (a * 2).astype(np.float32),
            }

    v = np.array([[0, 1, 0, 2], [3, 0, 0, 0]], dtype=np.float32)
    t = Lab(spark, v=v)
    with warnings.catch_warnings():
        warnings.simplefilter("error", das.VectorizeFallbackWarning)
        out = t.marks().to_numpy_fields()
    np.testing.assert_array_equal(out["n_zero"], [2, 3])
    np.testing.assert_array_equal(out["n_nonzero"], [2, 1])
    np.testing.assert_allclose(out["as32"], v * 2)


def test_shift_t2_now_tier1(spark):
    """np.asarray passthrough promotes the numpy-style add body to
    tier-1 — same results, no fallback warning."""
    import warnings

    r = Ray2(spark, pos=np.arange(12, dtype=np.float32).reshape(4, 3))
    o = Offset(spark, delta=np.ones((4, 3), dtype=np.float32) * 10)
    with warnings.catch_warnings():
        warnings.simplefilter("error", das.VectorizeFallbackWarning)
        got = r.shift_t2(o).to_numpy_fields()["p"]
    np.testing.assert_allclose(
        got, np.arange(12, dtype=np.float32).reshape(4, 3) + 10
    )


def test_data_dependent_branch_falls_back_not_silently_wrong(spark):
    """`if self.x > 0:` must NOT trace one arm as always-taken — the
    SymbolicArray __bool__ guard forces the (correct) tier-2 loop."""

    @das.dataclass_array(broadcast=True, cast_dtype=True)
    class Branchy(das.DcaTable):
        v: f32["*b 3"]

        @das.vectorize_method
        def clipped_sum(self):
            a = np.asarray(self.v)
            s = float(np.sum(a))
            if s > 0:
                return {"s": s}
            return {"s": 0.0}

    v = np.array([[1, 2, 3], [-9, 1, 1]], dtype=np.float32)
    t = Branchy(spark, v=v)
    with pytest.warns(das.VectorizeFallbackWarning, match="clipped_sum"):
        out = t.clipped_sum().to_numpy_fields()["s"]
    np.testing.assert_allclose(out, [6.0, 0.0])


def test_tier2_table_arg_roundtrip(spark):
    """Table-arg binding on the tier-2 path (shift_t2 moved to tier-1,
    so an intentionally untraceable body keeps this covered)."""

    @das.dataclass_array(broadcast=True, cast_dtype=True)
    class RayT2(das.DcaTable):
        pos: f32["*b 3"]

        @das.vectorize_method
        def shift_loop(self, other):
            # per-element python iteration is untraceable by design
            # (SymbolicArray.__iter__ raises; float() alone now traces)
            return {
                "m": float(
                    sum(float(x) for x in np.asarray(self.pos) + np.asarray(other.delta))
                )
            }

    pos = np.arange(12, dtype=np.float32).reshape(4, 3)
    delta = np.ones((4, 3), dtype=np.float32)
    r = RayT2(spark, pos=pos)
    o = Offset(spark, delta=delta)
    with pytest.warns(das.VectorizeFallbackWarning, match="shift_loop"):
        got = r.shift_loop(o).to_numpy_fields()["m"]
    np.testing.assert_allclose(got, (pos + delta).sum(axis=1))


def test_tier2a_numpy_batch_execution(spark, tmp_path):
    """Round 9: an untraceable but batch-broadcastable method must run
    ONCE per Arrow batch on (B, *inner) arrays (tier 2a), not once per
    row.  The method appends a line to a shared file per invocation:
    the batch tier makes 1 (schema probe) + per-partition-batch
    (1 whole-batch + up to 7 spread guard-row) calls — at most
    8*32+1 = 257 under any partitioning of 600 rows — while the
    per-row loop makes 600+."""
    calls = str(tmp_path / "calls.txt")

    @das.dataclass_array(broadcast=True, cast_dtype=True)
    class SpacedRay(das.DcaTable):
        dir: f64["*b 3"]

        @das.vectorize_method
        def spaced(self):
            with open(calls, "a") as f:
                f.write("x\n")
            d = np.asarray(self.dir)
            # elementwise-only program: broadcasts over ANY leading
            # batch axis, but np.spacing keeps it untraceable
            return {"s": (np.spacing(d) + d * 2.0).astype(np.float64)}

    rng = np.random.RandomState(5)
    d = rng.randn(600, 3)
    r = SpacedRay(spark, dir=d)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", das.VectorizeFallbackWarning)
        got = r.spaced().to_numpy_fields()["s"]
    np.testing.assert_array_equal(got, np.spacing(d) + d * 2.0)
    n_calls = sum(1 for _ in open(calls))
    assert n_calls <= 257, f"per-row loop ran: {n_calls} method calls for 600 rows"


def test_tier2a_guard_rejects_cross_row_mixing(spark):
    """The batch tier's differential guard must reject methods that
    mix rows once batched (cumsum over what becomes the batch axis)
    and fall back to the per-row loop with correct results."""

    @das.dataclass_array(broadcast=True, cast_dtype=True)
    class MixRay(das.DcaTable):
        dir: f64["*b 3"]

        @das.vectorize_method
        def mixed(self):
            d = np.asarray(self.dir)
            # per-row: cumsum over the 3-vector, take last = sum.
            # batched (B, 3): axis=0 cumsum mixes ROWS but keeps a
            # (B, 3)-compatible shape when B == 3 per-batch — only the
            # differential guard catches it.
            return {"s": float(np.cumsum(d, axis=0)[-1].sum() + 0.0 * np.spacing(d).sum())}

    d = np.arange(12, dtype=np.float64).reshape(4, 3)
    r = MixRay(spark, dir=d)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", das.VectorizeFallbackWarning)
        got = r.mixed().to_numpy_fields()["s"]
    np.testing.assert_array_equal(got, d.sum(axis=1))


def test_tier2a_guard_rejects_late_row_mixing(spark):
    """Round 10 (advice): the differential guard samples rows SPREAD
    across the batch, not just a prefix — a method whose batch
    execution mixes rows only BEYOND the first few (their values
    coincide on a zeros prefix) must still be rejected.  The program
    multiplies each row by its first element; batched, ``d[0]``
    becomes the first ROW of the batch, so every row is contaminated
    by batch row 0 — invisible on a zeros prefix, shape-preserving
    ((B,) out), caught only by mid/late sample rows.  Data is laid
    out so every 100-row createDataFrame slice starts with 10 zero
    rows (a prefix-only guard would accept the batch and emit 0.0 for
    every nonzero row)."""

    @das.dataclass_array(broadcast=True, cast_dtype=True)
    class LateMixRay(das.DcaTable):
        dir: f64["*b 3"]

        @das.vectorize_method
        def headmix(self):
            d = np.asarray(self.dir)
            # np.spacing keeps it off tier-1; the term is 0 either way
            return {
                "s": (d * d[0]).sum(axis=-1)
                + 0.0 * np.spacing(d).sum(axis=-1)
            }

    n = 3200
    d = np.tile(np.array([1.0, 2.0, 3.0]), (n, 1))
    idx = np.arange(n) % 100 < 10
    d[idx] = 0.0
    want = (d * d[:, :1]).sum(axis=-1)  # per-row semantics
    r = LateMixRay(spark, dir=d)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", das.VectorizeFallbackWarning)
        got = r.headmix().to_numpy_fields()["s"]
    np.testing.assert_array_equal(got, want)


@das.dataclass_array(broadcast=True, cast_dtype=True)
class SpinBox(das.DcaTable):
    pos: f32["*b 3"]
    rot: f32["*b 3 3"]

    @das.vectorize_method
    def spaced(self):
        # elementwise over the 3x3 field; np.spacing keeps it off tier 1,
        # so it runs on the numpy tier's whole-batch (B, 3, 3) arrays
        r = np.asarray(self.rot)
        return {"s": (np.spacing(r) + r * 2.0).astype(np.float32)}

    @das.vectorize_method
    def trace2(self):
        # np.trace of a (B, 3, 3) batch sums the wrong axes, so the batch
        # guard rejects it and the per-row loop decodes each 3x3 cell
        r = np.asarray(self.rot)
        return {"tr": float(np.trace(r @ r) + 0.0 * np.spacing(r).sum())}


def test_numpy_tier_rank2_field_matches_numpy(spark):
    """The numpy tier decodes a rank-2 field (Arrow hands each cell back
    as an object array of row arrays) on both the whole-batch and the
    per-row path, and matches numpy."""
    rng = np.random.default_rng(3)
    pos = rng.standard_normal((40, 3)).astype(np.float32)
    rot = rng.standard_normal((40, 3, 3)).astype(np.float32)
    t = SpinBox(spark, pos=pos, rot=rot).reshape((5, 8))
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", das.VectorizeFallbackWarning)
        s = t.spaced().to_numpy_fields()["s"]
        tr = t.trace2().to_numpy_fields()["tr"]
    np.testing.assert_array_equal(s, (np.spacing(rot) + rot * 2.0).reshape(5, 8, 3, 3))
    want = np.array([np.trace(m @ m) for m in rot], dtype=np.float64).reshape(5, 8)
    np.testing.assert_allclose(tr, want, rtol=1e-6)


def _identity_cls(dtype, inner, per_row):
    """A class whose identity method stays off tier 1 (np.spacing has no
    Catalyst mapping).  ``per_row`` makes the body raise when given a
    leading batch axis, so only the per-row loop can run it."""
    from dataclass_array_spark.core.schema import ArraySpec

    def ident(self):
        x = np.asarray(self.x)
        np.spacing(np.zeros(np.shape(x)))
        if per_row and x.ndim != len(inner):
            raise ValueError("batched call")
        return {"y": x}

    return das.dataclass_array(cast_dtype=True)(
        type(
            "Ident",
            (das.DcaTable,),
            {
                "__annotations__": {"x": ArraySpec(dtype, inner)},
                "ident": das.vectorize_method(ident),
            },
        )
    )


@pytest.mark.parametrize("per_row", [False, True], ids=["batch", "per_row"])
@pytest.mark.parametrize("inner", [(), (2, 3)], ids=["rank0", "rank2"])
@pytest.mark.parametrize("dtype", _ROUNDTRIP_DTYPES, ids=lambda d: d.name)
def test_numpy_tier_dtype_identity(spark, dtype, inner, per_row):
    """The numpy tier decodes and encodes every dtype of the Spark
    mapping exactly (iinfo bounds, uint64 past int64, non-ASCII
    strings, complex as struct<re, im>), on the whole-batch tier and on
    the per-row loop."""
    want = _values(dtype, _BATCH + inner, np.random.default_rng(len(inner)))
    t = _identity_cls(dtype, inner, per_row)(spark, x=want)
    with pytest.warns(das.VectorizeFallbackWarning, match="ident"):
        out = t.ident()
    _assert_exact(out.to_numpy_fields()["y"], want)


def test_numpy_tier_rejects_malformed_rows(spark):
    """Rows whose length breaks the declared inner shape raise the core
    decoder's ShapeError, as ``to_numpy_fields`` does, instead of being
    summed silently."""
    from pyspark.sql import types as T

    from dataclass_array_spark.core.schema import ShapeError

    @das.dataclass_array(broadcast=True, cast_dtype=True)
    class Vec(das.DcaTable):
        v: f32["*b 3"]

        @das.vectorize_method
        def total(self):
            d = np.asarray(self.v)
            return {"s": float(np.sum(d) + 0.0 * np.spacing(d).sum())}

    schema = T.StructType([T.StructField("v", T.ArrayType(T.FloatType()))])
    rows = [([1.0, 2.0, 3.0],), ([1.0, 2.0],), ([4.0, 5.0, 6.0, 7.0],)]
    t = Vec.from_df(spark.createDataFrame(rows, schema))
    with pytest.raises(ShapeError, match="ragged or not 3"):
        t.to_numpy_fields()
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", das.VectorizeFallbackWarning)
        out = t.total()
    with pytest.raises(Exception, match="ragged or not 3"):
        out.to_numpy_fields()


@pytest.mark.parametrize("inner", [(), (3,)], ids=["rank0", "rank1"])
def test_numpy_tier_method_writing_its_inputs(spark, inner):
    """A method that writes into its input arrays sees each row's values
    exactly once: the whole-batch call gets read-only arrays (so it fails
    and the per-row loop runs), and each row gets its own copy."""
    from dataclass_array_spark.core.schema import ArraySpec

    def bump(self):
        d = np.asarray(self.x)
        d += 1.0
        return {"y": d * 2.0 + 0.0 * np.spacing(d)}

    cls = das.dataclass_array(cast_dtype=True)(
        type(
            "Bump",
            (das.DcaTable,),
            {
                "__annotations__": {"x": ArraySpec(np.dtype(np.float64), inner)},
                "bump": das.vectorize_method(bump),
            },
        )
    )
    x = np.arange(40 * int(np.prod(inner)), dtype=np.float64).reshape((40,) + inner)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", das.VectorizeFallbackWarning)
        got = cls(spark, x=x).bump().to_numpy_fields()["y"]
    np.testing.assert_array_equal(got, (x + 1.0) * 2.0)
