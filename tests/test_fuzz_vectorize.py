"""Hypothesis differential fuzzing of the tier-1 symbolic tracer.

The reference's core promise is that ``@vectorize_method`` batches an
ARBITRARY scalar-written method (`vectorization.py:151-196`; the test
matrix at `vectorization_test.py:39-106` uses free-form numpy bodies).
Our tier-1 analog compiles such bodies to Catalyst expressions via
SymbolicArray (symbolic.py).  This fuzz generates random typed
expression trees from the supported grammar — arithmetic, comparisons,
boolean algebra, reductions (incl. boolean ``sum``/``count_nonzero``/
``any``/``all``), ``np.dot``, indexing, ``np.asarray`` passthrough —
and asserts BOTH:

1. the trace succeeds (``strict=True``: any silent fallback to the
   per-row Arrow loop is a test failure, not a warning), and
2. the Catalyst result is exactly equal to the per-row numpy oracle.

Inputs are small integers stored as float64, and the grammar excludes
division/sqrt/exp, so every op is exact in IEEE double — comparisons
are bit-safe and equality is exact, no tolerance needed.

Round-7 additions: a FRACTIONAL corpus (k/4 grid — quarters and the
x.5 halfway cases that distinguish bround's half-even from half-up;
still exact in double, so equality stays bitwise), a NaN/±inf corpus
(the tracer pins numpy/IEEE NaN semantics where Spark's differ —
comparisons, minimum, clip, min-reductions, argmin, floor/ceil), and
``float()``/``int()`` scalar-coercion nodes (the trace-window builtins
stand-ins — mixed scalar/array bodies like the reference's).
"""

import numpy as np
import pytest

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

import dataclass_array_spark as das
from dataclass_array_spark.core.schema import f64
from tests.conftest import PYTHON_PLAN_NODES

# The method body under test; swapped per example (driver-side only —
# tier-1 never ships the closure to an executor).
_BODY = {"fn": None}


@das.dataclass_array(broadcast=True, cast_dtype=True)
class VT(das.DcaTable):
    x: f64
    v: f64["*b 3"]

    @das.vectorize_method(strict=True)
    def compute(self):
        return {"r": _BODY["fn"](self)}


_N = 7


def _data(kind="int"):
    rng = np.random.RandomState(7)
    x = rng.randint(-4, 5, size=_N).astype(np.float64)
    v = rng.randint(-4, 5, size=(_N, 3)).astype(np.float64)
    # ties + zeros on purpose: max/min/comparison edge cases
    v[2] = 0.0
    v[3] = v[1]
    if kind == "frac":
        # k/4 grid: quarters + x.5 halfway points (bround half-even
        # territory), still exactly representable in double
        x = rng.randint(-10, 11, size=_N).astype(np.float64) / 4.0
        v = rng.randint(-10, 11, size=(_N, 3)).astype(np.float64) / 4.0
        x[0], x[1] = 0.5, -1.5  # guaranteed halfway cases
        v[2] = [0.5, 1.5, 2.5]
        v[3] = v[1]
    elif kind == "nan":
        x = x / 4.0
        v = v / 4.0
        x[0] = np.nan
        x[4] = np.inf
        v[1, 0] = np.nan
        v[2] = [np.nan, -np.inf, 0.5]
        v[5, 2] = np.inf
    return x, v


_TABLE = {}


def table(spark, kind="int"):
    if kind not in _TABLE:
        x, v = _data(kind)
        _TABLE[kind] = VT(spark, x=x, v=v)
    return _TABLE[kind]


# ---------------------------------------------------------------------------
# Typed expression grammar.  Node = tuple; first element is the op tag.
# Types: "s" float scalar, "v" float 3-vector, "bs" bool scalar,
# "bv" bool 3-vector.
# ---------------------------------------------------------------------------

_CMPS = [">", ">=", "<", "<=", "==", "!="]


def _gen(draw, typ, depth):
    """Draw an AST of the given type.  Returns (ast, uses_field)."""
    leaf = depth <= 0 or draw(st.booleans())
    if typ == "s":
        if leaf:
            if draw(st.booleans()):
                return ("x",), True
            return ("lit", draw(st.integers(-3, 3))), False
        op = draw(
            st.sampled_from(
                ["add", "sub", "mul", "neg", "abs", "max2", "min2",
                 "idx", "dot", "sum", "vmax", "vmin", "bsum", "bcnt",
                 "addb", "mulb", "floor", "ceil", "sign", "rint",
                 "clip", "where_s", "argmax", "argmin",
                 "pyfloat", "pyint"]
            )
        )
        if op in ("floor", "ceil", "sign", "rint", "pyfloat", "pyint"):
            a, ua = _gen(draw, "s", depth - 1)
            return (op, a), ua
        if op == "clip":
            a, ua = _gen(draw, "s", depth - 1)
            lo = draw(st.integers(-2, 2))
            return (op, a, lo, lo + draw(st.integers(-1, 3))), ua
        if op == "where_s":
            c, uc = _gen(draw, "bs", depth - 1)
            a, ua = _gen(draw, "s", depth - 1)
            b, ub = _gen(draw, "s", depth - 1)
            return ("where", c, a, b), uc or ua or ub
        if op in ("argmax", "argmin"):
            a, ua = _gen(draw, "v", depth - 1)
            return (op, a), ua
        if op in ("addb", "mulb"):
            # numpy arithmetic over booleans: True behaves as 1
            a, ua = _gen(draw, "s", depth - 1)
            b, ub = _gen(draw, "bs", depth - 1)
            return ("add" if op == "addb" else "mul", a, b), ua or ub
        if op in ("add", "sub", "mul", "max2", "min2"):
            a, ua = _gen(draw, "s", depth - 1)
            b, ub = _gen(draw, "s", depth - 1)
            return (op, a, b), ua or ub
        if op in ("neg", "abs"):
            a, ua = _gen(draw, "s", depth - 1)
            return (op, a), ua
        if op == "idx":
            a, ua = _gen(draw, "v", depth - 1)
            return (op, a, draw(st.integers(-3, 2))), ua
        if op == "dot":
            a, ua = _gen(draw, "v", depth - 1)
            b, ub = _gen(draw, "v", depth - 1)
            return (op, a, b), ua or ub
        if op in ("sum", "vmax", "vmin"):
            a, ua = _gen(draw, "v", depth - 1)
            return (op, a), ua
        # bsum / bcnt: integer count of a boolean vector
        a, ua = _gen(draw, "bv", depth - 1)
        return (op, a), ua
    if typ == "v":
        if leaf:
            a = ("v",)
            if draw(st.booleans()):
                a = ("asarray", a)  # np.asarray passthrough (trace_context)
            return a, True
        op = draw(
            st.sampled_from(
                ["add", "sub", "mul", "neg", "abs", "max2", "vs",
                 "clipv", "wherev", "floor", "sign"]
            )
        )
        if op in ("floor", "sign"):
            a, ua = _gen(draw, "v", depth - 1)
            return (op, a), ua
        if op == "clipv":
            a, ua = _gen(draw, "v", depth - 1)
            lo = draw(st.integers(-2, 2))
            return ("clip", a, lo, lo + draw(st.integers(-1, 3))), ua
        if op == "wherev":
            c, uc = _gen(draw, "bv", depth - 1)
            a, ua = _gen(draw, "v" if draw(st.booleans()) else "s", depth - 1)
            b, ub = _gen(draw, "v" if draw(st.booleans()) else "s", depth - 1)
            return ("where", c, a, b), uc or ua or ub
        if op == "vs":  # vector ⊙ scalar broadcast
            a, ua = _gen(draw, "v", depth - 1)
            b, ub = _gen(draw, "s", depth - 1)
            o2 = draw(st.sampled_from(["add", "mul", "sub"]))
            return (o2, a, b) if draw(st.booleans()) else (o2, b, a), ua or ub
        if op in ("neg", "abs"):
            a, ua = _gen(draw, "v", depth - 1)
            return (op, a), ua
        a, ua = _gen(draw, "v", depth - 1)
        b, ub = _gen(draw, "v", depth - 1)
        return (op, a, b), ua or ub
    if typ == "bs":
        if leaf or depth <= 0:
            op = draw(st.sampled_from(_CMPS))
            a, ua = _gen(draw, "s", max(depth - 1, 0))
            b, ub = _gen(draw, "s", max(depth - 1, 0))
            return ("cmp", op, a, b), ua or ub
        op = draw(st.sampled_from(["and", "or", "xor", "not", "any", "all"]))
        if op == "not":
            a, ua = _gen(draw, "bs", depth - 1)
            return (op, a), ua
        if op in ("any", "all"):
            a, ua = _gen(draw, "bv", depth - 1)
            return (op, a), ua
        a, ua = _gen(draw, "bs", depth - 1)
        b, ub = _gen(draw, "bs", depth - 1)
        return (op, a, b), ua or ub
    # bv: boolean 3-vector
    if leaf or depth <= 0:
        op = draw(st.sampled_from(_CMPS))
        a, ua = _gen(draw, "v", max(depth - 1, 0))
        if draw(st.booleans()):
            return ("cmp", op, a, ("lit", draw(st.integers(-2, 2)))), ua
        b, ub = _gen(draw, "v", max(depth - 1, 0))
        return ("cmp", op, a, b), ua or ub
    op = draw(st.sampled_from(["and", "or", "xor", "not"]))
    if op == "not":
        a, ua = _gen(draw, "bv", depth - 1)
        return (op, a), ua
    a, ua = _gen(draw, "bv", depth - 1)
    b, ub = _gen(draw, "bv", depth - 1)
    return (op, a, b), ua or ub


def ev(ast, view):
    """Evaluate an AST against a view — works identically for the
    symbolic trace view (SymbolicArray fields) and the per-row numpy
    oracle, because SymbolicArray implements the numpy protocols."""
    t = ast[0]
    if t == "x":
        return view.x
    if t == "v":
        return view.v
    if t == "lit":
        # np.float64, not float: constant-folded comparisons then yield
        # np.bool_ (where ~ is logical not) instead of Python bool
        # (where ~False == -1, which is neither numpy nor traceable)
        return np.float64(ast[1])
    if t == "asarray":
        return np.asarray(ev(ast[1], view))
    if t == "add":
        return ev(ast[1], view) + ev(ast[2], view)
    if t == "sub":
        return ev(ast[1], view) - ev(ast[2], view)
    if t == "mul":
        return ev(ast[1], view) * ev(ast[2], view)
    if t == "neg":
        return -ev(ast[1], view)
    if t == "abs":
        return abs(ev(ast[1], view))
    if t == "max2":
        return np.maximum(ev(ast[1], view), ev(ast[2], view))
    if t == "min2":
        return np.minimum(ev(ast[1], view), ev(ast[2], view))
    if t == "idx":
        return ev(ast[1], view)[ast[2]]
    if t == "dot":
        return np.dot(ev(ast[1], view), ev(ast[2], view))
    if t == "sum":
        return np.sum(ev(ast[1], view))
    if t == "vmax":
        return np.max(ev(ast[1], view))
    if t == "vmin":
        return np.min(ev(ast[1], view))
    if t == "floor":
        return np.floor(ev(ast[1], view))
    if t == "ceil":
        return np.ceil(ev(ast[1], view))
    if t == "sign":
        return np.sign(ev(ast[1], view))
    if t == "rint":
        return np.rint(ev(ast[1], view))
    if t == "pyfloat":
        # under trace_context `float` is the stand-in: 0-d symbolic
        # passes through as a double cast; numpy-side it's real float()
        return float(ev(ast[1], view))
    if t == "pyint":
        return int(ev(ast[1], view))
    if t == "clip":
        return np.clip(ev(ast[1], view), float(ast[2]), float(ast[3]))
    if t == "where":
        return np.where(ev(ast[1], view), ev(ast[2], view), ev(ast[3], view))
    if t == "argmax":
        return np.argmax(ev(ast[1], view))
    if t == "argmin":
        return np.argmin(ev(ast[1], view))
    if t == "bsum":
        return np.sum(ev(ast[1], view))
    if t == "bcnt":
        return np.count_nonzero(ev(ast[1], view))
    if t == "any":
        return np.any(ev(ast[1], view))
    if t == "all":
        return np.all(ev(ast[1], view))
    if t == "cmp":
        a, b = ev(ast[2], view), ev(ast[3], view)
        op = ast[1]
        if op == ">":
            return a > b
        if op == ">=":
            return a >= b
        if op == "<":
            return a < b
        if op == "<=":
            return a <= b
        if op == "==":
            return a == b
        return a != b
    if t == "and":
        return ev(ast[1], view) & ev(ast[2], view)
    if t == "or":
        return ev(ast[1], view) | ev(ast[2], view)
    if t == "xor":
        return ev(ast[1], view) ^ ev(ast[2], view)
    if t == "not":
        return ~ev(ast[1], view)
    raise AssertionError(f"unknown node {t}")


class _Row:
    def __init__(self, x, v):
        self.x = x
        self.v = v


@st.composite
def out_expr(draw):
    typ = draw(st.sampled_from(["s", "s", "bs", "v", "bv"]))
    depth = draw(st.integers(1, 4))
    ast, uses_field = _gen(draw, typ, depth)
    if not uses_field:
        # a constant expression isn't a batched method — regenerate
        # with a field forced in at the root
        if typ in ("s", "v"):
            ast = ("add", ast, ("x",) if typ == "s" else ("v",))
        elif typ == "bs":
            ast = ("or", ast, ("cmp", ">", ("x",), ("lit", 0)))
        else:
            ast = ("or", ast, ("cmp", ">", ("v",), ("lit", 0)))
    return ast


def _run_example(spark, ast, kind, skip_oracle_errors=False):
    t = table(spark, kind)
    _BODY["fn"] = lambda view: ev(ast, view)
    x, v = _data(kind)
    try:
        exp = np.array([ev(ast, _Row(x[i], v[i])) for i in range(_N)])
    except (ValueError, OverflowError):
        if skip_oracle_errors:
            # int(NaN)/int(inf) raise in numpy — examples where the
            # scalar program itself is erroneous are out of scope
            return
        raise
    # strict=True: a trace failure raises instead of silently running
    # the per-row Arrow loop — the grammar must ALWAYS stay tier-1.
    out = t.compute().to_numpy_fields()["r"]
    assert out.shape == exp.shape, f"shape {out.shape} != {exp.shape} for {ast}"
    # exact: inputs sit on an exact-in-double grid and all grammar ops
    # are exact (no division/sqrt), so Catalyst and numpy must agree
    # bitwise — including NaN placement (equal_nan)
    np.testing.assert_array_equal(
        np.asarray(out, dtype=np.float64),
        np.asarray(exp, dtype=np.float64),
        err_msg=f"ast {ast}",
    )


@settings(
    max_examples=120,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(out_expr())
def test_fuzz_tier1_trace_matches_numpy(spark, ast):
    _run_example(spark, ast, "int")


@settings(
    max_examples=60,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(out_expr())
def test_fuzz_tier1_fractional_corpus(spark, ast):
    """Quarters + x.5 halfway values: exercises bround half-even,
    floor/ceil on fractional input, clip interior hits, and int()
    truncation — regimes the integer corpus never reaches."""
    _run_example(spark, ast, "frac")


@settings(
    max_examples=60,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(out_expr())
def test_fuzz_tier1_nan_corpus(spark, ast):
    """NaN/±inf corpus: every guarded op (comparisons, minimum, clip,
    min-reductions, argmin, floor/ceil) must place NaNs exactly where
    numpy does — Spark's native NaN ordering would not."""
    _run_example(spark, ast, "nan", skip_oracle_errors=True)


def test_tier1_plan_has_no_python_stage(spark):
    """The traced plan must stay JVM-side: no Python evaluation node
    (MapInPandas / MapInArrow / BatchEvalPython / ArrowEvalPython /
    PythonUDF) anywhere."""
    t = table(spark)
    _BODY["fn"] = lambda view: np.sum(np.asarray(view.v) > 0) + (view.x > 1)
    out = t.compute()
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    for bad in PYTHON_PLAN_NODES:
        assert bad not in plan, f"{bad} found in tier-1 plan:\n{plan}"


def test_rint_half_even_boundaries(spark):
    """Targeted x.5 cases: np.rint rounds half-to-even — Spark bround,
    NOT round (half-up).  Exact equality per value."""
    vals = np.array([0.5, 1.5, 2.5, 3.5, -0.5, -1.5, -2.5, 0.25, -0.75],
                    dtype=np.float64)
    t = VT(spark, x=vals, v=np.zeros((len(vals), 3)))
    _BODY["fn"] = lambda view: np.rint(view.x)
    got = t.compute().to_numpy_fields()["r"]
    np.testing.assert_array_equal(got, np.rint(vals))


def test_nan_semantics_targeted(spark):
    """Pinned NaN semantics where Spark SQL and numpy disagree: each
    guarded op placed against its numpy oracle on a NaN/inf vector."""
    nan, inf = np.nan, np.inf
    x = np.array([nan, 2.0, -1.0, inf, -inf], dtype=np.float64)
    v = np.array(
        [[nan, 1.0, 2.0], [3.0, nan, -1.0], [1.0, 2.0, 3.0],
         [inf, -inf, nan], [0.5, -0.5, 1.5]],
        dtype=np.float64,
    )
    t = VT(spark, x=x, v=v)
    cases = {
        "cmp_gt": lambda view: view.x > 0.0,       # NaN > 0 is False
        "cmp_le": lambda view: view.x <= 0.0,      # NaN <= 0 is False
        "cmp_ne": lambda view: view.x != view.x,   # NaN != NaN is True
        "minimum": lambda view: np.minimum(view.x, 0.0),  # propagates NaN
        "maximum": lambda view: np.maximum(view.x, 0.0),
        "clip": lambda view: np.clip(view.x, -1.0, 1.0),  # NaN stays NaN
        "floor": lambda view: np.floor(view.x),    # NaN/±inf unchanged
        "ceil": lambda view: np.ceil(view.x),
        "vmin": lambda view: np.min(view.v),       # NaN propagates
        "vmax": lambda view: np.max(view.v),
        "argmin": lambda view: np.argmin(view.v),  # first-NaN index
        "argmax": lambda view: np.argmax(view.v),
    }
    for name, fn in cases.items():
        _BODY["fn"] = fn
        got = t.compute().to_numpy_fields()["r"]
        exp = np.array([fn(_Row(x[i], v[i])) for i in range(len(x))])
        np.testing.assert_array_equal(
            np.asarray(got, dtype=np.float64),
            np.asarray(exp, dtype=np.float64),
            err_msg=name,
        )


# ------------------------------------------------------------------
# Transcendental ufuncs (round 8): these trace tier-1 to the 1:1
# Catalyst functions.  JVM Math.* and numpy's platform libm are NOT
# bit-identical (neither library is correctly rounded), so this class
# asserts the documented contract instead: <= 4 ulp on finite values
# and EXACT IEEE special placement (NaN/±inf positions and signs,
# including the _ieee_log domain-boundary guard where raw Spark
# returns NULL).  The bitwise grammar fuzz above deliberately keeps
# excluding these ops.

_TRANS_UNARY = [
    np.sin, np.cos, np.tan, np.arcsin, np.arccos, np.arctan,
    np.sinh, np.cosh, np.tanh, np.exp, np.expm1,
    np.log, np.log10, np.log2, np.log1p,
    np.cbrt, np.sqrt, np.radians, np.degrees,
    # round 9: inverse hyperbolics (asinh/acosh via the fdlibm branch
    # structure — Spark's naive log-forms fail near domain edges; see
    # symbolic._asinh_acc), exp2, and the exact square/trunc
    np.arcsinh, np.arccosh, np.arctanh, np.exp2, np.square, np.trunc,
]


def _assert_ulp(got, want, n_ulp=4, ctx=""):
    import math

    got = np.asarray(got, dtype=np.float64)
    want = np.asarray(want, dtype=np.float64)
    assert got.shape == want.shape
    assert np.array_equal(np.isnan(got), np.isnan(want)), (
        f"NaN placement differs {ctx}"
    )
    inf_g, inf_w = np.isinf(got), np.isinf(want)
    assert np.array_equal(inf_g, inf_w) and np.array_equal(
        got[inf_g], want[inf_w]
    ), f"inf placement/sign differs {ctx}"
    ok = np.isfinite(got) & np.isfinite(want)
    for g, w in zip(got[ok], want[ok]):
        u = math.ulp(max(abs(g), abs(w))) or 5e-324
        assert abs(g - w) <= n_ulp * u, f"{ctx}: {g!r} vs {w!r} > {n_ulp} ulp"


def _trans_corpus():
    rng = np.random.RandomState(83)
    xs = np.concatenate(
        [
            rng.randn(40),
            rng.randn(20) * 100.0,
            rng.uniform(-1.0, 1.0, 30),
            rng.uniform(0.0, 1e-8, 10),
            rng.uniform(1e8, 1e16, 10),
            # domain boundaries + specials: log(±0) = -inf, log(<0) =
            # NaN, log1p(-1) = -inf, arcsin(|x|>1) = NaN, overflow->inf
            np.array(
                [0.0, -0.0, 1.0, -1.0, 0.5, -0.5, 2.0, -2.0, np.pi,
                 -np.pi, 1e300, -1e300, 1e-300, np.inf, -np.inf, np.nan]
            ),
        ]
    )
    return xs


def test_transcendental_ufuncs_trace_tier1_within_ulp(spark):
    import warnings

    xs = _trans_corpus()
    t = VT(spark, x=xs, v=np.zeros((len(xs), 3)))
    for nf in _TRANS_UNARY:
        _BODY["fn"] = lambda view, nf=nf: nf(view.x)
        out = t.compute().to_numpy_fields()["r"]  # strict=True: MUST trace
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            want = nf(xs)
        _assert_ulp(out, want, ctx=nf.__name__)


def test_transcendental_binaries_trace_tier1_within_ulp(spark):
    import warnings

    xs = _trans_corpus()
    t = VT(spark, x=xs, v=np.zeros((len(xs), 3)))
    cases = [
        ("atan2_fwd", lambda view: np.arctan2(view.x, view.x * 0.3 + 0.1),
         lambda x: np.arctan2(x, x * 0.3 + 0.1)),
        ("atan2_rev", lambda view: np.arctan2(np.float64(0.5), view.x),
         lambda x: np.arctan2(0.5, x)),
        ("hypot_fwd", lambda view: np.hypot(view.x, view.x - 1.0),
         lambda x: np.hypot(x, x - 1.0)),
        ("hypot_rev", lambda view: np.hypot(np.float64(2.0), view.x),
         lambda x: np.hypot(2.0, x)),
        # round 9: modulo family + NaN-ignoring extrema.  These must be
        # BIT-exact (pure arithmetic, no libm) — the <=4 ulp slack of
        # _assert_ulp is only exercised by the transcendentals above.
        ("fmod_fwd", lambda view: np.fmod(view.x, np.float64(-3.0)),
         lambda x: np.fmod(x, -3.0)),
        ("fmod_zero", lambda view: np.fmod(view.x, np.float64(0.0)),
         lambda x: np.fmod(x, 0.0)),
        ("mod_fwd", lambda view: np.mod(view.x, np.float64(-3.0)),
         lambda x: np.mod(x, -3.0)),
        ("mod_dunder", lambda view: view.x % np.float64(3.0),
         lambda x: np.mod(x, 3.0)),
        ("mod_rdunder", lambda view: np.float64(5.0) % (view.x + 4.0),
         lambda x: np.mod(5.0, x + 4.0)),
        ("mod_inf_div", lambda view: np.mod(view.x, np.float64(np.inf)),
         lambda x: np.mod(x, np.inf)),
        ("floordiv", lambda view: view.x // np.float64(-3.0),
         lambda x: np.floor_divide(x, -3.0)),
        ("floordiv_zero", lambda view: np.floor_divide(view.x, np.float64(0.0)),
         lambda x: np.floor_divide(x, 0.0)),
        ("floordiv_inf", lambda view: np.floor_divide(view.x, np.float64(np.inf)),
         lambda x: np.floor_divide(x, np.inf)),
        # round 10: NON-dyadic divisors exercise npy_divmod's final
        # quotient-snap step ((a-fmod)/b rounds off-integer for any
        # divisor that isn't a power of two — 3.0 // 0.1 must be 29.0,
        # not 29.000000000000004).  The dyadic-only corpus above was a
        # blind spot for that step.
        ("floordiv_nondyadic", lambda view: view.x // np.float64(0.1),
         lambda x: np.floor_divide(x, 0.1)),
        ("floordiv_nondyadic_neg", lambda view: np.floor_divide(view.x, np.float64(-0.3)),
         lambda x: np.floor_divide(x, -0.3)),
        # divisor form keeps -0.0 out of the divisor (x = -0.0 maps to
        # +0.1) — the signed-zero divisor is _ieee_div's one documented
        # divergence and is excluded from corpora, see
        # test_ieee_division_by_zero.
        ("rfloordiv_nondyadic", lambda view: np.float64(3.0) // (view.x * 0.3 + 0.1),
         lambda x: np.floor_divide(3.0, x * 0.3 + 0.1)),
        ("rfloordiv", lambda view: np.float64(7.0) // (view.x + 4.0),
         lambda x: np.floor_divide(7.0, x + 4.0)),
        ("fmin_nan", lambda view: np.fmin(view.x, np.float64(0.5)),
         lambda x: np.fmin(x, 0.5)),
        ("fmax_nan", lambda view: np.fmax(view.x, np.float64(0.5)),
         lambda x: np.fmax(x, 0.5)),
        ("deg2rad", lambda view: np.deg2rad(view.x), np.deg2rad),
        ("rad2deg", lambda view: np.rad2deg(view.x), np.rad2deg),
        ("fabs", lambda view: np.fabs(view.x), np.fabs),
    ]
    for name, body, oracle in cases:
        _BODY["fn"] = body
        out = t.compute().to_numpy_fields()["r"]
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            want = oracle(xs)
        _assert_ulp(out, want, ctx=name)


def test_ieee_division_by_zero(spark):
    """Round 9: x/0 must follow IEEE (±inf by sign of x, 0/0 and
    NaN/0 → NaN) — raw Spark division returns NULL for any zero
    divisor.  The knowing divergence (-0.0 divisor treated as +0.0)
    is excluded from the corpus and documented in symbolic._ieee_div."""
    num = np.array([3.0, -2.0, 0.0, np.nan, np.inf, -np.inf, 1e-300, -5.0])
    den = np.array([0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 2.0])
    t = VT(spark, x=num, v=np.tile(den, (3, 1)).T)
    cases = [
        ("div_lit_zero", lambda view: view.x / np.float64(0.0),
         lambda n, d: n / 0.0),
        ("div_elem", lambda view: view.x / view.v[0], lambda n, d: n / d),
        ("rdiv", lambda view: np.float64(1.0) / (view.x + 2.0), lambda n, d: 1.0 / (n + 2.0)),
        ("true_divide", lambda view: np.true_divide(view.x, view.v[0]), lambda n, d: n / d),
        ("reciprocal", lambda view: np.reciprocal(view.x + 2.0), lambda n, d: np.reciprocal(n + 2.0)),
    ]
    import warnings

    for name, body, oracle in cases:
        _BODY["fn"] = body
        with warnings.catch_warnings():
            warnings.simplefilter("error", das.VectorizeFallbackWarning)
            out = np.asarray(t.compute().to_numpy_fields()["r"], dtype=np.float64)
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            want = np.array([oracle(n, d) for n, d in zip(num, den)], dtype=np.float64)
        np.testing.assert_array_equal(out, want, err_msg=name)


def test_transcendental_vector_elementwise(spark):
    """Vector-rank coverage: the same ufuncs map elementwise over
    array fields through the zip_with machinery."""
    import warnings

    rng = np.random.RandomState(19)
    v = rng.randn(9, 3)
    v[0] = [0.0, -1.0, np.nan]
    v[1] = [np.inf, -np.inf, 0.5]
    t = VT(spark, x=np.zeros(9), v=v)
    for nf in (np.sin, np.log, np.cosh, np.log1p):
        _BODY["fn"] = lambda view, nf=nf: np.sum(nf(view.v))
        out = t.compute().to_numpy_fields()["r"]
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            want = np.array([np.sum(nf(v[i])) for i in range(len(v))])
        _assert_ulp(out, want, n_ulp=16, ctx=f"vec_{nf.__name__}")
