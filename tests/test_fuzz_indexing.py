"""Hypothesis differential fuzzing of batch indexing + reshape against
the numpy oracle — the randomized generalization of the hand-picked
cases in tests/test_indexing.py (reference strategy:
array_dataclass_test.py:459-494 ``test_normalize_indices``).

Every generated index expression is evaluated BOTH ways: numpy on the
backing ndarray and the Spark table's strided view of its base frame.  The
result (shape, values) must match exactly — and when numpy raises
IndexError, the table must raise IndexError too, so the error surface
is fuzzed along with the happy path.

Tables are cached per batch shape (they're immutable), so the per-
example cost is one small Spark job, not a table build.
"""

import numpy as np
import pytest

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

import dataclass_array_spark as das
from dataclass_array_spark.core.schema import f32
from tests.conftest import assert_np_equal


@das.dataclass_array(broadcast=True, cast_dtype=True)
class P(das.DcaTable):
    v: f32


_CACHE: dict = {}


def cached(shape, spark):
    if shape not in _CACHE:
        n = int(np.prod(shape))
        v = np.arange(n, dtype=np.float32).reshape(shape)
        _CACHE[shape] = (P(spark, v=v), v)
    return _CACHE[shape]


SHAPES = st.lists(st.integers(1, 4), min_size=1, max_size=3).map(tuple)


@st.composite
def index_tuple(draw, ndim):
    """A basic-index tuple for an ``ndim``-d batch: ints (possibly out of
    bounds), positive-step slices, Nones, and at most one Ellipsis —
    numpy decides validity, so both the happy and IndexError paths are
    exercised."""
    n_real = draw(st.integers(0, min(ndim + 1, 3)))  # +1 → too-many-indices path
    atom = st.one_of(
        st.integers(-5, 5),
        st.builds(
            slice,
            st.one_of(st.none(), st.integers(-5, 5)),
            st.one_of(st.none(), st.integers(-5, 5)),
            st.one_of(st.none(), st.integers(1, 3)),
        ),
    )
    parts = [draw(atom) for _ in range(n_real)]
    for _ in range(draw(st.integers(0, 2))):  # sprinkle in None (new axes)
        parts.insert(draw(st.integers(0, len(parts))), None)
    if draw(st.booleans()):
        parts.insert(draw(st.integers(0, len(parts))), Ellipsis)
    return tuple(parts)


@st.composite
def shape_and_index(draw):
    """A batch shape plus a basic-index tuple for it."""
    shape = draw(SHAPES)
    return shape, draw(index_tuple(len(shape)))


@settings(
    max_examples=200,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(shape_and_index())
def test_fuzz_basic_indexing(spark, si):
    shape, idx = si
    p, v = cached(shape, spark)
    try:
        exp = v[idx]
    except IndexError:
        with pytest.raises(IndexError):
            p[idx]
        return
    got = p[idx]
    assert got.shape == exp.shape
    assert_np_equal(got, {"v": exp})


@settings(max_examples=120, deadline=None, derandomize=True, suppress_health_check=[HealthCheck.too_slow])
@given(st.data())
def test_fuzz_mask_and_gather(spark, data):
    shape = data.draw(SHAPES)
    p, v = cached(shape, spark)
    if data.draw(st.booleans(), label="mask?"):
        # boolean mask over the leading k batch dims; size is sometimes
        # deliberately wrong so the IndexError surface is fuzzed too
        k = data.draw(st.integers(1, len(shape)), label="mask_rank")
        want = int(np.prod(shape[:k]))
        n = data.draw(
            st.one_of(st.just(want), st.integers(max(1, want - 2), want + 2)),
            label="mask_len",
        )
        bits = data.draw(
            st.lists(st.booleans(), min_size=n, max_size=n), label="mask"
        )
        if n == want:
            mask = np.array(bits).reshape(shape[:k])
            assert_np_equal(p[mask], {"v": v[mask]})
        else:
            mask = np.array(bits)  # 1-D, wrong length for axis 0
            try:
                exp = v[mask]
            except IndexError:
                with pytest.raises(IndexError):
                    p[mask]
                return
            assert_np_equal(p[mask], {"v": exp})
    else:
        # integer-array gather along axis 0 (1-D or 2-D index array),
        # occasionally out of bounds — numpy decides validity
        d0 = shape[0]
        flat = data.draw(
            st.lists(st.integers(-d0 - 1, d0), min_size=1, max_size=6),
            label="gather",
        )
        if len(flat) % 2 == 0 and data.draw(st.booleans(), label="2d?"):
            g = np.array(flat).reshape(2, -1)
        else:
            g = np.array(flat)
        try:
            exp = v[g]
        except IndexError:
            with pytest.raises(IndexError):
                p[g]
            return
        assert_np_equal(p[g], {"v": exp})


@st.composite
def reshape_case(draw):
    """Shape + einops pattern 'a b c -> (per rhs grouping of a permutation)'
    — the oracle is transpose(perm).reshape(grouped)."""
    ndim = draw(st.integers(2, 3))
    shape = tuple(draw(st.integers(1, 4)) for _ in range(ndim))
    names = list("abc"[:ndim])
    perm = draw(st.permutations(list(range(ndim))))
    # random grouping of the permuted atoms into 1..ndim rhs groups
    cuts = sorted(draw(st.sets(st.integers(1, ndim - 1), max_size=ndim - 1))) + [ndim]
    groups, lo = [], 0
    for c in cuts:
        groups.append(perm[lo:c])
        lo = c
    rhs = " ".join(
        ("(" + " ".join(names[i] for i in g) + ")") if len(g) > 1 else names[g[0]]
        for g in groups
        if g
    )
    return shape, f"{' '.join(names)} -> {rhs}", perm, groups


@settings(max_examples=90, deadline=None, derandomize=True, suppress_health_check=[HealthCheck.too_slow])
@given(reshape_case())
def test_fuzz_einops_reshape(spark, case):
    shape, pattern, perm, groups = case
    p, v = cached(shape, spark)
    got = p.reshape(pattern)
    new_shape = tuple(
        int(np.prod([shape[i] for i in g])) for g in groups if g
    )
    exp = v.transpose(perm).reshape(new_shape)
    assert got.shape == exp.shape
    assert_np_equal(got, {"v": exp})


@settings(max_examples=40, deadline=None, derandomize=True, suppress_health_check=[HealthCheck.too_slow])
@given(st.data())
def test_fuzz_tuple_reshape(spark, data):
    shape = data.draw(SHAPES)
    p, v = cached(shape, spark)
    n = int(np.prod(shape))
    # random factorization of n (with optional -1 wildcard)
    dims = []
    rem = n
    while rem > 1 and len(dims) < 3:
        d = data.draw(
            st.sampled_from([d for d in range(1, rem + 1) if rem % d == 0]),
            label="factor",
        )
        dims.append(d)
        rem //= d
    if rem > 1 or not dims:
        dims.append(rem)
    if data.draw(st.booleans(), label="wildcard?") and dims:
        dims[data.draw(st.integers(0, len(dims) - 1), label="wild_pos")] = -1
    got = p.reshape(tuple(dims))
    exp = v.reshape(tuple(dims))
    assert got.shape == exp.shape
    assert_np_equal(got, {"v": exp})


# ---- op chains: views of views, against numpy ----

MAX_SIZE = 96  # keeps every intermediate a small job


def _factorization(data, n):
    """A random tuple of dims with product ``n``, sometimes with a -1."""
    if n == 0:
        return (data.draw(st.integers(0, 3), label="lead"), 0)
    dims, rem = [], n
    while rem > 1 and len(dims) < 3:
        d = data.draw(st.sampled_from([d for d in range(1, rem + 1) if rem % d == 0]), label="factor")
        dims.append(d)
        rem //= d
    if rem > 1 or not dims:
        dims.append(rem)
    if data.draw(st.booleans(), label="wildcard?"):
        dims[data.draw(st.integers(0, len(dims) - 1), label="wild_pos")] = -1
    return tuple(dims)


def _einops(data, shape):
    """An einops pattern that splits at most one dim in two, permutes the
    atoms and merges random runs of them, with its numpy oracle."""
    names = [[c] for c in "abcdefghijklmnop"[: len(shape)]]
    sizes = [[d] for d in shape]
    lengths = {}
    k = data.draw(st.integers(-1, len(shape) - 1), label="split_dim")
    if k >= 0 and shape[k] > 0:
        f = data.draw(st.sampled_from([f for f in range(1, shape[k] + 1) if shape[k] % f == 0]), label="f")
        names[k], sizes[k] = [names[k][0], names[k][0] + "2"], [f, shape[k] // f]
        lengths[names[k][0]] = f
    atoms = [a for g in names for a in g]
    atom_shape = [d for g in sizes for d in g]
    perm = data.draw(st.permutations(list(range(len(atoms)))), label="perm")
    cuts = sorted(c for c in data.draw(st.sets(st.integers(1, 3), max_size=3), label="cuts") if c < len(atoms))
    groups = [perm[lo:hi] for lo, hi in zip([0] + cuts, cuts + [len(atoms)])]

    def side(groups):
        return " ".join(g[0] if len(g) == 1 else "(" + " ".join(g) + ")" for g in groups)

    pattern = f"{side(names)} -> {side([[atoms[i] for i in g] for g in groups])}"
    new_shape = tuple(int(np.prod([atom_shape[i] for i in g])) for g in groups)
    return (
        lambda t: t.reshape(pattern, **lengths),
        lambda a: a.reshape(atom_shape).transpose(perm).reshape(new_shape),
    )


def _broadcast_target(data, shape):
    """A target that numpy may or may not accept: new leading dims, size-1
    dims grown, and now and then a dim > 1 changed."""
    lead = tuple(data.draw(st.lists(st.integers(1, 3), max_size=1), label="lead"))
    grow = lambda d: data.draw(st.integers(1, 3), label="grow") if d == 1 else d
    out = lead + tuple(grow(d) for d in shape)
    if shape and data.draw(st.integers(0, 5), label="bad?") == 0:
        k = data.draw(st.integers(0, len(shape) - 1), label="bad_dim")
        out = out[: len(lead) + k] + (out[len(lead) + k] + 1,) + out[len(lead) + k + 1 :]
    return out


def _chain_op(data, v):
    """One random op as ``(table_fn, numpy_fn)``, or None if it does not
    apply to an ``v.shape`` batch.  numpy's IndexError must come back as
    IndexError, its ValueError as ShapeError."""
    op = data.draw(
        st.sampled_from(
            ["index", "einops", "reshape", "broadcast", "stack", "concat",
             "mask", "gather", "stack_same", "concat_same"]
        ),
        label="op",
    )
    if op == "index":
        idx = data.draw(index_tuple(v.ndim), label="idx")
        return lambda t: t[idx], lambda a: a[idx]
    if op == "einops" and v.ndim:
        return _einops(data, v.shape)
    if op == "reshape":
        dims = _factorization(data, v.size)
        if data.draw(st.integers(0, 5), label="bad?") == 0:
            dims = dims + (2,)  # numpy decides: a -1 may absorb it
        return lambda t: t.reshape(dims), lambda a: a.reshape(dims)
    if op == "broadcast":
        target = _broadcast_target(data, v.shape)
        return lambda t: t.broadcast_to(target), lambda a: np.broadcast_to(a, target)
    if op == "stack" and v.ndim:
        axis = data.draw(st.integers(1, v.ndim), label="axis")
        return (
            lambda t: das.stack([t, t.map_field(lambda c: c + 1000)], axis=axis),
            lambda a: np.stack([a, a + 1000], axis=axis),
        )
    if op == "concat" and v.ndim >= 2:
        axis = data.draw(st.integers(1, v.ndim - 1), label="axis")
        head = (slice(None),) * axis + (slice(0, 1),)
        return (
            lambda t: das.concat([t, t[head].map_field(lambda c: c + 1000)], axis=axis),
            lambda a: np.concatenate([a, a[head] + 1000], axis=axis),
        )
    if op == "mask" and v.ndim:
        k = data.draw(st.integers(1, v.ndim), label="mask_rank")
        n = int(np.prod(v.shape[:k]))
        mask = np.array(data.draw(st.lists(st.booleans(), min_size=n, max_size=n), label="mask"), bool)
        mask = mask.reshape(v.shape[:k])
        return lambda t: t[mask], lambda a: a[mask]
    if op == "gather" and v.ndim and v.shape[0]:
        d0 = v.shape[0]
        idx = np.array(data.draw(st.lists(st.integers(-d0, d0 - 1), max_size=6), label="gather"), np.int64)
        if len(idx) % 2 == 0 and len(idx) and data.draw(st.booleans(), label="2d?"):
            idx = idx.reshape(2, -1)
        return lambda t: t[idx], lambda a: a[idx]
    if op == "stack_same" and v.ndim:
        # two views of one base: a head and a tail of the same length
        axis = data.draw(st.integers(0, v.ndim), label="axis")
        k = data.draw(st.integers(0, v.shape[0]), label="k")
        head, tail = slice(0, k), slice(v.shape[0] - k, None)
        return (
            lambda t: das.stack([t[head], t[tail]], axis=axis),
            lambda a: np.stack([a[head], a[tail]], axis=axis),
        )
    if op == "concat_same" and v.ndim:
        # the two halves of one base, swapped: concat([t[k:], t[:k]])
        axis = data.draw(st.integers(0, v.ndim - 1), label="axis")
        k = data.draw(st.integers(0, v.shape[axis]), label="k")
        lo = (slice(None),) * axis + (slice(0, k),)
        hi = (slice(None),) * axis + (slice(k, None),)
        return (
            lambda t: das.concat([t[hi], t[lo]], axis=axis),
            lambda a: np.concatenate([a[hi], a[lo]], axis=axis),
        )
    return None


@settings(max_examples=60, deadline=None, derandomize=True, suppress_health_check=[HealthCheck.too_slow])
@given(st.data())
def test_fuzz_view_chains(spark, data):
    """Random 2-4 op chains — basic index, einops split/permute/merge,
    tuple reshape (contiguous or not), broadcast_to, boolean masks,
    integer gathers, stack/concat of two bases on an axis > 0 and of two
    views of one base on any axis — each step compared with numpy, so
    the composed maps (pieces, index table, strides) are checked in
    every combination the materializer builds."""
    from dataclass_array_spark.core.schema import ShapeError

    t, v = cached(data.draw(SHAPES, label="shape"), spark)
    for _ in range(data.draw(st.integers(2, 4), label="n_ops")):
        op = _chain_op(data, v)
        if op is None:
            continue
        table_fn, np_fn = op
        try:
            exp = np.asarray(np_fn(v))
        except IndexError:
            with pytest.raises(IndexError):
                table_fn(t)
            return
        except ValueError:
            with pytest.raises(ShapeError):
                table_fn(t)
            return
        if exp.size > MAX_SIZE:
            continue
        t, v = table_fn(t), exp
        assert t.shape == v.shape
        assert_np_equal(t, {"v": v})


def _positions(offset, shape, strides):
    """Every source position a strided map reaches, in C-order."""
    idx = np.indices(shape).reshape(len(shape), -1)
    return offset + (np.array(strides, dtype=np.int64)[:, None] * idx).sum(0)


def _random_map(rng, limit):
    """A non-overlapping strided map (dims in a random stride order, with
    gaps) reaching positions below ``limit``, or None."""
    from dataclass_array_spark.core.table import _view_strides

    shape = [int(rng.integers(1, 5)) for _ in range(rng.integers(1, 4))]
    strides, acc = [0] * len(shape), int(rng.integers(1, 3))
    for k in rng.permutation(len(shape)):
        strides[k], acc = acc, acc * (shape[k] + int(rng.integers(0, 2)))
    offset = int(rng.integers(0, 4))
    if offset + sum((d - 1) * s for d, s in zip(shape, strides)) >= limit:
        return None
    return offset, tuple(shape), _view_strides(shape, strides)


def test_pieces_of_matches_index_arithmetic():
    """The driver-side cut of strides over concatenated pieces into new
    pieces (no Spark): wherever ``_pieces_of`` returns maps, their
    concatenated positions are exactly the composed map's, on 4000
    random piece lists and views (it may decline: the view then keeps
    its strides over the pieces)."""
    from dataclass_array_spark.core.table import _pieces_of

    rng = np.random.default_rng(0)
    cut = 0
    for _ in range(4000):
        pieces = [p for p in (_random_map(rng, 60) for _ in range(rng.integers(1, 4))) if p]
        if not pieces:
            continue
        src = np.concatenate([_positions(*p) for p in pieces])
        view = _random_map(rng, len(src))
        if view is None:
            continue
        got = _pieces_of(*view, pieces)
        if got is not None:
            cut += 1
            pos = np.concatenate([_positions(*p) for p in got]) if got else np.zeros(0, np.int64)
            assert np.array_equal(pos, src[_positions(*view)]), (pieces, view, got)
    assert cut > 1000
