"""Differential indexing tests vs numpy (reference
test_normalize_indices pattern, array_dataclass_test.py:459-494)."""

import numpy as np
import pytest

import dataclass_array_spark as das
from dataclass_array_spark.core.schema import f32
from tests.conftest import assert_np_equal


@das.dataclass_array(broadcast=True, cast_dtype=True)
class P(das.DcaTable):
    v: f32


def make(shape, spark):
    n = int(np.prod(shape))
    v = np.arange(n, dtype=np.float32).reshape(shape)
    return P(spark, v=v), v


CASES = [
    ((6,), np.index_exp[2]),
    ((6,), np.index_exp[1:4]),
    ((6,), np.index_exp[::2]),
    ((6,), np.index_exp[-2]),
    ((6,), np.index_exp[None]),
    ((2, 3), np.index_exp[1]),
    ((2, 3), np.index_exp[:, 1]),
    ((2, 3), np.index_exp[..., 2]),
    ((2, 3), np.index_exp[1, :2]),
    ((2, 3), np.index_exp[None, 1]),
    ((2, 3, 2), np.index_exp[..., 0]),
    ((2, 3, 2), np.index_exp[1, ..., 1]),
    ((2, 3, 2), np.index_exp[0:2, 1:3]),
]


@pytest.mark.parametrize("shape,idx", CASES)
def test_basic_indexing_matches_numpy(spark, shape, idx):
    p, v = make(shape, spark)
    got = p[idx]
    exp = v[idx]
    assert got.shape == exp.shape
    assert_np_equal(got, {"v": exp})


def test_mask_and_gather(spark):
    p, v = make((6,), spark)
    mask = np.array([True, False, True, True, False, False])
    assert_np_equal(p[mask], {"v": v[mask]})
    gather = np.array([4, 0, 0, 5])
    assert_np_equal(p[gather], {"v": v[gather]})
    g2 = np.array([[1, 2], [3, 0]])
    assert_np_equal(p[g2], {"v": v[g2]})


def test_index_errors(spark):
    p, v = make((2, 3), spark)
    with pytest.raises(IndexError):
        p[0, 0, 0]
    with pytest.raises(IndexError):
        p[5]
    with pytest.raises(IndexError):
        p[..., 0, ...]


def test_iter(spark):
    p, v = make((3,), spark)
    rows = [t.to_numpy_fields()["v"] for t in p]
    assert [float(r) for r in rows] == [0.0, 1.0, 2.0]


def test_leading_dim_mask(spark):
    """numpy semantics: a rank-k mask over the leading k batch dims
    collapses them; trailing dims survive."""
    import numpy as np

    p, v = make((3, 4), spark)
    mask = np.array([True, False, True])
    assert_np_equal(p[mask], {"v": v[mask]})
    mask2 = v > 5  # full-rank mask → flattened selection
    assert_np_equal(p[mask2], {"v": v[mask2]})


def _stack(items, axis=0):
    return das.stack(items, axis) if isinstance(items[0], das.DcaTable) else np.stack(items, axis)


def _concat(items, axis=0):
    return das.concat(items, axis) if isinstance(items[0], das.DcaTable) else np.concatenate(items, axis)


def _broadcast(t, shape):
    return t.broadcast_to(shape) if isinstance(t, das.DcaTable) else np.broadcast_to(t, shape)


# (base shape, op): each op runs on the table and on its numpy array alike
COMPOSED = {
    "empty_mask": ((4, 3), lambda t: t[np.zeros(4, bool)]),
    "empty_gather": ((4, 3), lambda t: t[np.array([], dtype=np.int64)]),
    "empty_mask_then_gather": ((4, 3), lambda t: t[np.zeros(4, bool)][np.array([], dtype=np.int64)]),
    "zero_size_concat_item": ((4, 3), lambda t: _concat([t[:0], t[1:3], t[4:]])),
    "zero_size_stack_items": ((4, 3), lambda t: _stack([t[:, :0], t[:, 3:]], axis=1)),
    "broadcast_from_size_0": ((4, 3), lambda t: _broadcast(t[:, :0], (2, 4, 0))),
    "mask_2d": ((3, 4, 2), lambda t: t[np.arange(12).reshape(3, 4) % 5 < 2]),
    "gather_2d": ((5, 3), lambda t: t[np.array([[4, 0], [2, 2]])]),
    "gather_negative": ((5, 3), lambda t: t[np.array([-1, 0, -5, -1])]),
    "mask_list": ((4, 3), lambda t: t[[True, False, True, True]]),
    "gather_list": ((4, 3), lambda t: t[[3, 1, 1]]),
    "concat_same_base_axis1": ((4, 5), lambda t: _concat([t[:, 3:], t[:, :3]], axis=1)),
    "stack_same_base_axis2": ((3, 4), lambda t: _stack([t, t[...], t[:]], axis=2)),
    "mask_then_einops_transpose": ((4, 3), lambda t: (
        lambda m: m.reshape("a b -> b a") if isinstance(m, das.DcaTable) else m.T
    )(t[np.array([True, False, True, True])])),
    "gather_of_mask_then_slice_broadcast": ((6, 4), lambda t: _broadcast(
        t[np.array([1, 0, 1, 1, 0, 1], bool)][[3, 0, 3]][:, 2:3], (3, 2))),
    "mask_of_a_straddling_slice": ((4, 3), lambda t: _concat([t[2:], t[:2]])[1:3][np.array([False, True])]),
}


@pytest.mark.parametrize("name", sorted(COMPOSED))
def test_composed_views_match_numpy(spark, name):
    """Masks, gathers and same-base concat/stack composed into one view,
    at the edges: empty index arrays, zero-size items, 2-d masks and
    gathers, negative and list indices, axis > 0, and views on top."""
    shape, op = COMPOSED[name]
    t, v = make(shape, spark)
    exp = op(v)
    got = op(t)
    assert got.shape == exp.shape
    assert_np_equal(got, {"v": exp})
