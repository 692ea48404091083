"""Edge-case depth: einops variants, chained ops, op-composition
invariants — all differential vs numpy."""

import numpy as np
import pytest

import dataclass_array_spark as das
from dataclass_array_spark.core.schema import ShapeError, f32
from tests.conftest import assert_np_equal


@das.dataclass_array(broadcast=True, cast_dtype=True)
class P(das.DcaTable):
    v: f32


def make(shape, spark):
    n = int(np.prod(shape))
    v = np.arange(n, dtype=np.float32).reshape(shape)
    return P(spark, v=v), v


def test_einops_three_dims_permutation(spark):
    p, v = make((2, 3, 4), spark)
    t = p.reshape("a b c -> c a b")
    assert_np_equal(t, {"v": np.transpose(v, (2, 0, 1))})


def test_einops_merge_and_split_combo(spark):
    p, v = make((2, 3, 4), spark)
    t = p.reshape("a b c -> (a c) b")
    expect = np.transpose(v, (0, 2, 1)).reshape(8, 3)
    assert_np_equal(t, {"v": expect})


def test_einops_errors(spark):
    p, v = make((2, 3), spark)
    with pytest.raises(ShapeError):
        p.reshape("a b -> a")  # missing axis
    with pytest.raises(ShapeError):
        p.reshape("a -> a")  # rank mismatch
    with pytest.raises(ShapeError):
        p.reshape("(a b) -> a b")  # under-determined split (no sizes)


def test_chained_slice_transpose_mask(spark):
    p, v = make((4, 6), spark)
    step1 = p[1:4]                       # (3, 6)
    step2 = step1.reshape("a b -> b a")  # (6, 3)
    step3 = step2[::2]                   # (3, 3)
    expect = v[1:4].T[::2]
    assert_np_equal(step3, {"v": expect})
    mask = expect.sum(axis=1) > 20
    final = step3[mask]
    assert_np_equal(final, {"v": expect[mask]})


def test_gather_after_transpose(spark):
    p, v = make((3, 4), spark)
    t = p.reshape("a b -> b a")  # (4, 3)
    g = t[np.array([3, 0])]
    assert_np_equal(g, {"v": v.T[[3, 0]]})


def test_stack_of_slices_roundtrip(spark):
    p, v = make((6,), spark)
    halves = das.stack([p[0:3], p[3:6]])
    assert_np_equal(halves, {"v": v.reshape(2, 3)})
    back = halves.flatten()
    assert_np_equal(back, {"v": v})


def test_broadcast_then_reduce_shape_math(spark):
    p, v = make((1, 4), spark)
    b = p.broadcast_to((3, 4))
    s = b[2]
    assert_np_equal(s, {"v": v[0]})


def test_empty_slice_shape(spark):
    p, v = make((4,), spark)
    e = p[2:2]
    assert e.shape == (0,)
    assert e.size == 0
    with pytest.raises(ValueError):
        bool(e)


def test_negative_index_multi_dim(spark):
    p, v = make((3, 4), spark)
    assert_np_equal(p[-1], {"v": v[-1]})
    assert_np_equal(p[-2, -3], {"v": v[-2, -3]})


def test_stack_scalars(spark):
    items = [make((), spark)[0] for _ in range(3)]
    # rebuild with distinct values
    vals = [P(spark, v=np.float32(i * 1.5)) for i in range(3)]
    st = das.stack(vals)
    assert st.shape == (3,)
    assert_np_equal(st, {"v": np.array([0.0, 1.5, 3.0], np.float32)})


def test_concat_then_gather_then_mask(spark):
    a, va = make((3,), spark)
    b, vb = make((2,), spark)
    b2 = b.map_field(lambda c: c + 100)
    cc = das.concat([a, b2])
    v = np.concatenate([va, vb + 100])
    g = cc[np.array([4, 0, 3])]
    expect = v[[4, 0, 3]]
    assert_np_equal(g, {"v": expect})
    m = g[np.array([True, False, True])]
    assert_np_equal(m, {"v": expect[[0, 2]]})


def test_broadcast_to_middle_dim(spark):
    p, v = make((2, 1, 3), spark)
    b = p.broadcast_to((2, 4, 3))
    assert_np_equal(b, {"v": np.broadcast_to(v, (2, 4, 3))})


def test_round11_ops_degenerate_inputs(spark):
    """Round-11 operators on empty/degenerate inputs: scorers return
    (0, 0.0) rows or empty frames, sketches return empty states that
    probe safely, and the two cases that would silently corrupt
    (empty-train bigram LM -> ln 0; empty-corpus SQ8 bounds -> None
    arithmetic) fail LOUDLY instead."""
    import pytest
    from pyspark.sql import functions as F

    from dataclass_array_spark.operators.pq import sq8_bounds
    from dataclass_array_spark.operators.sketch import (
        bloom_build,
        bloom_probe,
        countmin_build,
        hll_distinct,
    )
    from dataclass_array_spark.operators.text import (
        bigram_xent_scores_heldout,
        token_entropy_scores,
    )
    from tests.test_operators import LM_SCORERS, lm_score

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    one_empty = spark.createDataFrame([(1, "")], "doc_id long, text string")
    train = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for name in LM_SCORERS:
        assert lm_score(name, train, empty_docs).count() == 0, name
        assert lm_score(name, train, one_empty).collect()[0][1:] == (0, 0.0), name
    assert token_entropy_scores(one_empty, "text", "doc_id").collect()[0][1:] == (0, 0.0)

    ek = spark.createDataFrame([], "key string")
    assert countmin_build(ek.withColumnRenamed("key", "t"), "t").count() == 0
    assert hll_distinct(
        spark.createDataFrame([], "g string, u string"), ["g"], "u"
    ).count() == 0
    bl = bloom_build(ek, "key")
    probe = spark.createDataFrame([("x",)], "key string")
    r = bloom_probe(bl, probe, "key").collect()[0]
    assert r["in_bloom"] is False  # empty filter contains nothing

    score = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(Exception, match="empty training corpus"):
        bigram_xent_scores_heldout(empty_docs, score, "text", "doc_id").collect()
    with pytest.raises(ValueError, match="empty corpus"):
        sq8_bounds(
            spark.createDataFrame([], "vec_id long, embedding array<float>"),
            "embedding", 4,
        )
