"""Schema-compiler unit tests (reference shape_parsing_test.py /
type_parsing_test.py analogs)."""

import numpy as np
import pytest
from pyspark.sql import types as T

from dataclass_array_spark.core.schema import (
    _NP_TO_SPARK,
    ArraySpec,
    ShapeError,
    f32,
    f64,
    i32,
    parse_shape,
    resolve_annotation,
)


def test_parse_shape_variants():
    assert parse_shape("*b") == ()
    assert parse_shape("... 3") == (3,)
    assert parse_shape("*batch 3 3") == (3, 3)
    assert parse_shape("*b _ 2") == (None, 2)
    assert parse_shape("*b h w") == (None, None)  # named dims → dynamic


@pytest.mark.parametrize("bad", ["3", "h w", "*a *b", "* 3", "*b 3x", "*b -1"])
def test_parse_shape_errors(bad):
    with pytest.raises(ShapeError):
        parse_shape(bad)


def test_dtype_alias_spark_types():
    assert f32["*b 3"].spark_type == T.ArrayType(T.FloatType(), False)
    assert f64["*b 3 3"].spark_type == T.ArrayType(T.ArrayType(T.DoubleType(), False), False)
    assert i32.as_spec().spark_type == T.IntegerType()


def test_resolve_annotation():
    assert resolve_annotation(f32["*b 2"]) == ArraySpec(np.dtype("float32"), (2,))
    assert resolve_annotation(f32).inner_shape == ()
    assert resolve_annotation((np.int64, "*b 4")).spark_type == T.ArrayType(T.LongType(), False)
    assert resolve_annotation("not a field") is None
    assert resolve_annotation(int) is None


# one case per distinct numpy dtype of the Spark mapping ("str" and
# "str_" are the same numpy dtype)
_ROUNDTRIP_DTYPES = list(dict.fromkeys(np.dtype(n) for n in _NP_TO_SPARK))
_ROUNDTRIP_INNER = [(), (3,), (2, 3)]
_ROUNDTRIP_LAYOUTS = ["contiguous", "broadcast_to", "replace"]
_BATCH = (2, 3)


def _values(dtype, shape, rng):
    """Values spanning ``dtype``'s range, extremes included."""
    n = int(np.prod(shape))
    if dtype.kind == "f":
        v = rng.standard_normal(n).astype(dtype)
        v[:2] = [np.finfo(dtype).max, np.finfo(dtype).tiny]
    elif dtype.kind in "iu":
        info = np.iinfo(dtype)
        v = rng.integers(info.min, info.max, size=n, dtype=dtype, endpoint=True)
        v[:2] = [info.min, info.max]
        if dtype == np.uint64:
            v[2] = 2**63 + 5  # past int64: decimal(20,0) in Spark
    elif dtype.kind == "b":
        v = rng.random(n) < 0.5
    elif dtype.kind == "U":
        v = np.array(["", "é", "spark"] + [f"s{i}" for i in range(n - 3)])
    else:  # complex → struct<re, im>
        v = (rng.standard_normal(n) + 1j * rng.standard_normal(n)).astype(dtype)
    return v.reshape(shape)


def _decode_nested(cells, table_cls):
    """Object array of row structs → {leaf: ndarray over cells.shape}."""
    from tests.conftest import to_np_cell

    out = {}
    for name, spec in table_cls._array_fields().items():
        rows = [to_np_cell(c[name], spec) for c in cells.ravel()]
        out[name] = np.stack(rows).reshape(cells.shape + rows[0].shape)
    return out


def _assert_exact(got, want):
    assert got.shape == want.shape
    if want.dtype.kind == "U":
        assert got.dtype.kind == "U"
    else:
        assert got.dtype == want.dtype
    np.testing.assert_array_equal(got, want)


def _dtype_case(dtype, inner, layout):
    import dataclass_array_spark as das

    cls = das.dataclass_array(cast_dtype=True)(
        type("D", (das.DcaTable,), {"__annotations__": {"x": ArraySpec(dtype, inner)}})
    )
    want = _values(dtype, _BATCH + inner, np.random.default_rng(len(inner)))
    if layout == "broadcast_to":
        # zero-stride, non-contiguous view of the first batch row
        want = np.broadcast_to(want[:1], want.shape)
    return cls, want


def _nested_case(layout):
    from tests.test_nested import Iso, NestedBatched

    rng = np.random.default_rng(0)
    tree = {
        "r": _values(np.dtype(np.float32), _BATCH + (2, 2, 3, 3), rng),
        "t": _values(np.dtype(np.int32), _BATCH + (2, 2, 2), rng),
    }
    if layout == "broadcast_to":
        tree = {k: np.broadcast_to(v[:1], v.shape) for k, v in tree.items()}
    return NestedBatched, Iso, tree


@pytest.mark.parametrize(
    "case,layout",
    [
        pytest.param((dt, inner), layout, id=f"{dt.name}-rank{len(inner)}-{layout}")
        for dt in _ROUNDTRIP_DTYPES
        for inner in _ROUNDTRIP_INNER
        for layout in _ROUNDTRIP_LAYOUTS
    ]
    + [
        pytest.param("nested", layout, id=f"Iso[*b 2 2]-{layout}")
        for layout in ("contiguous", "broadcast_to")
    ],
)
def test_dtype_roundtrip(spark, case, layout):
    """numpy → DcaTable → numpy is exact for every dtype of the Spark
    mapping at inner ranks 0-2, for non-contiguous inputs, through
    ``replace(field=ndarray)``, and for a nested field with extra inner
    dims."""
    if case == "nested":
        cls, iso, tree = _nested_case(layout)
        got = cls(spark, iso_batched=tree).to_numpy_fields()["iso_batched"]
        assert got.shape == _BATCH + (2, 2)
        leaves = _decode_nested(got, iso)
        for k, want in tree.items():
            _assert_exact(leaves[k], want)
        return
    cls, want = _dtype_case(*case, layout)
    if layout == "replace":
        t = cls(spark, x=np.zeros_like(want)).replace(x=want)
    else:
        t = cls(spark, x=want)
    assert t.shape == _BATCH
    _assert_exact(t.to_numpy_fields()["x"], want)


def test_unresolvable_annotations_warn(spark):
    import warnings
    import dataclass_array_spark as das

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")

        class Broken(das.DcaTable):
            x: "not_an_importable_alias"  # noqa: F821

        Broken._fields()
        assert any("no array fields" in str(x.message) for x in w)


# ---------------- Union / Optional annotations (reference truth table,
# type_parsing_test.py:35-125)
def test_union_optional_resolution(spark):
    import dataclass_array_spark as das
    from dataclass_array_spark.core.schema import ArraySpec, f32, f64, get_leaf_hints
    from dataclass_array_spark.core.table import DcaTable, NestedSpec, _resolve_hint
    from typing import Optional, Union, List

    @das.dataclass_array
    class Ray(das.DcaTable):
        pos: f32["*b 3"]

    @das.dataclass_array
    class Camera(das.DcaTable):
        pos: f32["*b 3"]

    spec3 = f32["*b 3"]
    # leaf extraction (Optional normalizes NoneType → None)
    assert get_leaf_hints(Optional[Ray]) == [Ray, None]
    assert get_leaf_hints(Union[Ray, int, None]) == [Ray, int, None]
    assert get_leaf_hints(spec3 | None) == [spec3, None]

    # scalars / plain types stay static
    assert _resolve_hint(int) is None
    assert _resolve_hint(List[int]) is None
    # bare + Optional dataclass
    assert _resolve_hint(Ray) == NestedSpec(Ray, ())
    assert _resolve_hint(Optional[Ray]) == NestedSpec(Ray, ())
    # union of DcaTables degrades to the base class, same inner shape
    assert _resolve_hint(Union[Ray, Camera]) == NestedSpec(DcaTable, ())
    assert _resolve_hint(Union[Ray, Camera, None]) == NestedSpec(DcaTable, ())
    # any non-array member makes the whole union static
    assert _resolve_hint(Union[Ray, int]) is None
    assert _resolve_hint(Union[Ray, int, None]) is None
    assert _resolve_hint(spec3 | int | None) is None
    # Optional array spec resolves to the spec
    assert _resolve_hint(spec3 | None) == spec3
    assert isinstance(_resolve_hint(spec3 | None), ArraySpec)
    # unsupported mixes raise (reference raises NotImplementedError too)
    with pytest.raises(NotImplementedError):
        _resolve_hint(Ray | spec3)
    with pytest.raises(NotImplementedError):
        _resolve_hint(spec3 | f64["*b 3"])


def test_optional_field_end_to_end(spark):
    import dataclass_array_spark as das
    from dataclass_array_spark.core.schema import f32, i64

    @das.dataclass_array(cast_dtype=True)
    class OptRay(das.DcaTable):
        rid: i64
        pos: f32["*b 3"] | None  # Optional array field
        note: "int | None"  # static (non-array member)

    fields = OptRay._array_fields()
    assert set(fields) == {"rid", "pos"}
    t = OptRay(spark, rid=np.arange(4), pos=np.ones((4, 3), dtype=np.float32))
    assert t.shape == (4,)
    np.testing.assert_array_equal(t.to_numpy_fields()["pos"], np.ones((4, 3)))


def test_string_annotation_eval_failure_warns_per_field(spark):
    import dataclass_array_spark as das
    from dataclass_array_spark.core.schema import f32  # noqa: F401

    @das.dataclass_array
    class Broken(das.DcaTable):
        good: f32["*b 3"]

    # inject an unresolvable *string* annotation (simulating PEP-563
    # with a typo'd alias) — must warn for THAT field, not silently drop
    Broken.__annotations__["bad"] = "f32_typo['*b 3']"
    Broken._dca_compiled = None
    with pytest.warns(UserWarning, match="bad.*failed to evaluate"):
        fields = Broken._fields()
    assert ("static", "f32_typo['*b 3']") == fields["bad"]
    assert "good" in Broken._array_fields()
