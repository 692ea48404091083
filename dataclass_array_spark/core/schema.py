"""Annotation → Spark schema compiler.

Re-implements, Spark-first, the reference's declarative schema system:
shape-annotated dtype aliases (reference `typing.py:32-51`), the shape
mini-language (reference `shape_grammar.lark`, `shape_parsing.py:85-106`)
and annotation→field-metadata extraction (reference
`array_dataclass.py:894-956, 1215-1253`).  No lark dependency — the shape
grammar is 5 token kinds, parsed by hand.

Shape strings: space-separated dims, e.g. ``'*batch 3 3'``:
- ``*name`` / ``...``  — variadic batch prefix (required first token)
- ``3``                — static inner dim (enforced at construction)
- ``_`` / bare name    — dynamic inner dim (length unchecked per-class)

A field's Spark type is built from (dtype, inner_shape): inner ``()`` → the
scalar type; ``(3,)`` → ``ArrayType(t)``; ``(3,3)`` → nested ArrayType.
Fixed lengths are enforced by the constructor (Spark arrays are
variable-length; the check is ours — reference `assert_shape`,
`array_dataclass.py:1183-1188`).
"""

from __future__ import annotations

import dataclasses
from typing import Any, Optional, Tuple

import numpy as np
from pyspark.sql import types as T


class ShapeError(ValueError):
    pass


def parse_shape(spec: str) -> Tuple[Optional[int], ...]:
    """Parse a shape annotation string → inner shape tuple.

    Returns the static inner-shape suffix; ``None`` marks a dynamic dim.
    Mirrors reference ``get_inner_shape`` (`shape_parsing.py:85-106`): the
    first token must be variadic (``*x`` or ``...``), the rest is the
    per-row payload shape.
    """
    tokens = spec.split()
    if not tokens:
        raise ShapeError(f"empty shape spec {spec!r}")
    first = tokens[0]
    if not ((first.startswith("*") and first[1:].isidentifier()) or first == "..."):
        raise ShapeError(
            f"shape spec {spec!r} must start with a variadic batch dim (*name or ...)"
        )
    inner: list[Optional[int]] = []
    for tok in tokens[1:]:
        if tok.startswith("*") or tok == "...":
            raise ShapeError(f"only the first dim may be variadic: {spec!r}")
        if tok == "_":
            inner.append(None)
        elif tok.lstrip("-").isdigit():
            v = int(tok)
            if v < 0:
                raise ShapeError(f"negative dim in {spec!r}")
            inner.append(v)
        elif tok.isidentifier():
            # Named dims are treated as dynamic (consistency not checked),
            # matching the reference (`shape_parsing.py:98-99`).
            inner.append(None)
        else:
            raise ShapeError(f"bad token {tok!r} in shape spec {spec!r}")
    return tuple(inner)


@dataclasses.dataclass(frozen=True)
class UnionHint:
    """Runtime stand-in for ``X | Y`` where a member is a spec *instance*
    (``f32['*b 3'] | None``) — Python's native UnionType only accepts
    types.  Flattened by :func:`get_leaf_hints`."""

    members: Tuple[Any, ...]

    def __or__(self, other: Any) -> "UnionHint":
        return UnionHint(self.members + (other,))

    def __ror__(self, other: Any) -> "UnionHint":
        return UnionHint((other,) + self.members)


class _UnionableMixin:
    def __or__(self, other: Any) -> UnionHint:
        return UnionHint((self, other))

    def __ror__(self, other: Any) -> UnionHint:
        return UnionHint((other, self))


def get_leaf_hints(ann: Any) -> list:
    """Flatten ``Union[...]`` / ``X | Y`` / ``Optional[X]`` /
    :class:`UnionHint` annotation trees to their leaves; ``NoneType``
    normalizes to ``None`` (reference `type_parsing.py:35-75`)."""
    import types as _pytypes
    import typing as _typing

    if isinstance(ann, UnionHint):
        out: list = []
        for m in ann.members:
            out.extend(get_leaf_hints(m))
        return out
    origin = _typing.get_origin(ann)
    if origin is _typing.Union or origin is getattr(_pytypes, "UnionType", object()):
        out = []
        for m in _typing.get_args(ann):
            out.extend(get_leaf_hints(m))
        return out
    return [None if ann is type(None) else ann]


@dataclasses.dataclass(frozen=True)
class ArraySpec(_UnionableMixin):
    """Parsed field annotation: dtype + inner shape (None dims dynamic)."""

    np_dtype: np.dtype
    inner_shape: Tuple[Optional[int], ...] = ()

    @property
    def spark_scalar_type(self) -> T.DataType:
        return _NP_TO_SPARK[np.dtype(self.np_dtype).name]

    @property
    def spark_type(self) -> T.DataType:
        t: T.DataType = self.spark_scalar_type
        for _ in self.inner_shape:
            t = T.ArrayType(t, containsNull=False)
        return t


# numpy dtype name → Spark type.  Unsigned ints widen to the next signed
# type (Spark has no unsigned); ui64 → Decimal(20,0).  complex → struct.
_NP_TO_SPARK: dict[str, T.DataType] = {
    "float16": T.FloatType(),
    "float32": T.FloatType(),
    "float64": T.DoubleType(),
    "int8": T.ByteType(),
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "uint8": T.ShortType(),
    "uint16": T.IntegerType(),
    "uint32": T.LongType(),
    "uint64": T.DecimalType(20, 0),
    "bool": T.BooleanType(),
    "str_": T.StringType(),
    "str": T.StringType(),  # np.dtype(np.str_).name on numpy 2
    "complex64": T.StructType(
        [T.StructField("re", T.FloatType()), T.StructField("im", T.FloatType())]
    ),
    "complex128": T.StructType(
        [T.StructField("re", T.DoubleType()), T.StructField("im", T.DoubleType())]
    ),
}


class _DtypeAlias(_UnionableMixin):
    """``f32['*batch 3']`` → ArraySpec.  Bare ``f32`` means inner shape ()."""

    def __init__(self, np_dtype: Any):
        self.np_dtype = np.dtype(np_dtype) if np_dtype is not np.str_ else np_dtype
        self._name = getattr(np_dtype, "__name__", str(np_dtype))

    def __getitem__(self, spec: str) -> ArraySpec:
        return ArraySpec(self.np_dtype, parse_shape(spec))

    def as_spec(self) -> ArraySpec:
        return ArraySpec(self.np_dtype, ())

    def __repr__(self) -> str:
        return f"dtype_alias<{self._name}>"


# Aliases mirroring reference `typing.py:32-51`.
f16 = _DtypeAlias(np.float32)  # f16 stored as f32 (Spark has no half type)
f32 = _DtypeAlias(np.float32)
f64 = _DtypeAlias(np.float64)
i8 = _DtypeAlias(np.int8)
i16 = _DtypeAlias(np.int16)
i32 = _DtypeAlias(np.int32)
i64 = _DtypeAlias(np.int64)
ui8 = _DtypeAlias(np.uint8)
ui16 = _DtypeAlias(np.uint16)
ui32 = _DtypeAlias(np.uint32)
ui64 = _DtypeAlias(np.uint64)
bool_ = _DtypeAlias(np.bool_)
str_ = _DtypeAlias(np.str_)
complex64 = _DtypeAlias(np.complex64)
complex128 = _DtypeAlias(np.complex128)
FloatArray = f32
IntArray = i32
BoolArray = bool_


def resolve_annotation(ann: Any) -> Optional[ArraySpec]:
    """Annotation object → ArraySpec, or None if not an array field.

    Accepts ArraySpec (from ``f32['*b 3']``), a bare dtype alias, a
    numpy dtype, or a (dtype, shape_str) tuple.  Non-matching annotations
    are static fields (reference `array_dataclass.py:196-198`).
    """
    if isinstance(ann, ArraySpec):
        return ann
    if isinstance(ann, _DtypeAlias):
        return ann.as_spec()
    if isinstance(ann, np.dtype) or (isinstance(ann, type) and issubclass(ann, np.generic)):
        return ArraySpec(np.dtype(ann), ())
    if isinstance(ann, tuple) and len(ann) == 2 and isinstance(ann[1], str):
        return ArraySpec(np.dtype(ann[0]), parse_shape(ann[1]))
    return None
