"""DcaTable — the Spark-native analog of the reference ``DataclassArray``.

Reference semantics re-expressed on a DataFrame (design per SURVEY.md §1.4):

- An instance models an N-dimensional batch of typed structs.  Physical
  layout: one DataFrame with a dense linear ``__rowid`` (C-order over the
  batch shape) plus one column per array field; the logical batch shape is
  wrapper metadata.  (reference: per-field ndarrays sharing a batch shape,
  `array_dataclass.py:164-214`)
- An instance is a view over that frame, its *base*, composed on the
  driver from three small parts: *pieces*, strided maps over the base
  (numpy's ``(offset, shape, strides)`` in rowid units) whose C-orders
  concatenate; an optional *index table* that picks leading entries of
  that concatenation (masks and gathers, one row per picked entry); and
  the view's own strides over the result.  Basic indexing, reshape,
  einops split/permute/merge and ``broadcast_to`` change the strides;
  ``concat`` and ``stack`` of items over one base join their pieces;
  masks and gathers compose into the index table — integer arithmetic
  on the driver, no DataFrame call, and nothing held per element
  (reference `array_dataclass.py:333-390`).  The view's own frame is
  built once, by ``_materialize``, when ``.df`` is first read.
- Static fields are wrapper metadata, untouched by every op (reference
  `array_dataclass.py:196-198`).
- Nested DcaTable fields are struct columns, recursed into by field ops
  (reference ``_map_field`` dc recursion, `array_dataclass.py:740-770`).

Scale notes: a view's frame is one scan of its base (no shuffle): one
filter the scan can prune on, an ``explode`` where a base row is more
than one view row (two pieces, a broadcast dim), and one broadcast join
against the index table when there is one.  A broadcast dim of size
``d`` is a ``d``-entry array per kept row (at most 2**31 - 16), and a
kept row's copies are made in the task that holds it: a few rows
broadcast to a large shape run in few tasks.  A Column-predicate mask
re-densifies its rowids with the two-pass numbering of
``attach_dense_rowid``.
Every driver↔Spark data move goes through one Arrow encoder and one
decoder (bottom of this module).  Ingest — construction, ``replace`` with
numpy values, and the mask/gather/rowid-offset index tables — builds a
``pyarrow.Table`` column by column (one flat numpy buffer per leaf, no
per-row Python objects) and plans as a ``LocalRelation``.
Egress collects unsorted with ``toArrow()`` and sorts on the driver by
``__rowid``: the result is on the driver already, so ordering it there
costs 8 B per row and no shuffle, where ``orderBy`` ran a cluster range
sort plus its sampling job.
The same encoder and decoder are also the executor-side kernel boundary
(bottom of this module): every numpy kernel — ``vectorize_method``'s
numpy tier and the operators' Arrow UDF, ``applyInArrow`` and
``mapInArrow`` kernels — decodes its batch with ``_np_field`` and encodes
its result with ``_arrow_field``.
"""

from __future__ import annotations

import bisect
import dataclasses
import functools
import itertools
import math
from typing import Any, Callable, Dict, Iterator, List, Optional, Sequence, Tuple, Union

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type

from dataclass_array_spark.core import schema as dsch
from dataclass_array_spark.core.schema import ArraySpec, ShapeError, parse_shape

ROWID = "__rowid"


@dataclasses.dataclass(frozen=True)
class DataclassParams:
    """Per-class coercion policy (reference `array_dataclass.py:57-117`)."""

    broadcast: bool = False
    cast_dtype: bool = False
    cast_list: bool = True


@dataclasses.dataclass(frozen=True)
class NestedSpec(dsch._UnionableMixin):
    """A nested-DcaTable field, optionally with extra inner batch dims
    (reference ``Ray['*batch 3 7']``, `field_utils.py:28-63`)."""

    table_cls: type
    extra_inner_shape: Tuple[Optional[int], ...] = ()

    @property
    def spark_type(self) -> T.DataType:
        t: T.DataType = self.table_cls._struct_type()
        for _ in self.extra_inner_shape:
            t = T.ArrayType(t, containsNull=False)
        return t


def field(*, shape: Tuple[int, ...] = (), dtype: Any = np.float32) -> ArraySpec:
    """Explicit field schema (reference ``dca.field``, `array_dataclass.py:120-142`)."""
    return ArraySpec(np.dtype(dtype), tuple(shape))


def dataclass_array(
    cls: Optional[type] = None,
    *,
    broadcast: bool = False,
    cast_dtype: bool = False,
    cast_list: bool = True,
):
    """Class decorator setting the coercion policy (reference
    `array_dataclass.py:75-117`).

    ``broadcast`` is deliberately MORE permissive than the reference:
    scalar ``()`` fields always broadcast (even with broadcast=False),
    and ``broadcast=True`` accepts any numpy-compatible batch-shape
    combination, not just scalar→batch.  See the constructor's
    broadcasting block for the rationale."""

    def wrap(c: type) -> type:
        c._dca_params = DataclassParams(broadcast, cast_dtype, cast_list)
        return c

    return wrap(cls) if cls is not None else wrap


def _strides(shape: Sequence[int]) -> List[int]:
    out = [1] * len(shape)
    for i in range(len(shape) - 2, -1, -1):
        out[i] = out[i + 1] * shape[i + 1]
    return out


def _view_strides(shape: Sequence[int], strides: Sequence[int]) -> Tuple[int, ...]:
    """``strides`` with the size-1 dims' set to 0: their index is always 0,
    so a zero stride on a dim > 1 is what marks a broadcast dim."""
    return tuple(0 if d == 1 else int(s) for d, s in zip(shape, strides))


def _size(shape: Sequence[int]) -> int:
    return int(math.prod(shape)) if shape else 1


def _idiv(a: Column, b) -> Column:
    """Exact integer division on long columns (SQL ``div``).  Double
    division + cast('long') is only floor-exact while the dividend is
    below ~2^53; rowids at the 100 TB design point can exceed that, and
    a quotient half-ulp under an integer would round up and silently
    misindex a row."""
    return F.call_function("div", a, F.lit(b) if isinstance(b, int) else b)


# A strided map ``(offset, shape, strides)`` sends C-order rowid ``rid`` of
# a ``shape`` batch to ``offset + Σ idx_k · stride_k`` of a flat source.
# Strides are never negative; a size-1 dim has stride 0 (``_view_strides``).


def _dense(offset: int, shape: Sequence[int], strides: Sequence[int], n_src: int) -> bool:
    """Whether the map is the identity of an ``n_src``-position source."""
    return offset == 0 and _size(shape) == n_src and tuple(strides) == _view_strides(shape, _strides(shape))


def _source_size(pieces: Sequence[tuple], outer: Optional[tuple]) -> int:
    """Positions in the source of a view's strides: the index table's
    rows times the entries under each, else the pieces' total size."""
    return len(outer[0]) * outer[1] if outer is not None else sum(_size(p[1]) for p in pieces)


def _top(offset: int, shape: Sequence[int], strides: Sequence[int]) -> int:
    """The last source position the map reaches."""
    return offset + sum((d - 1) * s for d, s in zip(shape, strides))


def _sum(terms: List[Column]) -> Column:
    return functools.reduce(lambda a, b: a + b, terms) if terms else F.lit(0)


def _any(preds: List[Column]) -> Column:
    return functools.reduce(lambda a, b: a | b, preds)


def _forward(rid: Column, offset: int, shape: Sequence[int], strides: Sequence[int]) -> Column:
    """The source position of C-order rowid ``rid``."""
    terms = [F.lit(offset)] if offset else []
    for k, (d, s, c) in enumerate(zip(shape, strides, _strides(shape))):
        if s:
            idx = rid if c == 1 else _idiv(rid, c)
            idx = idx if k == 0 else idx % d  # rid < size bounds the leading index
            terms.append(idx if s == 1 else idx * s)
    return _sum(terms)


def _inverse(x: Column, offset: int, shape: Sequence[int], strides: Sequence[int],
             n_src: int) -> Tuple[Optional[Column], Column]:
    """``(keep, rid)``: whether the map reaches source position ``x``, and
    the C-order rowid that reaches it with every stride-0 dim at index 0.
    ``x - offset`` decomposes over the non-zero strides in descending
    order into in-range indices with no remainder.  ``keep`` is a rowid
    range first, so a scan can prune on it, and is None when the map
    reaches every source position."""
    reach = sorted(((s, d, c) for d, s, c in zip(shape, strides, _strides(shape)) if s), reverse=True)
    keep = None
    if _size([d for _, d, _ in reach]) != n_src:
        keep = x.between(offset, _top(offset, shape, strides))
    r, rid = (x - offset) if offset else x, []
    for s, d, c in reach:
        idx = r if s == 1 else _idiv(r, s)
        rid.append(idx if c == 1 else idx * c)
        keep = None if keep is None else keep & (idx < d)
        r = None if s == 1 else r % s  # a stride of 1 is the last, and leaves no remainder
    if keep is not None and r is not None:
        keep = keep & (r == 0)
    return keep, _sum(rid)


def _compose(piece: tuple, offset: int, shape: Sequence[int], strides: Sequence[int]) -> Optional[tuple]:
    """The map over the base that is ``(offset, shape, strides)`` over the
    C-order of ``piece`` (a map over the base with no stride-0 dim > 1),
    or None when a step of it carries across two dims of the piece that
    are not contiguous in the base (numpy's rule for a reshape without a
    copy)."""
    dims: List[List[int]] = []  # [size, base stride], size-1 dims dropped, contiguous ones merged
    for d, s in zip(piece[1], piece[2]):
        if d > 1 and dims and dims[-1][1] == s * d:
            dims[-1] = [dims[-1][0] * d, s]
        elif d > 1:
            dims.append([d, s])
    cs = _strides([d for d, _ in dims])
    digit = [offset // c % d for c, (d, _) in zip(cs, dims)]
    start = piece[0] + sum(g * s for g, (_, s) in zip(digit, dims))
    out = []
    for d, s in zip(shape, strides):
        if d == 1:
            out.append(0)
            continue
        m = next(m for m, c in enumerate(cs) if c <= s)
        digit[m] += s // cs[m] * (d - 1)
        if s % cs[m] or digit[m] >= dims[m][0]:
            return None
        out.append(s // cs[m] * dims[m][1])
    return start, tuple(shape), _view_strides(shape, out)


def _pieces_of(offset: int, shape: Sequence[int], strides: Sequence[int], pieces: Sequence[tuple]) -> Optional[tuple]:
    """Maps over the base whose concatenated C-orders are the map
    ``(offset, shape, strides)`` over the concatenated C-orders of
    ``pieces``; None for a broadcast dim, for rows that interleave across
    a piece boundary, or when :func:`_compose` fails.  Rows that fit in
    one piece are cut in runs, and at most one row straddles each
    boundary, so the result has O(len(pieces)) maps per dim, whatever
    the sizes."""
    if any(d > 1 and not s for d, s in zip(shape, strides)):
        return None
    ends = list(itertools.accumulate(_size(p[1]) for p in pieces))

    def cut(offset, shape, strides):
        i = bisect.bisect_right(ends, offset)
        top = _top(offset, shape, strides)
        if top < ends[i]:
            p = _compose(pieces[i], offset - ends[i] + _size(pieces[i][1]), shape, strides)
            return None if p is None else [p]
        (d0, *rest), (s0, *rest_s) = shape, strides
        if d0 == 1:
            return cut(offset, rest, rest_s)
        if top - (d0 - 1) * s0 - offset >= s0:
            return None  # rows interleave: a piece boundary would cut each one
        out, j = [], 0
        while j < d0:
            o = offset + j * s0
            i = bisect.bisect_right(ends, o)
            run = min(d0, (ends[i] - 1 - top + (d0 - 1) * s0) // s0 + 1) - j
            sub = cut(o, [run] + rest, [s0] + rest_s) if run > 0 else cut(o, rest, rest_s)
            if sub is None:
                return None
            out += sub
            j += max(run, 1)
        return out

    if _size(shape) == 0:
        return ()
    out = cut(offset, list(shape), list(strides))
    return None if out is None else tuple(out)


class _DcaMeta(type):
    def __getitem__(cls, spec: str) -> NestedSpec:
        return NestedSpec(cls, parse_shape(spec))


def _resolve_hint(ann: Any) -> Any:
    """Annotation (possibly a ``Union``/``Optional``) → ArraySpec |
    NestedSpec | None, mirroring the reference's ``get_array_type``
    truth table (`type_parsing.py:78-147`):

    - ``Optional[X]`` → resolve ``X`` (``None`` members are dropped)
    - a union with any non-array member (``Ray | int``) → None (static)
    - a union of DcaTable types with one common inner shape → the field
      degrades to the base ``DcaTable`` at that shape
    - mixing DcaTable and plain array members, unions of DcaTables with
      different inner shapes, or unions of distinct array specs →
      NotImplementedError (reference raises the same)
    """
    leaves = [l for l in dsch.get_leaf_hints(ann) if l is not None]
    if not leaves:
        return None
    specs: list = []
    dcas: list = []
    others: list = []
    for leaf in leaves:
        s = dsch.resolve_annotation(leaf)
        if s is not None:
            specs.append(s)
        elif isinstance(leaf, NestedSpec):
            dcas.append(leaf)
        elif isinstance(leaf, type) and issubclass(leaf, DcaTable):
            dcas.append(NestedSpec(leaf, ()))
        else:
            others.append(leaf)
    if others:
        return None  # non-array member → whole union is a static field
    if specs and dcas:
        raise NotImplementedError(
            f"{ann!r} mixes dataclass and array annotation members"
        )
    if dcas:
        if len(set(dcas)) == 1:
            return dcas[0]
        shapes = {d.extra_inner_shape for d in dcas}
        if len(shapes) != 1:
            raise NotImplementedError(
                f"{ann!r} mixes dataclasses with different inner shapes"
            )
        return NestedSpec(DcaTable, next(iter(shapes)))
    if len(set(specs)) != 1:
        raise NotImplementedError(f"{ann!r} mixes multiple array types")
    return specs[0]


class DcaTable(metaclass=_DcaMeta):
    """DataFrame-backed N-d batch of typed structs.

    Subclass with annotated fields::

        class Ray(DcaTable):
            pos: f32['*batch 3']
            dir: f32['*batch 3']

    Construct from in-memory arrays (``Ray(pos=..., dir=...)``), from a
    DataFrame (``Ray.from_df(df)``), or from parquet
    (``Ray.read_parquet(spark, path)``).
    """

    _dca_params: DataclassParams = DataclassParams()
    _dca_compiled: Optional[Dict[str, Any]] = None  # per-class cache

    # ---------------- class-level schema compilation ----------------

    @classmethod
    def _fields(cls) -> Dict[str, Any]:
        """name → ArraySpec | NestedSpec for array fields; static fields
        are everything else (reference ``_init_cls``,
        `array_dataclass.py:894-956`)."""
        cached = cls.__dict__.get("_dca_compiled")
        if cached is not None:
            return cached
        import sys

        out: Dict[str, Any] = {}
        for klass in reversed(cls.__mro__):
            mod_globals = getattr(sys.modules.get(klass.__module__), "__dict__", {})
            for name, ann in getattr(klass, "__annotations__", {}).items():
                if name.startswith("_"):
                    continue
                if isinstance(ann, str):
                    # `from __future__ import annotations` stringifies
                    # annotations; evaluate in the defining namespace
                    try:
                        ann = eval(ann, mod_globals, dict(vars(klass)))  # noqa: S307
                    except Exception as exc:
                        # a typo'd / unimportable alias would silently
                        # drop this column from the schema — warn loudly
                        # per field instead (the field stays static)
                        import warnings

                        warnings.warn(
                            f"{cls.__name__}.{name}: string annotation "
                            f"{ann!r} failed to evaluate "
                            f"({type(exc).__name__}: {exc}); treating as a "
                            f"STATIC field. If this was meant to be an "
                            f"array field, make the dtype alias importable "
                            f"in {klass.__module__}.",
                            stacklevel=3,
                        )
                spec = _resolve_hint(ann)
                if spec is not None:
                    out[name] = spec
                else:
                    out[name] = ("static", ann)
        if not any(
            not (isinstance(v, tuple) and v[0] == "static") for v in out.values()
        ) and any(
            isinstance(a, str)
            for k in reversed(cls.__mro__)
            for a in getattr(k, "__annotations__", {}).values()
        ):
            # every field came out static but string annotations exist:
            # almost certainly an unresolvable PEP-563 annotation (e.g. a
            # dtype alias not importable in the defining module) — fail
            # loudly instead of silently degrading fields to statics
            import warnings

            warnings.warn(
                f"{cls.__name__}: no array fields resolved but string "
                f"annotations present — check that dtype aliases are "
                f"importable in {cls.__module__}",
                stacklevel=3,
            )
        cls._dca_compiled = out
        return out

    @classmethod
    def _array_fields(cls) -> Dict[str, Union[ArraySpec, NestedSpec]]:
        return {
            k: v for k, v in cls._fields().items() if not (isinstance(v, tuple) and v[0] == "static")
        }

    @classmethod
    def _static_field_names(cls) -> List[str]:
        return [k for k, v in cls._fields().items() if isinstance(v, tuple) and v[0] == "static"]

    @classmethod
    def _struct_type(cls) -> T.StructType:
        fields = []
        for name, spec in cls._array_fields().items():
            fields.append(T.StructField(name, spec.spark_type, nullable=False))
        if not fields:
            # only-static class: dummy scalar field so shape machinery works
            # (reference `_dca_dummy_array`, `array_dataclass.py:939-952`)
            fields.append(T.StructField("__dummy", T.FloatType(), nullable=False))
        return T.StructType(fields)

    @classmethod
    def spark_schema(cls) -> T.StructType:
        """Full DataFrame schema including the ``__rowid`` column."""
        return T.StructType(
            [T.StructField(ROWID, T.LongType(), nullable=False)] + list(cls._struct_type())
        )

    # ---------------- construction ----------------

    def __init__(self, spark: Optional[SparkSession] = None, shape: Tuple[int, ...] = None, **values):
        """Build from in-memory values (the reference's only ingress,
        `array_dataclass.py:264-314`): validates dtype + inner shape,
        broadcasts batch shapes per the class policy, and materializes one
        DataFrame with a dense C-order ``__rowid``."""
        if spark is None:
            spark = SparkSession.getActiveSession()
            if spark is None:
                from dataclass_array_spark.session import get_spark

                spark = get_spark()
        fields = type(self)._fields()
        params = type(self)._dca_params

        statics: Dict[str, Any] = {}
        arrays: Dict[str, Any] = {}  # name → numpy array or nested tree
        batch_shapes: Dict[str, Tuple[int, ...]] = {}

        for name, spec in fields.items():
            if isinstance(spec, tuple) and spec[0] == "static":
                if name in values:
                    statics[name] = values.pop(name)
                continue
            if name not in values:
                raise TypeError(f"{type(self).__name__} missing array field {name!r}")
            val = values.pop(name)
            if isinstance(spec, ArraySpec):
                arr = self._coerce_array(name, val, spec, params)
                arrays[name] = arr
                ndim_inner = len(spec.inner_shape)
                batch_shapes[name] = arr.shape[: arr.ndim - ndim_inner] if ndim_inner else arr.shape
            else:  # NestedSpec
                tree = _nested_to_tree(val, spec.table_cls)
                nested_batch = _tree_batch_shape(tree, spec.table_cls)
                n_extra = len(spec.extra_inner_shape)
                if n_extra:
                    if len(nested_batch) < n_extra:
                        raise ShapeError(
                            f"field {name!r}: nested batch {nested_batch} shorter than "
                            f"declared inner shape {spec.extra_inner_shape}"
                        )
                    inner = nested_batch[len(nested_batch) - n_extra :]
                    for got, want in zip(inner, spec.extra_inner_shape):
                        if want is not None and got != want:
                            raise ShapeError(
                                f"field {name!r}: inner shape {inner} != declared "
                                f"{spec.extra_inner_shape}"
                            )
                    batch_shapes[name] = nested_batch[: len(nested_batch) - n_extra]
                else:
                    batch_shapes[name] = nested_batch
                arrays[name] = tree
        if values:
            raise TypeError(f"unexpected fields {sorted(values)}")

        # batch-shape broadcasting.  INTENTIONAL RELAXATION vs the
        # reference (`_broadcast_shape_inplace`, `array_dataclass.py:678-728`):
        # the reference rejects scalar () auto-broadcast when
        # broadcast=False and restricts broadcast=True to scalar→batch
        # only; here broadcast=False still broadcasts scalar () fields
        # (a scalar per-row constant is unambiguous) and broadcast=True
        # accepts any np.broadcast_shapes-compatible combination, e.g.
        # (1,3) vs (2,3) — strictly more permissive, never silently
        # different for inputs the reference accepts.
        if arrays:
            shapes = list(batch_shapes.values())
            try:
                target = np.broadcast_shapes(*shapes)
            except ValueError as e:
                raise ShapeError(f"incompatible batch shapes {shapes}: {e}") from None
            # the Arrow encoder broadcasts each leaf to the target
            for name, bshape in batch_shapes.items():
                if tuple(bshape) != tuple(target) and not params.broadcast and bshape != ():
                    raise ShapeError(
                        f"field {name!r} batch shape {bshape} != {tuple(target)} and "
                        f"broadcast=False (only scalar fields auto-broadcast)"
                    )
            batch_shape = tuple(int(d) for d in target)
        else:
            batch_shape = tuple(shape) if shape is not None else ()

        self._init_from_tree(spark, arrays, batch_shape, statics)

    def _init_from_tree(self, spark, arrays, batch_shape, statics):
        cls = type(self)
        cols = {ROWID: np.arange(_size(batch_shape), dtype=np.int64)}
        cols.update(_arrow_columns(cls, arrays, batch_shape))
        self._bind(_local_frame(spark, cols, cls.spark_schema()), batch_shape, statics, spark)

    def _bind(self, df: DataFrame, shape: Tuple[int, ...], statics: Dict[str, Any],
              spark: SparkSession, view: Optional[tuple] = None):
        """``df`` is the base frame, dense C-order in ``__rowid``; ``view``
        is ``(base_size, pieces, outer, offset, strides)`` over it (see
        :meth:`_mapped`), the identity view if omitted."""
        self._base = df
        self._shape = tuple(shape)
        n = _size(shape)
        self._base_size, self._pieces, self._outer, self._offset, self._strides = view or (
            n, ((0, (n,), _view_strides((n,), (1,))),), None, 0, _view_strides(shape, _strides(shape))
        )
        self._frame = None
        self._statics = dict(statics)
        self._spark = spark
        for k, v in self._statics.items():
            setattr(self, k, v)

    @classmethod
    def _wrap(cls, df: DataFrame, shape: Tuple[int, ...], statics: Dict[str, Any], spark: SparkSession) -> "DcaTable":
        obj = cls.__new__(cls)
        obj._bind(df, shape, statics, spark)
        return obj

    @classmethod
    def from_df(
        cls,
        df: DataFrame,
        shape: Optional[Tuple[int, ...]] = None,
        validate: bool = True,
        **statics,
    ) -> "DcaTable":
        """Adopt an existing DataFrame as a 1-D (or given-shape) batch.

        If ``df`` has no ``__rowid`` it gets one via zipWithIndex-style
        dense numbering.  With ``validate``, columns are cast to the class
        schema (errors surface at Catalyst analysis, i.e. immediately).
        """
        spark = df.sparkSession
        if ROWID not in df.columns:
            df = attach_dense_rowid(df)
        if validate:
            exprs = [F.col(ROWID).cast("long").alias(ROWID)]
            for name, spec in cls._array_fields().items():
                if name not in df.columns:
                    raise ShapeError(f"{cls.__name__}.from_df: missing column {name!r}")
                exprs.append(F.col(name).cast(_nullable_variant(spec.spark_type)).alias(name))
            if not cls._array_fields():
                exprs.append(F.lit(0.0).cast("float").alias("__dummy"))
            df = df.select(*exprs)
        if shape is None:
            n = df.count()
            shape = (n,)
        return cls._wrap(df, tuple(shape), statics, spark)

    @classmethod
    def read_parquet(cls, spark: SparkSession, path: str, **statics) -> "DcaTable":
        """Columnar scan source; schema enforced by cast-select so Catalyst
        still prunes columns and pushes filters into the parquet reader."""
        return cls.from_df(spark.read.parquet(path), **statics)

    # ---------------- coercion helpers ----------------

    @staticmethod
    def _coerce_array(name: str, val: Any, spec: ArraySpec, params: DataclassParams) -> np.ndarray:
        if isinstance(val, (list, tuple)):
            if not params.cast_list:
                raise TypeError(f"field {name!r}: list input with cast_list=False")
            val = np.asarray(val)
        if np.isscalar(val):
            val = np.asarray(val)
        if not isinstance(val, np.ndarray):
            raise TypeError(f"field {name!r}: expected array-like, got {type(val)}")
        want = np.dtype(spec.np_dtype)
        if val.dtype != want:
            # int→float and widening casts are always fine; narrowing needs
            # cast_dtype=True (reference `_cast_xnp_dtype_inplace` policy,
            # `array_dataclass.py:626-676`)
            if params.cast_dtype or np.can_cast(val.dtype, want, casting="safe"):
                val = val.astype(want)
            else:
                raise TypeError(
                    f"field {name!r}: dtype {val.dtype} != {want} and cast_dtype=False"
                )
        inner = spec.inner_shape
        if len(inner) > val.ndim:
            raise ShapeError(f"field {name!r}: rank {val.ndim} < inner rank {len(inner)}")
        got_inner = val.shape[val.ndim - len(inner) :] if inner else ()
        for got, want_d in zip(got_inner, inner):
            if want_d is not None and got != want_d:
                raise ShapeError(
                    f"field {name!r}: inner shape {got_inner} incompatible with declared {inner}"
                )
        return val

    # ---------------- the view and its one materializer ----------------

    def _view(self, shape: Sequence[int], offset: int, strides: Sequence[int]) -> "DcaTable":
        """New strides over this view's source: its pieces and index table."""
        return self._mapped(self._pieces, self._outer, shape, offset, strides)

    def _mapped(self, pieces, outer, shape: Sequence[int], offset: int = 0,
                strides: Optional[Sequence[int]] = None) -> "DcaTable":
        """A view over this object's base frame: ``(offset, shape, strides)``
        (C-order by default) over the concatenated C-orders of ``pieces``,
        each a strided map over the base, picked through the index table
        ``outer`` when it is given."""
        out = type(self).__new__(type(self))
        shape = tuple(shape)
        strides = _view_strides(shape, _strides(shape) if strides is None else strides)
        view = (self._base_size, tuple(pieces), outer, offset, strides)
        out._bind(self._base, shape, self._statics, self._spark, view)
        return out

    def _contiguous(self) -> bool:
        return self.size == 0 or self._strides == _view_strides(self._shape, _strides(self._shape))

    def _flat(self) -> "DcaTable":
        """This batch as a view whose C-order is its source's: itself when
        it is one, else its strides cut into pieces of the base (no
        DataFrame call), else a view of its materialized frame."""
        if _dense(self._offset, self._shape, self._strides, _source_size(self._pieces, self._outer)):
            return self
        if self._outer is None:
            pieces = _pieces_of(self._offset, self._shape, self._strides, self._pieces)
            if pieces is not None:
                return self._mapped(pieces, None, self._shape)
        return self._rebased()

    def _rebased(self) -> "DcaTable":
        return type(self)._wrap(self.df, self._shape, self._statics, self._spark)

    @property
    def df(self) -> DataFrame:
        """The view's frame, dense C-order in ``__rowid``: built by
        :meth:`_materialize` on first read, then cached on the object."""
        if self._frame is None:
            self._frame = self._materialize()
        return self._frame

    def _materialize(self) -> DataFrame:
        """Every view's frame comes from here, as one scan of the base;
        the identity view is the base itself.

        1. One filter keeps the base rows some piece holds (a rowid
           range and a no-remainder stride decomposition per piece) and
           gives each kept row its position in the pieces' concatenation;
           when there are several pieces, one ``explode`` of the kept
           row's hits (a base row two pieces hold is two rows).
        2. An index table (masks and gathers) is at most one broadcast
           join, on ``position // rest``.
        3. The view's strides over that source are one more filter and
           projection, and one ``posexplode`` per broadcast dim (stride
           0) of ``d`` copies of the kept row's rowid: the copy's index
           moves the row's position along that dim.  The array refers to
           the row, so Catalyst cannot fold it into a literal on the
           driver.  It has ``d`` entries (Spark caps an array at
           2**31 - 16), and the task that holds a kept row makes all of
           its copies, so a few rows broadcast to a large shape run in
           few tasks."""
        base, pieces, outer = self._base, self._pieces, self._outer
        offset, shape, strides = self._offset, self._shape, self._strides
        if self.size == 0:
            return base.filter(F.lit(False))
        n_src = _source_size(pieces, outer)
        dense = _dense(offset, shape, strides, n_src)
        if outer is None and dense and len(pieces) == 1 and _dense(*pieces[0], self._base_size):
            return base
        hits, start = [], 0
        for p in pieces:
            keep, rid = _inverse(F.col(ROWID), *p, self._base_size)
            hits.append((keep, rid + start if start else rid))
            start += _size(p[1])
        if all(k is not None for k, _ in hits):
            keep = _any([k for k, _ in hits])
            if len(hits) > 1:  # the pieces' rowid ranges on their own, which a scan can prune on
                keep = _any([F.col(ROWID).between(p[0], _top(*p)) for p in pieces]) & keep
            base = base.filter(keep)
        pos = hits[0][1]
        if len(hits) > 1:
            arr = F.array(*[r if k is None else F.when(k, r) for k, r in hits])
            base, pos = base.withColumn("__pos", F.explode(F.array_compact(arr))), F.col("__pos")
        if outer is not None:
            table, rest = outer
            idx = _local_frame(self._spark, {"__old": table, "__new": np.arange(len(table), dtype=np.int64)})
            base = base.withColumn("__old", _idiv(pos, rest)).join(F.broadcast(idx), on="__old")
            pos = F.col("__new") * rest + pos % rest
        reps = []
        if not dense:
            keep, pos = _inverse(pos, offset, shape, strides, n_src)
            if keep is not None:
                base = base.filter(keep)
            reps = [(f"__rep{k}", d, c) for k, (d, s, c) in enumerate(zip(shape, strides, _strides(shape))) if d > 1 and s == 0]
            for rep, d, c in reps:  # d copies of the row, an array of its own rowid (never a literal)
                base = base.select("*", F.posexplode(F.array_repeat(F.col(ROWID), d)).alias(rep, "__copy")).drop("__copy")
                pos = pos + F.col(rep) * c
        return base.withColumn(ROWID, pos.cast("long")).drop("__pos", "__old", "__new", *[rep for rep, _, _ in reps])

    def _source_rowid(self, rid: Column) -> Column:
        """The forward index map of a view with one piece and no index
        table: the base rowid behind the view's C-order rowid ``rid``."""
        (piece,) = self._pieces
        return _forward(_forward(rid, self._offset, self._shape, self._strides), *piece).cast("long")

    # ---------------- introspection ----------------

    @property
    def spark(self) -> SparkSession:
        return self._spark

    @property
    def shape(self) -> Tuple[int, ...]:
        return self._shape

    @property
    def size(self) -> int:
        return _size(self._shape)

    @property
    def ndim(self) -> int:
        return len(self._shape)

    def __len__(self) -> int:
        if not self._shape:
            raise TypeError("len() of unsized object (scalar batch shape)")
        return self._shape[0]

    def __bool__(self) -> bool:
        # reference `array_dataclass.py:412-453`: always truthy, but
        # ambiguous (error) for an empty batch
        if self.size == 0:
            raise ValueError(
                f"The truth value of {type(self).__name__} (size 0) is ambiguous"
            )
        return True

    def __repr__(self) -> str:
        return f"{type(self).__name__}(shape={self._shape}, fields={list(type(self)._array_fields())})"

    # ---------------- shape ops: views over the base frame ----------------

    def reshape(self, shape: Union[Tuple[int, ...], str], **axes_length: int) -> "DcaTable":
        """A view (reference `array_dataclass.py:333-369`): a tuple reshape
        of a C-contiguous view only changes shape and strides; any other
        tuple reshape is C-order strides over :meth:`_flat`'s pieces,
        where numpy copies.  A string is einops-style
        ``'b h w -> b (h w)'``, see :meth:`_reshape_einops`."""
        if isinstance(shape, str):
            return self._reshape_einops(shape, axes_length)
        shape = tuple(shape)
        n = self.size
        negs = [i for i, d in enumerate(shape) if d == -1]
        if len(negs) > 1:
            raise ShapeError("only one -1 allowed in reshape")
        if negs:
            rest = _size([d for d in shape if d != -1])
            if rest == 0 or n % rest:
                raise ShapeError(f"cannot reshape size {n} into {shape}")
            shape = tuple(n // rest if d == -1 else d for d in shape)
        if _size(shape) != n:
            raise ShapeError(f"cannot reshape size {n} into {shape}")
        if shape == self._shape:
            return self._view(shape, self._offset, self._strides)
        src = self if self._contiguous() else self._flat()
        return src._view(shape, src._offset, _strides(shape))

    def flatten(self) -> "DcaTable":
        return self.reshape((-1,))

    def _reshape_einops(self, pattern: str, axes_length: Dict[str, int]) -> "DcaTable":
        """Einops ``'b (h w) -> (w b) h'`` (reference
        `array_dataclass.py:351-362`): each lhs dim splits into its atoms
        and the atoms permute into rhs order, both views; then a tuple
        reshape merges the rhs groups."""
        lhs, rhs = [s.strip() for s in pattern.split("->")]
        lhs_groups = _parse_einops_side(lhs)
        rhs_groups = _parse_einops_side(rhs)
        if len(lhs_groups) != self.ndim:
            raise ShapeError(
                f"einops lhs {lhs!r} has {len(lhs_groups)} dims, batch shape is {self._shape}"
            )
        # resolve atomic dim sizes from lhs groups + provided axes lengths
        dim_size: Dict[str, int] = dict(axes_length)
        for group, actual in zip(lhs_groups, self._shape):
            unknown = [a for a in group if a not in dim_size]
            known = _size([dim_size[a] for a in group if a in dim_size])
            if len(unknown) > 1:
                raise ShapeError(f"cannot infer sizes for {unknown} in group {group}")
            if unknown:
                if actual % known:
                    raise ShapeError(f"group {group} does not divide dim {actual}")
                dim_size[unknown[0]] = actual // known
            elif known != actual:
                raise ShapeError(f"group {group} sizes {known} != dim {actual}")
        rhs_atoms = [a for g in rhs_groups for a in g]
        if sorted(a for g in lhs_groups for a in g) != sorted(rhs_atoms):
            raise ShapeError(f"einops sides use different axes: {pattern!r}")
        stride: Dict[str, int] = {}
        for group, s in zip(lhs_groups, self._strides):
            for a, c in zip(group, _strides([dim_size[a] for a in group])):
                stride[a] = s * c
        atoms = self._view([dim_size[a] for a in rhs_atoms], self._offset, [stride[a] for a in rhs_atoms])
        return atoms.reshape(tuple(_size([dim_size[a] for a in g]) for g in rhs_groups))

    def broadcast_to(self, shape: Tuple[int, ...]) -> "DcaTable":
        """Tile batch dims as a view (reference `array_dataclass.py:375-380`):
        new leading dims and size-1 dims get stride 0, which
        :meth:`_materialize` repeats with one ``posexplode`` per dim: a
        dim may have at most 2**31 - 16 entries, and each kept row's
        copies are made in one task."""
        shape = tuple(int(d) for d in shape)
        old = self._shape
        if len(shape) < len(old):
            raise ShapeError(f"broadcast_to {shape} has fewer dims than {old}")
        pad = len(shape) - len(old)
        for i, d in enumerate(old):
            if d != shape[pad + i] and d != 1:
                raise ShapeError(f"cannot broadcast {old} to {shape}")
        return self._view(shape, self._offset, (0,) * pad + self._strides)

    def __getitem__(self, indices) -> "DcaTable":
        """Numpy indexing on batch dims, every form a view (reference
        `array_dataclass.py:382-390`, `:1017-1035`, README "Numpy
        slicing/indexing/masking").  Basic indexing (int/slice/Ellipsis/
        None tuples) is a new offset, shape and strides.  A boolean mask
        or an integer-array gather is an index table over the view's
        leading dims, composed with the one it already has (see
        :meth:`_take`).  A Column predicate is the distributed filter
        (:meth:`_mask_column`), which builds a frame."""
        if isinstance(indices, (np.ndarray, list)) and np.asarray(indices).dtype == bool:
            return self._mask(np.asarray(indices))
        if isinstance(indices, Column):
            return self._mask_column(indices)
        if isinstance(indices, (np.ndarray, list)) and np.asarray(indices).dtype.kind in "iu":
            return self._gather(np.asarray(indices))
        if not isinstance(indices, tuple):
            indices = (indices,)
        if indices.count(Ellipsis) > 1:
            raise IndexError("an index can only have a single ellipsis ('...')")
        n_real = sum(1 for ix in indices if ix is not None and ix is not Ellipsis)
        if n_real > self.ndim:
            raise IndexError(
                f"too many indices for array: array is {self.ndim}-dimensional, "
                f"but {n_real} were indexed"
            )
        # expand Ellipsis
        if Ellipsis in indices:
            pos = indices.index(Ellipsis)
            fill = self.ndim - n_real
            indices = indices[:pos] + (slice(None),) * fill + indices[pos + 1 :]
        else:
            indices = indices + (slice(None),) * (self.ndim - n_real)

        offset, shape, strides = self._offset, [], []
        dim_i = 0
        for ix in indices:
            if ix is None:
                shape.append(1)
                strides.append(0)
                continue
            d, s = self._shape[dim_i], self._strides[dim_i]
            if isinstance(ix, (int, np.integer)):
                i = int(ix) + (d if ix < 0 else 0)
                if not (0 <= i < d):
                    raise IndexError(f"index {ix} out of bounds for axis {dim_i} with size {d}")
                offset += i * s  # dim removed
            elif isinstance(ix, slice):
                start, stop, step = ix.indices(d)
                if step <= 0:
                    raise IndexError("negative slice steps not supported")
                shape.append(max(0, (stop - start + step - 1) // step))
                strides.append(s * step)
                offset += start * s
            else:
                raise IndexError(f"unsupported index {ix!r}")
            dim_i += 1
        return self._view(shape, offset, strides)

    def _mask(self, mask: np.ndarray) -> "DcaTable":
        """numpy boolean-mask semantics: the mask matches the LEADING
        batch dims; masked dims collapse to one, trailing dims survive
        (``v[mask]`` with mask.shape == v.shape[:k])."""
        k = mask.ndim
        if mask.shape != self._shape[:k]:
            raise IndexError(
                f"mask shape {mask.shape} != leading batch dims {self._shape[:k]}"
            )
        sel = np.flatnonzero(mask.reshape(-1))
        return self._take(sel, (len(sel),), k)

    def _mask_column(self, pred: Column) -> "DcaTable":
        """Filter by a Column predicate — the distributed mask path.
        Result is flattened to 1-D with re-densified rowids (two-pass
        partition-offset numbering; see ``attach_dense_rowid``)."""
        out = attach_dense_rowid(self.df.filter(pred).drop(ROWID))
        n = out.count()
        return type(self)._wrap(out, (n,), self._statics, self._spark)

    def _gather(self, idx: np.ndarray) -> "DcaTable":
        """Integer-array indexing along axis 0 (reference gather, SURVEY
        §2 #15): an index table of ``idx.size`` rows, see :meth:`_take`."""
        if self.ndim == 0:
            raise IndexError("cannot gather from scalar batch")
        d0 = self._shape[0]
        flat = idx.reshape(-1)
        norm = np.where(flat < 0, flat + d0, flat)
        bad = (norm < 0) | (norm >= d0)
        if bad.any():
            raise IndexError(
                f"gather index {int(flat[bad][0])} out of bounds for axis 0 size {d0}"
            )
        return self._take(norm, tuple(idx.shape), 1)

    def _take(self, sel: np.ndarray, outer: Tuple[int, ...], k: int) -> "DcaTable":
        """The batch whose ``outer``-shaped leading entries are the view's
        leading-``k``-dims entries at flat indices ``sel``: an index table
        over the C-order of :meth:`_flat`, with ``len(sel)`` rows.  An
        index table there already is composed with it when its rows
        split evenly into the new ones, else the view is rebased on its
        frame first."""
        src, rest = self._flat(), _size(self._shape[k:])
        sel = sel.astype(np.int64)
        if src._outer is not None and rest and src._outer[1] % rest == 0:
            table, r0 = src._outer
            sel = table[sel * rest // r0] * (r0 // rest) + sel * rest % r0 // rest
        elif src._outer is not None:
            src = src._rebased()
        return src._mapped(src._pieces, (sel, rest), outer + self._shape[k:])

    # ---- relational passthroughs (§2.B surfaced on the wrapper):
    # thin delegations so users never need to drop to .df for the
    # common relational verbs; results are plain DataFrames (the
    # relational layer is row-set, not batch-shaped).

    def join(self, other, on=None, how: str = "inner") -> DataFrame:
        odf = other.df if isinstance(other, DcaTable) else other
        if isinstance(other, DcaTable):
            assert_same_session(self, other)
            odf = odf.drop(ROWID)
        return self.df.drop(ROWID).join(odf, on=on, how=how)

    def groupBy(self, *cols):
        return self.df.drop(ROWID).groupBy(*cols)

    def sql(self, query: str, view: str = "self") -> DataFrame:
        """Run SQL with this table registered as ``view``."""
        self.df.createOrReplaceTempView(view)
        return self._spark.sql(query)

    def filter(self, pred: Column) -> "DcaTable":
        """Named alias for Column-mask indexing (``dc[pred]``) — the
        distributed filter; result is 1-D with dense rowids."""
        return self._mask_column(pred)

    def __iter__(self) -> Iterator["DcaTable"]:
        # driver-side convenience, like the reference (`array_dataclass.py:393-402`)
        for i in range(len(self)):
            yield self[i]

    # ---------------- field ops ----------------

    def map_field(self, fn: Callable[[Column], Column]) -> "DcaTable":
        """Apply ``fn`` to every array-field column, recursing into nested
        DcaTable struct fields (reference ``map_field`` + ``_map_field``
        dc recursion, `array_dataclass.py:455-463, 740-770`).  One select —
        stays inside whole-stage codegen."""
        exprs = [F.col(ROWID)]
        for name, spec in type(self)._array_fields().items():
            exprs.append(_map_field_expr(F.col(name), spec, lambda c, s: fn(c)).alias(name))
        if not type(self)._array_fields():
            exprs.append(F.col("__dummy"))
        out = self.df.select(*exprs)
        return type(self)._wrap(out, self._shape, self._statics, self._spark)

    def map_leaves(self, fn: Callable[[Column], Column]) -> "DcaTable":
        """Elementwise variant of ``map_field``: descends through the
        inner-shape ArrayType nesting (including inside nested struct
        fields) with ``F.transform`` so ``fn`` sees scalar elements.
        Still a single codegen'd select."""

        def leafwise(col: Column, spec: ArraySpec) -> Column:
            apply = fn
            for _ in spec.inner_shape:
                prev = apply
                apply = (lambda p: (lambda c: F.transform(c, p)))(prev)
            return apply(col)

        exprs = [F.col(ROWID)]
        for name, spec in type(self)._array_fields().items():
            exprs.append(_map_field_expr(F.col(name), spec, leafwise).alias(name))
        out = self.df.select(*exprs)
        return type(self)._wrap(out, self._shape, self._statics, self._spark)

    def replace(self, **changes) -> "DcaTable":
        """New instance with replaced fields (reference
        `array_dataclass.py:467-494`).  Column values go straight into a
        ``withColumns`` (revalidated by cast); array-likes must match the
        batch shape and are joined in by rowid."""
        statics = dict(self._statics)
        col_changes: Dict[str, Column] = {}
        np_changes: Dict[str, np.ndarray] = {}
        specs = type(self)._array_fields()
        for name, val in changes.items():
            if name in statics or name in type(self)._static_field_names():
                statics[name] = val
            elif name in specs:
                if isinstance(val, Column):
                    col_changes[name] = val
                else:
                    spec = specs[name]
                    if not isinstance(spec, ArraySpec):
                        raise TypeError(f"replace of nested field {name!r} requires a Column")
                    np_changes[name] = self._coerce_array(
                        name, val, spec, DataclassParams(broadcast=True, cast_dtype=True)
                    )
            else:
                raise TypeError(f"unknown field {name!r}")
        df = self.df
        if col_changes:
            df = df.withColumns(
                {k: v.cast(specs[k].spark_type) if isinstance(specs[k], ArraySpec) else v
                 for k, v in col_changes.items()}
            )
        if np_changes:
            cols = {ROWID: np.arange(self.size, dtype=np.int64)}
            for k, arr in np_changes.items():
                cols[f"__new_{k}"] = _arrow_field(arr, specs[k], self._shape)
            sch = T.StructType(
                [T.StructField(ROWID, T.LongType(), False)]
                + [T.StructField(f"__new_{k}", specs[k].spark_type, False) for k in np_changes]
            )
            upd = _local_frame(self._spark, cols, sch)
            df = df.join(F.broadcast(upd), on=ROWID, how="inner")
            for k in np_changes:
                df = df.withColumn(k, F.col(f"__new_{k}")).drop(f"__new_{k}")
        out = type(self)._wrap(df, self._shape, statics, self._spark)
        return out

    # ---------------- sinks / interchange ----------------

    def to_pandas(self):
        """Rowid-ordered local export: one unsorted Arrow collect, put in
        rowid order on the driver (see :func:`_rowid_order`)."""
        pdf = self.df.toPandas()
        order = _rowid_order(pdf[ROWID].to_numpy(), self.size)
        return pdf.iloc[order].set_index(ROWID, drop=True)

    def to_numpy_fields(self) -> Dict[str, np.ndarray]:
        """Collect every array field back to a numpy array with the full
        ``batch_shape + inner_shape`` (the reference's ``as_np`` exit,
        `array_dataclass.py:496-538`).  Nested fields come back as object
        arrays of row structs over ``batch_shape + extra_inner_shape``."""
        tbl = self.df.toArrow()
        order = _rowid_order(tbl.column(ROWID).to_numpy(), self.size)
        return {
            name: _np_field(tbl.column(name), spec, order, self._shape)
            for name, spec in type(self)._array_fields().items()
        }

    # ---- tree protocol (reference pytree registration,
    # `array_dataclass.py:772-861`): decompose into (DataFrame, metadata)
    # and rebuild — the basis for persistence and interop.

    def tree_flatten(self) -> Tuple[DataFrame, Dict[str, Any]]:
        meta = {
            "class": type(self).__name__,
            "shape": list(self._shape),
            "statics": dict(self._statics),
        }
        return self.df, meta

    @classmethod
    def tree_unflatten(cls, df: DataFrame, meta: Dict[str, Any]) -> "DcaTable":
        return cls._wrap(
            df, tuple(meta["shape"]), dict(meta.get("statics", {})), df.sparkSession
        )

    # ---- persistence (pickle analog, reference `array_dataclass.py:863-878`):
    # parquet + JSON sidecar carrying logical shape and static fields.

    def save(self, path: str, mode: str = "overwrite") -> None:
        """Write parquet + a `_dca_meta.json` sidecar: shape metadata and
        the frame's schema, which :meth:`load` reads with.

        The sidecar goes through the Hadoop FileSystem API, not local
        ``open()`` — so it lands next to the parquet on ANY supported
        filesystem (HDFS/S3A/GCS), matching the 100 TB deployment story
        where ``path`` is rarely driver-local."""
        import json

        df, meta = self.tree_flatten()
        df.write.mode(mode).parquet(path)
        meta["schema"] = df.schema.json()
        _hadoop_write_text(
            self._spark, f"{path.rstrip('/')}/_dca_meta.json", json.dumps(meta)
        )

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "DcaTable":
        """Read what :meth:`save` wrote.  The recorded schema spares the
        Parquet footer-inference job; a sidecar without one (written
        before schemas were recorded) still infers."""
        import json

        meta = json.loads(
            _hadoop_read_text(spark, f"{path.rstrip('/')}/_dca_meta.json")
        )
        reader = spark.read
        if "schema" in meta:
            reader = reader.schema(T.StructType.fromJson(json.loads(meta["schema"])))
        return cls.tree_unflatten(reader.parquet(path), meta)

    def cache(self) -> "DcaTable":
        """Cache the view's frame and rebase on it: later views of this
        object read the cached rows."""
        self._bind(self.df.cache(), self._shape, self._statics, self._spark)
        return self

    def explain(self, mode: str = "formatted") -> None:
        """Show the physical plan — the first thing to check when an op
        chain might be shuffling more than it should (see PERF.md)."""
        self.df.explain(mode)


def _hadoop_fs(spark: SparkSession, path_str: str):
    """(FileSystem, Path) for a path string, resolved through the
    session's Hadoop conf — works for file:/, hdfs:/, s3a:/, gs:/ ..."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path_str)
    return p.getFileSystem(hconf), p


def _hadoop_write_text(spark: SparkSession, path_str: str, text: str) -> None:
    fs, p = _hadoop_fs(spark, path_str)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _hadoop_read_text(spark: SparkSession, path_str: str) -> str:
    jvm = spark._jvm
    fs, p = _hadoop_fs(spark, path_str)
    stream = fs.open(p)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, jvm.java.nio.charset.StandardCharsets.UTF_8
        )
    finally:
        stream.close()


def assert_same_session(*tables: "DcaTable") -> None:
    """Cross-input engine guard (reference ``assert_same_xnp``,
    `array_dataclass.py:884-891`)."""
    sessions = {id(t.spark) for t in tables}
    if len(sessions) > 1:
        raise ValueError("inputs belong to different SparkSessions")


# ---------------- module helpers ----------------


def _nullable_variant(t: T.DataType) -> T.DataType:
    """Structurally-equal type with nullable containers — Spark refuses
    to cast nullable-element arrays to containsNull=False ones."""
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_nullable_variant(t.elementType), containsNull=True)
    if isinstance(t, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable_variant(f.dataType), True) for f in t.fields]
        )
    return t


def _parse_einops_side(side: str) -> List[List[str]]:
    """``'b (h w) c'`` → ``[['b'], ['h', 'w'], ['c']]``."""
    groups: List[List[str]] = []
    i = 0
    toks = side.replace("(", " ( ").replace(")", " ) ").split()
    cur: Optional[List[str]] = None
    for tok in toks:
        if tok == "(":
            if cur is not None:
                raise ShapeError(f"nested parens in einops pattern {side!r}")
            cur = []
        elif tok == ")":
            if cur is None:
                raise ShapeError(f"unbalanced parens in {side!r}")
            groups.append(cur)
            cur = None
        elif tok.isidentifier() or tok == "1":
            if cur is None:
                groups.append([tok])
            else:
                cur.append(tok)
        else:
            raise ShapeError(f"bad einops token {tok!r} in {side!r}")
    if cur is not None:
        raise ShapeError(f"unbalanced parens in {side!r}")
    return groups


def _map_field_expr(col: Column, spec, fn: Callable[[Column, ArraySpec], Column]) -> Column:
    """Apply ``fn(col, leaf_spec)`` at every ArraySpec leaf, rebuilding
    nested structs and descending extra inner-shape array nesting."""
    if isinstance(spec, ArraySpec):
        return fn(col, spec)

    def rebuild(c: Column, depth: int) -> Column:
        if depth:
            return F.transform(c, lambda x: rebuild(x, depth - 1))
        sub = []
        for name, s in spec.table_cls._array_fields().items():
            sub.append(_map_field_expr(c.getField(name), s, fn).alias(name))
        return F.struct(*sub)

    return rebuild(col, len(spec.extra_inner_shape))


# Every pin created by :func:`pin_materialization` is recorded here so a
# long-lived multi-query driver process (bench sweeps, ETL loops) can
# release the pinned blocks deterministically via :func:`release_pins`
# once the consuming query's final action has run.  Without this, dead
# localCheckpoint blocks sit in the block manager until the
# ContextCleaner notices the RDD is unreachable — which needs a JVM GC
# (periodic GC interval: session.py) — and the accumulated blocks were
# measured degrading LATE queries in a 195-query sweep (round-15 bench:
# one spiked pass-3 sample on alphabetically-late gates).  Entries are
# py4j handles to the checkpointed internal RDD (the object that owns
# the blocks; unpersisting the *DataFrame* would not reach it).
_LIVE_PIN_RDDS: List[Any] = []


def _register_pin(df: DataFrame) -> DataFrame:
    """Record the checkpointed RDD behind ``df`` for later release."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        _LIVE_PIN_RDDS.append(plan.rdd())  # LogicalRDD.rdd — block owner
    except Exception:
        pass  # registry is best-effort; the ContextCleaner remains the backstop
    return df


def release_pins() -> int:
    """Unpersist every pinned materialization created since the last call.

    Call ONLY between queries — after the consuming query's final action
    — never while a returned DataFrame may still be evaluated: a
    localCheckpoint's lineage is truncated, so a released pin cannot be
    recomputed (Spark fails loudly with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).
    Returns the number of pins released.  Non-blocking: block removal
    proceeds asynchronously in the block manager."""
    n = 0
    while _LIVE_PIN_RDDS:
        rdd = _LIVE_PIN_RDDS.pop()
        try:
            rdd.unpersist(False)
            n += 1
        except Exception:
            pass  # context stopped or RDD already cleaned — nothing to release
    return n


def pin_materialization(df: DataFrame, pin: str = "local") -> DataFrame:
    """Pin exactly ONE materialization of ``df`` so every later job sees
    identical partition contents (RangePartitioner boundaries are sampled
    with an RDD-id-derived seed, so re-executing the same plan can place
    rows differently — see :func:`attach_dense_rowid`).

    ``pin`` selects the failure-domain tradeoff (PERF.md "Pinning"):

    - ``"local"`` (default): ``localCheckpoint(eager=True)`` — blocks in
      executor memory/disk, no replication.  Fast and right for
      single-node or short-lived jobs, but on a cluster an executor loss
      makes the pinned RDD unrecoverable (lineage is truncated), failing
      the job instead of recomputing, and blocks are held until the
      frame is GC'd.
    - ``"reliable"``: ``checkpoint(eager=True)`` to the SparkContext
      checkpoint directory — survives executor loss; the write/read
      round-trip costs one extra pass over the data.  Set
      ``sc.setCheckpointDir`` to HDFS/object storage on a real cluster;
      if unset, a local temp dir is auto-configured (sandbox fallback —
      NOT durable across machines).
    """
    if pin == "local":
        return _register_pin(df.localCheckpoint(eager=True))
    if pin == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            import tempfile

            sc.setCheckpointDir(tempfile.mkdtemp(prefix="dca-checkpoint-"))
        return _register_pin(df.checkpoint(eager=True))
    raise ValueError(f"pin must be 'local' or 'reliable', got {pin!r}")


def collect_bounded(df: DataFrame, cap: int = 1 << 16) -> Optional[list]:
    """The rows of ``df`` if it has at most ``cap`` of them, else ``None``.

    The one driver-fold dispatch probe: a single ``take(cap+1)`` job.
    Operators whose input is bounded by construction (sketch tables,
    vocabularies, per-partition partial sums) fold the rows on the
    driver when this returns them and run their distributed path
    otherwise.  Pass a pinned frame when the distributed path reuses
    it, so the probe and the fallback share one materialization.
    Callers import this lazily, so patching it to return ``None``
    forces every consumer onto its distributed path."""
    rows = df.take(int(cap) + 1)
    return rows if len(rows) <= cap else None


def attach_dense_rowid(
    df: DataFrame, order_by: Optional[str] = None, pin: str = "local"
) -> DataFrame:
    """Add a dense 0..N-1 ``__rowid`` without a single-partition sort.

    Two-pass partition-offset numbering (the standard distributed
    zipWithIndex), entirely JVM-side: count rows per partition (tiny
    collect), broadcast the prefix sums, then number within each
    partition by decoding ``monotonically_increasing_id`` (its low 33
    bits ARE the within-partition record index) — a pure column
    expression, so the data never round-trips through a Python worker
    and the numbering pass adds no shuffle (the offset join is a
    broadcast of |partitions| rows).  If ``order_by`` is given the frame
    is range-repartitioned on it first so the global order follows that
    column; otherwise existing partition order is kept.  ``pin`` picks
    the materialization-pinning mode (see :func:`pin_materialization`).
    """
    if order_by is not None:
        # pin so the counts job and the output job share one
        # materialization: RangePartitioner boundaries are sampled with
        # an RDD-id-derived seed, so two executions of the same
        # repartitionByRange plan can split rows differently once
        # partitions exceed the reservoir sample — silent mis-numbering.
        df = pin_materialization(
            df.repartitionByRange(order_by).sortWithinPartitions(order_by), pin
        )
    with_pid = df.withColumn("__pid", F.spark_partition_id()).withColumn(
        "__mid", F.monotonically_increasing_id()
    )
    counts = sorted(
        (r["__pid"], r["cnt"])
        for r in with_pid.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
    )
    pids = np.array([p for p, _ in counts], dtype=np.int32)
    sizes = np.array([c for _, c in counts], dtype=np.int64)
    offs = _local_frame(
        df.sparkSession, {"__pid": pids, "__off": np.cumsum(sizes) - sizes}
    )
    local_idx = F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1))
    return (
        with_pid.join(F.broadcast(offs), on="__pid", how="inner")
        .withColumn(ROWID, (F.col("__off") + local_idx).cast("long"))
        .select(ROWID, *df.columns)
    )


# ---------------- nested-value helpers (construction path) ----------------


def _nested_to_tree(val: Any, table_cls: type) -> Dict[str, Any]:
    if isinstance(val, DcaTable):
        if not isinstance(val, table_cls):
            raise TypeError(f"expected {table_cls.__name__}, got {type(val).__name__}")
        return {"__tree": val.to_numpy_fields(), "__cls": table_cls}
    if isinstance(val, dict):
        tree = {}
        for name, spec in table_cls._array_fields().items():
            sub = val[name]
            if isinstance(spec, ArraySpec):
                tree[name] = np.asarray(sub, dtype=spec.np_dtype)
            else:
                tree[name] = _nested_to_tree(sub, spec.table_cls)
        return {"__tree": tree, "__cls": table_cls}
    raise TypeError(f"nested field value must be {table_cls.__name__} or dict, got {type(val)}")


def _tree_batch_shape(node: Dict[str, Any], table_cls: type) -> Tuple[int, ...]:
    tree = node["__tree"]
    shapes = []
    for name, spec in table_cls._array_fields().items():
        arr = tree[name]
        if isinstance(spec, ArraySpec):
            nd = len(spec.inner_shape)
            shapes.append(arr.shape[: arr.ndim - nd] if nd else arr.shape)
        else:
            shapes.append(_tree_batch_shape(arr, spec.table_cls))
    if not shapes:
        return ()
    return tuple(np.broadcast_shapes(*shapes))


# ---------------- Arrow boundary: the one driver<->Spark data path ----------------


def _local_frame(
    spark: SparkSession, columns: Dict[str, Any], schema: Optional[T.StructType] = None
) -> DataFrame:
    """numpy / Arrow columns → a DataFrame planned as a ``LocalRelation``
    (the rows ship inside the plan).  ``createDataFrame`` casts to
    ``schema``'s Arrow types, which does the rest of the dtype mapping
    (f16 → float, unsigned → wider signed, ui64 → decimal(20,0)).  Nested
    containers come out nullable, as ``from_df`` and parquet give them:
    pyspark rebuilds nested arrays with nullable children first, and Arrow
    cannot cast those to non-null struct fields."""
    if schema is not None:
        schema = T.StructType(
            [T.StructField(f.name, _nullable_variant(f.dataType), f.nullable) for f in schema]
        )
    return spark.createDataFrame(pa.table(columns), schema=schema)


def _arrow_columns(cls: type, tree: Dict[str, Any], lead: Tuple[int, ...]) -> Dict[str, pa.Array]:
    """The ``_struct_type`` columns of ``cls`` for a batch of shape ``lead``."""
    specs = cls._array_fields()
    if not specs:
        return {"__dummy": pa.array(np.zeros(_size(lead), np.float32))}
    return {name: _arrow_field(tree[name], spec, lead) for name, spec in specs.items()}


def _arrow_field(node: Any, spec, lead: Tuple[int, ...]) -> pa.Array:
    """One field of a ``lead``-shaped batch as one Arrow array: a leaf is
    one flat buffer (broadcast to ``lead`` first) wrapped in a ListArray
    per inner dim; a nested tree is a StructArray of its children, wrapped
    once per extra inner dim."""
    if isinstance(spec, ArraySpec):
        k = len(spec.inner_shape)
        inner = node.shape[node.ndim - k:] if k else ()
        flat = np.broadcast_to(node, lead + inner).ravel()
        if flat.dtype.kind == "c":  # complex → struct<re, im> (SURVEY §1.4)
            values = pa.StructArray.from_arrays(
                [pa.array(flat.real), pa.array(flat.imag)], names=["re", "im"]
            )
        else:
            values = pa.array(flat)
        return _arrow_lists(values, inner, _size(lead))
    k = len(spec.extra_inner_shape)
    nested = _tree_batch_shape(node, spec.table_cls)
    extra = nested[len(nested) - k:] if k else ()
    cols = _arrow_columns(spec.table_cls, node["__tree"], lead + extra)
    structs = pa.StructArray.from_arrays(list(cols.values()), names=list(cols))
    return _arrow_lists(structs, extra, _size(lead))


def _arrow_lists(values: pa.Array, dims: Sequence[int], n: int) -> pa.Array:
    """Wrap ``n * prod(dims)`` values in one uniform-offset ListArray per
    dim, innermost first."""
    for k in reversed(range(len(dims))):
        offsets = np.arange(n * _size(dims[:k]) + 1, dtype=np.int64) * dims[k]
        values = pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), values)
    return values


def _rowid_order(rowids: np.ndarray, size: int) -> np.ndarray:
    """The permutation that puts collected rows in rowid order.  Sorting
    on the driver costs 8 B per row of a result that is already there,
    and replaces a cluster range sort plus its sampling job.  Raises
    unless the rowids are exactly ``0..size-1``: a frame whose rows do not
    match its shape must not reshape into a silently wrong array."""
    order = np.argsort(rowids, kind="stable")
    if len(rowids) != size or not np.array_equal(rowids[order], np.arange(size)):
        raise ShapeError(
            f"collected {len(rowids)} rows whose rowids are not 0..{size - 1} "
            f"(batch size {size})"
        )
    return order


def _np_field(col: pa.ChunkedArray, spec, order: np.ndarray, shape: Tuple[int, ...]) -> np.ndarray:
    """One collected column → numpy in rowid ``order``: the list levels
    are flattened to one buffer and reshaped to ``shape + inner``.  Every
    list at a level must have the same length (the declared one if
    static), else ShapeError — a ragged column has no numpy form."""
    leaf = isinstance(spec, ArraySpec)
    dims: List[int] = []
    values = col
    for want in spec.inner_shape if leaf else spec.extra_inner_shape:
        lens = pc.list_value_length(values).to_numpy(zero_copy_only=False)
        d = want if want is not None else (int(lens[0]) if len(lens) else 0)
        if (lens != d).any():
            raise ShapeError(f"column {col.type}: inner dim {len(dims)} is ragged or not {d}")
        dims.append(d)
        values = pc.list_flatten(values)
    if not leaf:  # row structs, the cell type to_pandas gives
        flat = values.to_pandas().to_numpy()
    elif np.dtype(spec.np_dtype).kind == "c":
        flat = np.empty(len(values), spec.np_dtype)
        flat.real = pc.struct_field(values, "re").to_numpy()
        flat.imag = pc.struct_field(values, "im").to_numpy()
    else:
        if np.dtype(spec.np_dtype) == np.uint64:  # stored as decimal(20,0)
            values = pc.cast(values, pa.uint64())
        flat = np.asarray(values.to_numpy(), dtype=spec.np_dtype)
    dims_t = tuple(dims)
    return flat.reshape((len(order),) + dims_t)[order].reshape(tuple(shape) + dims_t)


# ---------------- numpy kernels: the executor side of the same boundary ----------------


def np_column(col: Union[pa.Array, pa.ChunkedArray], spec) -> np.ndarray:
    """One Arrow column of B rows → a ``(B, *inner)`` array, through
    ``_np_field``.  A static inner dim in ``spec`` keeps a 0-row column
    at ``(0, dim)``, so kernels need no empty-batch branch."""
    if isinstance(col, pa.Array):
        col = pa.chunked_array([col], type=col.type)
    return _np_field(col, spec, np.arange(len(col)), (len(col),))


def scalar_spec(t: T.DataType) -> ArraySpec:
    """The spec a scalar column of Spark type ``t`` decodes with: the numpy
    dtype of its Arrow type (object for strings and decimals)."""
    return ArraySpec(np.dtype(to_arrow_type(t).to_pandas_dtype()))


def np_columns(
    batch: Union[pa.Table, pa.RecordBatch], specs: Dict[str, Any]
) -> Dict[str, np.ndarray]:
    """Table form of the kernel boundary, decode side: each column named
    in ``specs`` as a ``(B, *inner)`` array.  Serves ``applyInArrow``
    groups and ``mapInArrow`` batches."""
    return {c: np_column(batch.column(c), s) for c, s in specs.items()}


def arrow_table(outs: Dict[str, Any], schema: T.StructType) -> pa.Table:
    """Table form, encode side: the columns of ``schema`` from ``outs``
    (each a ``(B, *inner)`` array, or an Arrow array passed through),
    cast to the Arrow form of ``schema``, as grouped and map UDFs must
    return it."""
    arrow_schema = to_arrow_schema(schema)
    return pa.Table.from_arrays(
        [_arrow_column(outs[f.name]).cast(f.type) for f in arrow_schema], schema=arrow_schema
    )


def np_udf(returns: Union[str, T.DataType], *specs) -> Callable[[Callable], Any]:
    """Scalar form: ``@np_udf(returns, *specs)`` turns ``fn(*arrays)`` into
    an ``F.arrow_udf``.  Each argument is decoded once by ``np_column``
    (a ``None`` spec passes the Arrow array through); the result, an
    array or a dict of arrays for a struct ``returns``, is encoded by
    ``_arrow_field`` and cast to ``returns`` by the Arrow UDF runner."""

    def wrap(fn: Callable) -> Any:
        def kernel(*cols: pa.Array) -> pa.Array:
            args = [c if s is None else np_column(c, s) for c, s in zip(cols, specs)]
            return _arrow_column(fn(*args))

        kernel.__name__ = fn.__name__  # the name plans show
        return F.arrow_udf(kernel, returns)

    return wrap


def _arrow_column(v: Any) -> pa.Array:
    """A ``(B, *inner)`` array, or a dict of them (a struct), as one Arrow
    array through ``_arrow_field``; Arrow arrays pass through."""
    if isinstance(v, pa.Array):
        return v
    if isinstance(v, dict):
        return pa.StructArray.from_arrays([_arrow_column(a) for a in v.values()], names=list(v))
    v = np.asarray(v)
    return _arrow_field(v, ArraySpec(v.dtype, v.shape[1:]), (len(v),))
