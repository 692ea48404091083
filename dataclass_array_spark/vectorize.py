"""``@vectorize_method`` — auto-batching of scalar-written methods.

Reference: `vectorization.py:53-198` — the user writes a method assuming
``self.shape == ()``; the decorator batches it over the whole table.

Spark-first compilation tiers (SURVEY.md §4.3):

- **Tier 1 — Column tracing** (preferred): the method is called once with a
  view of ``self`` whose fields are Catalyst ``Column`` expressions.  If it
  composes (arithmetic, ``F.*``), the whole batched computation is a single
  codegen'd ``select`` — the moral equivalent of the reference's compiled
  ``jax.vmap`` path (`vectorization.py:350-378`) but JVM-side.
- **Tier 2 — the Arrow numpy tier**: one ``mapInArrow`` pass over the
  core kernel boundary, the one the operators' numpy kernels use.  Each
  Arrow batch is decoded ONCE per input column by ``core.table.np_columns``
  (over ``_np_field``, the decoder ``to_numpy_fields`` uses) into
  (B, *inner) numpy arrays; rows that break the declared shape raise its
  ShapeError.  Outputs are encoded once per batch by ``arrow_table``
  (over ``_arrow_field``) and cast to the Arrow form of the output schema.
  - **2a — whole batch**: the scalar method runs ONCE on the (B, *inner)
    arrays via numpy broadcasting — sound only for
    leading-axis-broadcastable programs, so two guards reject the rest:
    output shapes must be (B, *out_shape), and spread sample rows are
    replayed through the scalar path bit-exactly (see ``try_batch``).
  - **2b — per-row loop** (last resort, pinned for the rest of the task
    once a batch is rejected): the scalar method runs on row ``i`` of the
    same decoded arrays (the reference's numpy backend is exactly this
    unrolled loop, `vectorization.py:333-347`).
  Output schema for both is inferred by running the method once on the
  first row (collected with ``toArrow()`` through the same decoder),
  mirroring the reference's tf signature inference
  (`vectorization.py:437-450`), or declared via ``returns=``.

Argument batching (reference `_broadcast_and_flatten_args`,
`vectorization.py:201-232`): a DcaTable argument with the same batch
shape is row-aligned by an equi-join on ``__rowid`` (the positional zip
the reference does in memory); a scalar (shape ``()``) argument is a
broadcast cross join.  Plain Python scalars pass through untouched.
``static_args`` are passed through un-batched (closure capture — the
Spark analog of `vectorization.py:488-503`).
"""

from __future__ import annotations

import dataclasses
import functools
from typing import Any, Callable, Dict, FrozenSet, Optional, Tuple

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # Spark >= 4.0 moved the JVM-backed Column to the classic namespace
    from pyspark.sql.classic.column import Column as _ClassicColumn
except ImportError:  # pyspark 3.x, or a Connect-only (pyspark-client) install
    from pyspark.sql.column import Column as _ClassicColumn

from dataclass_array_spark.core.schema import ArraySpec, ShapeError
from dataclass_array_spark.core.table import (
    DcaTable,
    ROWID,
    _nullable_variant,
    arrow_table,
    np_columns,
)

_RESULT_CLS_CACHE: Dict[Tuple, type] = {}


class VectorizeFallbackWarning(UserWarning):
    """Tier-1 Catalyst tracing failed and the method fell back to the
    tier-2 per-row Arrow loop — a ~10-100× slowdown cliff that would
    otherwise be invisible until production scale."""


def make_table_cls(name: str, fields: Dict[str, ArraySpec]) -> type:
    """Dynamically build a DcaTable subclass for computed outputs."""
    key = (name, tuple(sorted((k, v.np_dtype.name, v.inner_shape) for k, v in fields.items())))
    if key in _RESULT_CLS_CACHE:
        return _RESULT_CLS_CACHE[key]
    cls = type(name, (DcaTable,), {"__annotations__": dict(fields)})
    _RESULT_CLS_CACHE[key] = cls
    return cls


class _NumpyIndexColumn(_ClassicColumn):
    """Raw-trace field Column with numpy-style int indexing: a negative
    index counts from the end via ``element_at`` (1-based, -1 = last).
    Plain ``Column.getItem`` is 0-based and returns NULL for negative
    indices, so numpy-valid code like ``self.dir[-1]`` would otherwise
    trace successfully and silently produce all-NULL results.

    ``rank`` is the remaining inner rank; while it's > 0 the column is
    array-typed, where Spark comparison operators are LEXICOGRAPHIC
    (arrays are orderable in Spark) — numpy-valid code like
    ``self.v > self.w`` would trace successfully with silently wrong,
    non-elementwise semantics.  Comparisons therefore raise at rank > 0
    so the decorator falls through to the symbolic tier, whose
    SymbolicArray compiles the elementwise numpy meaning."""

    _dca_rank = 0  # default for instances created by pyspark internals

    def __new__(cls, jc, rank: int = 0):
        obj = super().__new__(cls)
        obj._dca_rank = rank
        return obj

    def __init__(self, jc, rank: int = 0):
        super().__init__(jc)
        self._dca_rank = rank

    def __getitem__(self, k):
        if isinstance(k, (int, np.integer)) and int(k) < 0:
            out = F.element_at(_ClassicColumn(self._jc), int(k))
        else:
            out = super().__getitem__(k)
        # Re-wrap so chained indexing on rank>=2 fields (self.mat[0][-1])
        # keeps numpy semantics one level down instead of reverting to
        # getItem(-1) -> NULL.
        if isinstance(out, Column) and hasattr(out, "_jc"):
            return _NumpyIndexColumn(out._jc, max(self._dca_rank - 1, 0))
        return out

    def __array__(self, dtype=None, *a, **k):
        # np.asarray(array_field) in raw mode would wrap the Column in a
        # 0-d OBJECT array, where reductions are identity (np.sum of a
        # 0-d array returns its element) — the trace would succeed with
        # silently unreduced results.  Refuse at rank > 0 so the
        # decorator falls through to the symbolic tier.
        if self._dca_rank:
            raise TypeError(
                "np.asarray on an array-typed field doesn't trace in "
                "raw-Column mode; the symbolic tier handles it"
            )
        out = np.empty((), dtype=object)
        out[()] = self
        return out

    def _no_lex_cmp(self, name):
        raise TypeError(
            f"{name} on an array-typed field would be Spark's lexicographic "
            "array ordering, not numpy's elementwise comparison — "
            "raw-Column trace refuses; the symbolic tier handles it"
        )

    def __gt__(self, o):
        return self._no_lex_cmp(">") if self._dca_rank else super().__gt__(o)

    def __ge__(self, o):
        return self._no_lex_cmp(">=") if self._dca_rank else super().__ge__(o)

    def __lt__(self, o):
        return self._no_lex_cmp("<") if self._dca_rank else super().__lt__(o)

    def __le__(self, o):
        return self._no_lex_cmp("<=") if self._dca_rank else super().__le__(o)

    def __eq__(self, o):
        return self._no_lex_cmp("==") if self._dca_rank else super().__eq__(o)

    def __ne__(self, o):
        return self._no_lex_cmp("!=") if self._dca_rank else super().__ne__(o)

    __hash__ = None  # same as the base Column (unhashable)


class _ColumnView:
    """Proxy whose array fields are Column expressions (optionally
    prefix-renamed for joined-in argument tables).  With
    ``symbolic=True`` fields are wrapped in SymbolicArray so numpy-style
    scalar code traces to Catalyst (see symbolic.py)."""

    def __init__(self, table: DcaTable, prefix: str = "", symbolic: bool = False):
        from dataclass_array_spark.symbolic import SymbolicArray, TraceError

        for fname, spec in type(table)._array_fields().items():
            col = F.col(prefix + fname)
            if symbolic and isinstance(spec, ArraySpec):
                try:
                    col = SymbolicArray(col, len(spec.inner_shape))
                except TraceError:
                    # rank>1 field stays a raw Column — but still needs
                    # numpy-style negative indexing, else `self.mat[-1]`
                    # traces fine and yields silent NULLs.
                    if hasattr(col, "_jc"):
                        col = _NumpyIndexColumn(col._jc, len(spec.inner_shape))
            elif (
                not symbolic
                and isinstance(spec, ArraySpec)
                and spec.inner_shape
            ):
                if hasattr(col, "_jc"):
                    col = _NumpyIndexColumn(col._jc, len(spec.inner_shape))
                else:  # Spark Connect Column: no JVM handle to wrap
                    import warnings

                    warnings.warn(
                        f"field {fname!r}: negative-index translation is "
                        "unavailable under Spark Connect; numpy-style "
                        "negative indices would return NULL",
                        VectorizeFallbackWarning,
                        stacklevel=2,
                    )
            object.__setattr__(self, fname, col)
        for k, v in table._statics.items():
            object.__setattr__(self, k, v)


class _ScalarView:
    """Per-row proxy for the tier-2 path: numpy values."""

    def __init__(self, fields: Dict[str, Any], statics: Dict[str, Any]):
        for k, v in fields.items():
            object.__setattr__(self, k, v)
        for k, v in statics.items():
            object.__setattr__(self, k, v)


def _normalize_out(out: Any) -> Dict[str, Any]:
    if isinstance(out, dict):
        return out
    return {"value": out}


@dataclasses.dataclass(frozen=True)
class _TableArg:
    """A DcaTable argument bound into the work frame: its columns carry
    ``prefix``, and the call gets the view registered under it."""

    prefix: str


def _leaf_specs(table: DcaTable) -> Dict[str, ArraySpec]:
    return {n: s for n, s in type(table)._array_fields().items() if isinstance(s, ArraySpec)}


def _out_spec(v: Any) -> ArraySpec:
    """The spec of one probe output.  A string's dtype name carries its
    width (``'<U2'`` is ``str32``), so it maps to the width-free ``U``."""
    a = np.asarray(v)
    return ArraySpec(np.dtype("U") if a.dtype.kind == "U" else a.dtype, a.shape)


def _same(a: Any, b: Any) -> bool:
    """Bit-exact equality, NaNs equal."""
    a, b = np.asarray(a), np.asarray(b)
    if a.shape != b.shape:
        return False
    if a.dtype.kind in "fc" or b.dtype.kind in "fc":
        return bool(np.array_equal(a, b, equal_nan=True))
    return bool(np.array_equal(a, b))


def vectorize_method(
    fn: Optional[Callable] = None,
    *,
    static_args: FrozenSet[str] = frozenset(),
    returns: Optional[Dict[str, ArraySpec]] = None,
    strict: bool = False,
):
    """Decorator; see module docstring.  ``returns`` optionally declares
    the output field specs (skips the inference probe).  ``strict=True``
    raises instead of silently degrading to the tier-2 per-row loop when
    Catalyst tracing fails; the default emits a
    :class:`VectorizeFallbackWarning` naming the failure."""

    def decorate(method: Callable) -> Callable:
        @functools.wraps(method)
        def wrapper(self: DcaTable, *args, **kwargs):
            statics = {k: kwargs.pop(k) for k in list(kwargs) if k in static_args}

            # ---- bind DcaTable arguments: rowid zip-join / broadcast ----
            work_df = self.df
            tables: Dict[str, DcaTable] = {"": self}  # view prefix -> table

            def bind(table: Any, key: str) -> Any:
                if not isinstance(table, DcaTable):
                    return table  # plain values pass through untouched
                nonlocal work_df
                prefix = f"__arg_{key}__"
                renamed = [F.col(n).alias(prefix + n) for n in _leaf_specs(table)]
                if table.shape == self.shape:
                    work_df = work_df.join(
                        table.df.select(F.col(ROWID), *renamed), on=ROWID
                    )
                elif table.shape == ():
                    work_df = work_df.crossJoin(
                        F.broadcast(table.df.select(*renamed))
                    )
                elif len(table.shape) == len(self.shape) and all(
                    a == b or a == 1 for a, b in zip(table.shape, self.shape)
                ):
                    # per-dim broadcast (reference `_update_batch_shape`,
                    # vectorization.py:246-282): dims of size 1 repeat —
                    # the broadcast view's forward map turns self's rowid
                    # into the arg's base rowid, the equi-join key
                    if table._outer is not None or len(table._pieces) != 1:
                        table = table._rebased()  # the forward map needs one piece
                    view = table.broadcast_to(self.shape)
                    keycol = f"{prefix}rid"
                    adf = view._base.select(F.col(ROWID).alias(keycol), *renamed)
                    work_df = work_df.withColumn(keycol, view._source_rowid(F.col(ROWID))).join(
                        F.broadcast(adf) if view._base_size < 1_000_000 else adf,
                        on=keycol,
                    ).drop(keycol)
                else:
                    raise ShapeError(
                        f"vectorized arg shape {table.shape} incompatible with "
                        f"self shape {self.shape} (per-dim broadcast requires "
                        f"equal rank with dims equal or 1, or scalar ())"
                    )
                tables[prefix] = table
                return _TableArg(prefix)

            # the one argument list both tiers call with: a bound table is
            # a _TableArg, so closures shipped to executors capture no
            # DcaTable (→ SparkContext) reference (SPARK-5063)
            call_args = [bind(a, f"p{i}") for i, a in enumerate(args)]
            call_kwargs = {k: bind(a, f"k{k}") for k, a in kwargs.items()}

            def call(views: Dict[str, Any]) -> Dict[str, Any]:
                """Run the method on ``views[""]`` with each table argument
                replaced by its view.  Static args pass through un-batched,
                as call kwargs (reference `_map_non_static`,
                vectorization.py:488-503)."""

                def arg(a):
                    return views[a.prefix] if isinstance(a, _TableArg) else a

                out = method(
                    views[""],
                    *map(arg, call_args),
                    **{k: arg(a) for k, a in call_kwargs.items()},
                    **statics,
                )
                return _normalize_out(out)

            # ---- Tier 1: Column tracing ----
            # two attempts: SymbolicArray wrapping first (methods
            # written in numpy style — np.dot/np.sum/arithmetic trace
            # to Catalyst with NUMPY semantics, incl. the IEEE NaN
            # guards), then raw Columns (methods written against F.*,
            # which by definition want Spark SQL semantics).  Symbolic
            # goes first because operator-only bodies (`self.x > 0`)
            # are valid in BOTH modes yet mean numpy: under raw
            # Columns a NaN would order largest (Spark) instead of
            # comparing false (numpy) — a silent wrong boolean.
            from dataclass_array_spark.symbolic import SymbolicArray, trace_context

            trace_failures: list[tuple[str, BaseException]] = []
            for symbolic in (True, False):
                mode = "symbolic-numpy" if symbolic else "raw-Column"
                try:
                    col_views = {
                        p: _ColumnView(t, p, symbolic=symbolic) for p, t in tables.items()
                    }
                    if symbolic:
                        # np.asarray(field) passes through during the
                        # trace call only (see symbolic.trace_context)
                        with trace_context():
                            out = call(col_views)
                    else:
                        out = call(col_views)
                    out_d = {
                        k: (v.col if isinstance(v, SymbolicArray) else v)
                        for k, v in out.items()
                    }
                    if not all(isinstance(v, Column) for v in out_d.values()):
                        bad = {
                            k: type(v).__name__
                            for k, v in out_d.items()
                            if not isinstance(v, Column)
                        }
                        raise TypeError(f"traced outputs are not Columns: {bad}")
                    # the select analyzes the expressions eagerly — a
                    # raw-Column trace that built an invalid Column
                    # (e.g. numpy-style tuple indexing → unexecutable
                    # ArrayList literal) throws HERE, inside the try,
                    # and falls through to symbolic tracing
                    sel = [F.col(ROWID)] + [v.alias(k) for k, v in out_d.items()]
                    res_df = work_df.select(*sel)
                    specs = returns or {
                        k: _spec_from_spark_type(res_df.schema[k].dataType) for k in out_d
                    }
                    final_df = res_df.select(
                        ROWID,
                        *[
                            F.col(k).cast(_nullable_variant(specs[k].spark_type)).alias(k)
                            for k in out_d
                        ],
                    )
                except Exception as exc:
                    trace_failures.append((mode, exc))
                    continue  # try next tracing mode, then tier 2
                cls = make_table_cls(f"{type(self).__name__}_{method.__name__}_out", specs)
                return cls._wrap(final_df, self.shape, {}, self.spark)

            # ---- Tier 2: Arrow batch + per-row scalar loop ----
            import warnings

            detail = "; ".join(
                f"[{mode}] {type(e).__name__}: {e}" for mode, e in trace_failures
            )
            msg = (
                f"{type(self).__name__}.{method.__name__}: Catalyst tracing "
                f"failed, falling back to the Arrow numpy tier (whole-batch "
                f"numpy broadcasting when the method allows it, else the "
                f"per-row loop, ~10-100x slower). Causes: {detail}"
            )
            if strict:
                from dataclass_array_spark.symbolic import TraceError

                raise TraceError(msg) from (
                    trace_failures[-1][1] if trace_failures else None
                )
            warnings.warn(msg, VectorizeFallbackWarning, stacklevel=2)

            # worker-safe view layout: prefix -> (leaf field names,
            # statics); a view's input columns are prefix + field name
            layout = {p: (list(_leaf_specs(t)), dict(t._statics)) for p, t in tables.items()}
            in_specs = {
                p + n: s for p, t in tables.items() for n, s in _leaf_specs(t).items()
            }
            in_df = work_df.select(ROWID, *in_specs)

            def decode(batch) -> Dict[str, np.ndarray]:
                """Every input column of one batch as a (B, *inner) array,
                through the core kernel boundary: rows that break the
                declared shape raise ShapeError.  The arrays are
                read-only, so a method that writes into its inputs fails
                the whole-batch call instead of corrupting the rows the
                per-row loop reads."""
                cols = np_columns(batch, in_specs)
                for a in cols.values():
                    a.flags.writeable = False
                return cols

            def views(cols: Dict[str, np.ndarray]) -> Dict[str, _ScalarView]:
                return {
                    p: _ScalarView({n: cols[p + n] for n in names}, st)
                    for p, (names, st) in layout.items()
                }

            def row(cols: Dict[str, np.ndarray], i: int) -> Dict[str, _ScalarView]:
                """Views over row ``i`` of a decoded batch, as writable
                copies (0-d arrays for scalar fields)."""
                return views({c: a[i, ...].copy() for c, a in cols.items()})

            if returns is not None:
                out_specs = returns
            else:
                probe = in_df.orderBy(ROWID).limit(1).toArrow()
                if not probe.num_rows:
                    raise ValueError("cannot infer vectorized output schema from empty table")
                out_specs = {k: _out_spec(v) for k, v in call(row(decode(probe), 0)).items()}

            out_schema = T.StructType(
                [T.StructField(ROWID, T.LongType(), False)]
                + [T.StructField(k, s.spark_type, True) for k, s in out_specs.items()]
            )
            def try_batch(cols, rowids):
                """Tier 2a: run the scalar-written method ONCE on the
                whole (B, *inner) batch.  Sound only for methods whose
                numpy program broadcasts over a leading axis, so two
                guards reject everything else: (1) every output must
                come back shaped (B, *out_shape) — reductions/indexing
                over what is now the batch axis change the shape;
                (2) sample rows SPREAD ACROSS the batch (first, second,
                ~1/3, middle, ~2/3, last, plus one rowid-derived
                deterministic pick) are re-run through the scalar path
                and compared bit-exactly — catches cross-row mixing
                that happens to keep the shape (e.g. cumsum, or axis-0
                indexing when B equals an inner dim).  Spreading
                matters: a first-rows-only sample missed mixing whose
                effect starts past the sampled prefix (e.g. a roll or
                sort whose first rows coincide).  Residual risk: a
                guard is a sample, not a proof — mixing confined to
                exactly the unsampled rows of EVERY batch passes; the
                shape guard plus seven spread probes per batch make
                that an adversarial construction rather than a
                plausible numpy program.
                Any exception (float(), bool(), shape errors in dot/
                matmul…) or guard failure returns None and the caller
                pins the per-row loop for the rest of the task."""
                try:
                    r = call(views(cols))
                    B = len(rowids)
                    outs = {}
                    for k, spec in out_specs.items():
                        v = np.asarray(r[k])
                        want = (B,) + tuple(spec.inner_shape)
                        if len(v.shape) != len(want) or any(
                            w is not None and g != w
                            for g, w in zip(v.shape, want)
                        ):
                            return None
                        outs[k] = v
                    # deterministic (resume-safe) pseudo-random pick,
                    # varied per batch by the first rowid
                    jitter = (rowids[0].as_py() * 2654435761) % B
                    sample = sorted(
                        i
                        for i in {0, 1, B // 3, B // 2, (2 * B) // 3, B - 1, jitter}
                        if 0 <= i < B
                    )
                    for i in sample:
                        ri = call(row(cols, i))
                        for k in out_specs:
                            if not _same(ri[k], outs[k][i]):
                                return None
                    return outs
                except Exception:
                    return None

            def run(batches):
                batch_ok = True
                for batch in batches:
                    if not batch.num_rows:
                        continue
                    cols = decode(batch)
                    rowids = batch.column(ROWID)
                    outs = try_batch(cols, rowids) if batch_ok else None
                    if outs is None:
                        batch_ok = False  # don't re-probe per batch
                        rows = [call(row(cols, i)) for i in range(batch.num_rows)]
                        outs = {k: np.stack([np.asarray(r[k]) for r in rows]) for k in out_specs}
                    yield from arrow_table({ROWID: rowids, **outs}, out_schema).to_batches()

            res_df = in_df.mapInArrow(run, schema=out_schema)
            cls = make_table_cls(f"{type(self).__name__}_{method.__name__}_out", out_specs)
            return cls._wrap(res_df, self.shape, {}, self.spark)

        return wrapper

    return decorate(fn) if fn is not None else decorate


def _spec_from_spark_type(t: T.DataType) -> ArraySpec:
    inner: Tuple[Optional[int], ...] = ()
    while isinstance(t, T.ArrayType):
        inner = inner + (None,)
        t = t.elementType
    np_dtype = {
        "float": np.float32,
        "double": np.float64,
        "tinyint": np.int8,
        "smallint": np.int16,
        "int": np.int32,
        "bigint": np.int64,
        "boolean": np.bool_,
        "string": np.str_,
    }.get(t.simpleString(), np.float64)
    return ArraySpec(np.dtype(np_dtype) if np_dtype is not np.str_ else np.dtype("U"), inner)
