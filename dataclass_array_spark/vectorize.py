"""``@vectorize_method`` — auto-batching of scalar-written methods.

Reference: `vectorization.py:53-198` — the user writes a method assuming
``self.shape == ()``; the decorator batches it over the whole table.

Spark-first compilation tiers (SURVEY.md §4.3):

- **Tier 1 — Column tracing** (preferred): the method is called once with a
  view of ``self`` whose fields are Catalyst ``Column`` expressions.  If it
  composes (arithmetic, ``F.*``), the whole batched computation is a single
  codegen'd ``select`` — the moral equivalent of the reference's compiled
  ``jax.vmap`` path (`vectorization.py:350-378`) but JVM-side.
- **Tier 2a — Arrow numpy-batch** (round 9): ``mapInPandas``; each Arrow
  batch is decoded to (B, *inner) numpy arrays and the scalar method runs
  ONCE on the whole batch via numpy broadcasting — sound only for
  leading-axis-broadcastable programs, so two guards reject the rest:
  output shapes must be (B, *out_shape), and the first rows are replayed
  through the scalar path bit-exactly (see ``try_batch``).
- **Tier 2b — Arrow per-row loop** (last resort): same ``mapInPandas``,
  the scalar method runs per row (the reference's numpy backend is
  exactly this unrolled loop, `vectorization.py:333-347`).
  Output schema for both 2a/2b is inferred by running the method once on
  the first row, mirroring the reference's tf signature inference
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
from dataclass_array_spark.core.table import DcaTable, ROWID, _nullable_variant

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
            bound: list[tuple[str, DcaTable]] = []  # (prefix, table) per arg

            def bind(table: DcaTable, key: str) -> str:
                nonlocal work_df
                prefix = f"__arg_{key}__"
                fields = [
                    n for n, s in type(table)._array_fields().items()
                    if isinstance(s, ArraySpec)
                ]
                renamed = [F.col(n).alias(prefix + n) for n in fields]
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
                    # map self's rowid to the arg's rowid by zeroing the
                    # broadcast dims, then equi-join on that key
                    from dataclass_array_spark.core.table import _idiv, _strides

                    s_str = _strides(self.shape)
                    a_str = _strides(table.shape)
                    rid = F.col(ROWID)
                    expr = F.lit(0).cast("long")
                    for i, (sd, ad) in enumerate(zip(self.shape, table.shape)):
                        if ad > 1:
                            idx = _idiv(rid, s_str[i]) % sd
                            expr = expr + idx * a_str[i]
                    keycol = f"{prefix}rid"
                    adf = table.df.select(F.col(ROWID).alias(keycol), *renamed)
                    work_df = work_df.withColumn(keycol, expr).join(
                        F.broadcast(adf) if table.size < 1_000_000 else adf,
                        on=keycol,
                    ).drop(keycol)
                else:
                    raise ShapeError(
                        f"vectorized arg shape {table.shape} incompatible with "
                        f"self shape {self.shape} (per-dim broadcast requires "
                        f"equal rank with dims equal or 1, or scalar ())"
                    )
                return prefix

            new_args = []
            for i, a in enumerate(args):
                if isinstance(a, DcaTable):
                    prefix = bind(a, f"p{i}")
                    bound.append((prefix, a))
                    new_args.append(("__table__", prefix, a))
                else:
                    new_args.append(("__plain__", a))
            new_kwargs = {}
            for k, a in kwargs.items():
                if isinstance(a, DcaTable):
                    prefix = bind(a, f"k{k}")
                    bound.append((prefix, a))
                    new_kwargs[k] = ("__table__", prefix, a)
                else:
                    new_kwargs[k] = ("__plain__", a)

            def materialize(make_view):
                """Rebuild (args, kwargs) with views for table args."""
                m_args = [
                    make_view(t[1], t[2]) if t[0] == "__table__" else t[1]
                    for t in new_args
                ]
                m_kwargs = {
                    k: make_view(t[1], t[2]) if t[0] == "__table__" else t[1]
                    for k, t in new_kwargs.items()
                }
                return m_args, m_kwargs

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
                    view = _ColumnView(self, symbolic=symbolic)
                    m_args, m_kwargs = materialize(
                        lambda prefix, tbl: _ColumnView(tbl, prefix, symbolic=symbolic)
                    )
                    if symbolic:
                        # np.asarray(field) passes through during the
                        # trace call only (see symbolic.trace_context)
                        with trace_context():
                            out = method(view, *m_args, **{**m_kwargs, **statics})
                    else:
                        out = method(view, *m_args, **{**m_kwargs, **statics})
                    out_d = {
                        k: (v.col if isinstance(v, SymbolicArray) else v)
                        for k, v in _normalize_out(out).items()
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
            self_specs = {
                k: v for k, v in type(self)._array_fields().items() if isinstance(v, ArraySpec)
            }
            arg_specs: Dict[str, Tuple[str, ArraySpec]] = {}  # col -> (field, spec)
            for prefix, tbl in bound:
                for n, s in type(tbl)._array_fields().items():
                    if isinstance(s, ArraySpec):
                        arg_specs[prefix + n] = (n, s)
            statics_b = dict(self._statics)
            arg_statics = {prefix: dict(tbl._statics) for prefix, tbl in bound}

            # worker-safe argument templates: prefixes and plain values
            # only — no DcaTable (→ SparkContext) references may be
            # captured by closures shipped to executors (SPARK-5063)
            ship_args = [
                ("__table__", t[1]) if t[0] == "__table__" else t for t in new_args
            ]
            ship_kwargs = {
                k: (("__table__", t[1]) if t[0] == "__table__" else t)
                for k, t in new_kwargs.items()
            }
            prefixes = [prefix for prefix, _ in bound]

            def row_views(getter):
                """self-view + per-table-arg views for one row; getter(col)
                returns the raw cell for a work_df column name."""
                self_fields = {
                    k: _to_np(getter(k), spec) for k, spec in self_specs.items()
                }
                views = {}
                for prefix in prefixes:
                    flds = {
                        f: _to_np(getter(c), s)
                        for c, (f, s) in arg_specs.items()
                        if c.startswith(prefix)
                    }
                    views[prefix] = _ScalarView(flds, arg_statics[prefix])
                return _ScalarView(self_fields, statics_b), views

            def call_method(self_view, views):
                m_args = [
                    views[t[1]] if t[0] == "__table__" else t[1] for t in ship_args
                ]
                m_kwargs = {
                    k: (views[t[1]] if t[0] == "__table__" else t[1])
                    for k, t in ship_kwargs.items()
                }
                # static args pass through un-batched, as call kwargs
                # (reference `_map_non_static`, vectorization.py:488-503)
                return _normalize_out(method(self_view, *m_args, **m_kwargs, **statics))

            in_cols = list(self_specs) + list(arg_specs)
            all_specs = {**self_specs, **{c: s for c, (_, s) in arg_specs.items()}}

            if returns is not None:
                out_specs = returns
            else:
                probe = work_df.orderBy(ROWID).limit(1).toPandas()
                if len(probe) == 0:
                    raise ValueError("cannot infer vectorized output schema from empty table")
                sv, vs = row_views(lambda c: probe[c].iloc[0])
                probe_out = call_method(sv, vs)
                out_specs = {
                    k: ArraySpec(np.asarray(v).dtype, tuple(np.asarray(v).shape))
                    for k, v in probe_out.items()
                }

            out_schema = T.StructType(
                [T.StructField(ROWID, T.LongType(), False)]
                + [T.StructField(k, s.spark_type, True) for k, s in out_specs.items()]
            )

            def batch_views(pdf):
                """(B, *inner) numpy views over a whole Arrow batch —
                the tier-2a input shape (same leading-batch-axis layout
                the reference's numpy backend vmaps over,
                vectorization.py:53-110)."""

                def col_arr(c, spec):
                    if spec.inner_shape:
                        # ragged dynamic dims make this stack raise —
                        # the per-row loop handles those
                        return np.stack([_to_np(v, spec) for v in pdf[c]])
                    return np.asarray(pdf[c].to_numpy(), dtype=spec.np_dtype)

                self_fields = {
                    k: col_arr(k, s) for k, s in self_specs.items()
                }
                views = {}
                for prefix in prefixes:
                    flds = {
                        f: col_arr(c, s)
                        for c, (f, s) in arg_specs.items()
                        if c.startswith(prefix)
                    }
                    views[prefix] = _ScalarView(flds, arg_statics[prefix])
                return _ScalarView(self_fields, statics_b), views

            def _same(a, b):
                a, b = np.asarray(a), np.asarray(b)
                if a.shape != b.shape:
                    return False
                if a.dtype.kind in "fc" or b.dtype.kind in "fc":
                    return bool(np.array_equal(a, b, equal_nan=True))
                return bool(np.array_equal(a, b))

            def try_batch(pdf):
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
                    sv, vs = batch_views(pdf)
                    r = call_method(sv, vs)
                    B = len(pdf)
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
                    jitter = (int(pdf[ROWID].iloc[0]) * 2654435761) % B
                    sample = sorted(
                        i
                        for i in {0, 1, B // 3, B // 2, (2 * B) // 3, B - 1, jitter}
                        if 0 <= i < B
                    )
                    for i in sample:
                        sv_i, vs_i = row_views(lambda c: pdf[c].iloc[i])
                        ri = call_method(sv_i, vs_i)
                        for k in out_specs:
                            if not _same(ri[k], outs[k][i]):
                                return None
                    return outs
                except Exception:
                    import os

                    if os.environ.get("DCA_VECTORIZE_DEBUG"):
                        import traceback

                        traceback.print_exc()
                    return None

            def run(batches):
                import pandas as pd

                state = {"batch_ok": True}
                for pdf in batches:
                    outs = (
                        try_batch(pdf)
                        if state["batch_ok"] and len(pdf)
                        else None
                    )
                    res = pd.DataFrame({ROWID: pdf[ROWID]})
                    if outs is not None:
                        for k, spec in out_specs.items():
                            v = outs[k]
                            res[k] = (
                                [x.tolist() for x in v]
                                if spec.inner_shape
                                else v.tolist()
                            )
                        yield res
                        continue
                    if len(pdf):
                        state["batch_ok"] = False  # don't re-probe per batch
                    out_cols: Dict[str, list] = {k: [] for k in out_specs}
                    for i in range(len(pdf)):
                        sv, vs = row_views(lambda c: pdf[c].iloc[i])
                        r = call_method(sv, vs)
                        for k in out_specs:
                            v = np.asarray(r[k])
                            out_cols[k].append(v.tolist() if v.ndim else v.item())
                    for k in out_specs:
                        res[k] = out_cols[k]
                    yield res

            res_df = work_df.select(ROWID, *in_cols).mapInPandas(run, schema=out_schema)
            cls = make_table_cls(f"{type(self).__name__}_{method.__name__}_out", out_specs)
            return cls._wrap(res_df, self.shape, {}, self.spark)

        return wrapper

    return decorate(fn) if fn is not None else decorate


def _to_np(v: Any, spec: ArraySpec) -> np.ndarray:
    """One cell → ndarray.  Arrow hands a rank≥2 cell back as an object
    array of row arrays, which ``np.asarray(v, dtype)`` cannot convert:
    stack its rows instead."""
    if isinstance(v, np.ndarray) and v.dtype == object and v.size:
        return np.stack([_to_np(x, spec) for x in v])
    return np.asarray(v, dtype=spec.np_dtype)


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
