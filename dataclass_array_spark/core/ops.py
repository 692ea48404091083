"""Module-level combination ops — the reference's ``ops.py`` re-expressed
on views (reference `ops.py:90-121`).

``concat`` joins the inputs' C-orders along axis 0 and ``stack`` along a
new leading dim; another axis is a transposed view of that.  Inputs over
one base frame become the pieces of one view of it (see
``core/table.py``), so the result scans that base once.  Inputs over
different bases are UNION ALL-ed with rowid offsets, which is narrow (no
shuffle): Spark's union just concatenates partition lists.
"""

from __future__ import annotations

from typing import Sequence, Tuple

from pyspark.sql import functions as F

from dataclass_array_spark.core.table import DcaTable, ROWID, _size


def _check_homogeneous(items: Sequence[DcaTable]) -> None:
    if not items:
        raise ValueError("empty sequence")
    cls = type(items[0])
    for it in items[1:]:
        if type(it) is not cls:
            # same type-homogeneity rule as reference `ops.py:63-71`
            raise TypeError(
                f"cannot combine {cls.__name__} with {type(it).__name__}"
            )
    from dataclass_array_spark.core.table import assert_same_session

    assert_same_session(*items)  # reference assert_same_xnp analog


def _joined(items: Sequence[DcaTable], shape: Tuple[int, ...]) -> DcaTable:
    """The items' C-orders one after another, as a ``shape`` batch with
    the first item's statics (reference `ops.py:79-83`): the pieces of
    one view when the items' ``_flat`` forms share a base and have no
    index table, else UNION ALL of their frames."""
    flats = [it._flat() for it in items]
    if all(f._base is flats[0]._base and f._outer is None for f in flats):
        pieces = [p for f in flats for p in f._pieces if _size(p[1])]
        return flats[0]._mapped(pieces, None, shape)
    df, offset = items[0].df, items[0].size
    for it in items[1:]:
        df = df.unionByName(it.df.withColumn(ROWID, (F.col(ROWID) + offset).cast("long")))
        offset += it.size
    return type(items[0])._wrap(df, shape, items[0]._statics, items[0].spark)


def stack(items: Sequence[DcaTable], axis: int = 0) -> DcaTable:
    """Stack along a NEW batch dim (reference `ops.py:90-106`): the axis-0
    stack joins the items in order, and another axis is a transposed
    view of it."""
    items = list(items)
    _check_homogeneous(items)
    base = items[0]
    ndim = base.ndim + 1
    axis = axis if axis >= 0 else axis + ndim
    if not (0 <= axis < ndim):
        raise ValueError(f"stack axis {axis} out of range for ndim {ndim}")
    for it in items[1:]:
        if it.shape != base.shape:
            raise ValueError(f"stack: shapes differ {it.shape} != {base.shape}")
    out = _joined(items, (len(items),) + base.shape)
    if axis != 0:
        # move new dim 0 → axis: an einops transpose view
        names = [f"d{i}" for i in range(ndim)]
        src = " ".join(names)
        order = names[1 : axis + 1] + [names[0]] + names[axis + 1 :]
        out = out.reshape(f"{src} -> {' '.join(order)}")
    return out


def concat(items: Sequence[DcaTable], axis: int = 0) -> DcaTable:
    """Concatenate along an EXISTING batch dim (reference `ops.py:109-121`):
    the axis-0 concat joins the items in order; another axis concatenates
    transposed views on axis 0 and returns the transposed-back view of
    the result."""
    items = list(items)
    _check_homogeneous(items)
    base = items[0]
    ndim = base.ndim
    if ndim == 0:
        raise ValueError("cannot concat zero-dim (scalar) batches; use stack")
    axis = axis if axis >= 0 else axis + ndim
    if not (0 <= axis < ndim):
        raise ValueError(f"concat axis {axis} out of range")
    if axis != 0:
        names = [f"d{i}" for i in range(ndim)]
        perm = [names[axis]] + names[:axis] + names[axis + 1 :]
        fwd = f"{' '.join(names)} -> {' '.join(perm)}"
        back = f"{' '.join(perm)} -> {' '.join(names)}"
        return concat([it.reshape(fwd) for it in items], axis=0).reshape(back)
    rest = base.shape[1:]
    for it in items[1:]:
        if it.shape[1:] != rest:
            raise ValueError(f"concat: trailing shapes differ {it.shape[1:]} != {rest}")
    return _joined(items, (sum(it.shape[0] for it in items),) + rest)
