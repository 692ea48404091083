"""Module-level combination ops — the reference's ``ops.py`` re-expressed
as unions (reference `ops.py:90-121`).

``concat`` is UNION ALL of the inputs' frames with rowid offsetting;
``stack`` adds a new batch dim.  Both are narrow (no shuffle): Spark's
union just concatenates partition lists.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import functions as F

from dataclass_array_spark.core.table import DcaTable, ROWID


def _check_homogeneous(items: Sequence[DcaTable]) -> type:
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
    return cls


def stack(items: Sequence[DcaTable], axis: int = 0) -> DcaTable:
    """Stack along a NEW batch dim (reference `ops.py:90-106`).

    The inputs' frames are UNION ALL-ed with rowids offset by position, so
    the axis-0 stack is dense C-order; another axis is a transposed view
    of that (no shuffle).  Static fields are taken from the first element
    (reference `ops.py:79-83`).
    """
    items = list(items)
    cls = _check_homogeneous(items)
    base = items[0]
    ndim = base.ndim + 1
    axis = axis if axis >= 0 else axis + ndim
    if not (0 <= axis < ndim):
        raise ValueError(f"stack axis {axis} out of range for ndim {ndim}")
    for it in items[1:]:
        if it.shape != base.shape:
            raise ValueError(f"stack: shapes differ {it.shape} != {base.shape}")
    sz = base.size
    df = base.df
    for i, it in enumerate(items[1:], 1):
        df = df.unionByName(it.df.withColumn(ROWID, (F.col(ROWID) + i * sz).cast("long")))
    out = cls._wrap(df, (len(items),) + base.shape, base._statics, base.spark)
    if axis != 0:
        # move new dim 0 → axis: an einops transpose view
        names = [f"d{i}" for i in range(ndim)]
        src = " ".join(names)
        order = names[1 : axis + 1] + [names[0]] + names[axis + 1 :]
        out = out.reshape(f"{src} -> {' '.join(order)}")
    return out


def concat(items: Sequence[DcaTable], axis: int = 0) -> DcaTable:
    """Concatenate along an EXISTING batch dim (reference `ops.py:109-121`)
    — UNION ALL of the inputs' frames with cumulative rowid offsets (axis
    0); another axis concatenates transposed views on axis 0 and returns
    the transposed-back view of the result."""
    items = list(items)
    cls = _check_homogeneous(items)
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
    df, offset = base.df, base.size
    for it in items[1:]:
        df = df.unionByName(it.df.withColumn(ROWID, (F.col(ROWID) + offset).cast("long")))
        offset += it.size
    total0 = sum(it.shape[0] for it in items)
    return cls._wrap(df, (total0,) + rest, base._statics, base.spark)
