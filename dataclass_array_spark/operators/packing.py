"""Sequence packing: place a token stream into fixed-size context
windows (the GPT-style "concatenate everything, chop every B tokens"
layout used to build LLM training batches).

The primitive is a GLOBAL running sum of per-document token counts in a
deterministic document order.  A naive window
``sum() OVER (ORDER BY k)`` collapses to a single partition — unusable
past one executor — so :func:`global_cumsum` does the classic two-phase
scan instead:

1. range-repartition + sort by the order key (one shuffle — the same
   one any global ordering needs),
2. per-partition partial sums (tiny |partitions|-row collect),
3. broadcast the prefix offsets and window only WITHIN partitions.

The within-partition window does re-cluster by partition id (Catalyst
can't see that ``spark_partition_id()`` is already the physical
clustering), but that exchange moves each row once and every partition
stays bounded — there is never a single-reducer stage.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataclass_array_spark.core.schema import ArraySpec
from dataclass_array_spark.core.table import (
    arrow_table,
    np_columns,
    pin_materialization,
    scalar_spec,
)


def global_cumsum(
    df: DataFrame,
    order_col: str,
    value_col: "str | list[str]",
    out_col: "str | list[str]" = "cum",
    pin: str = "local",
) -> DataFrame:
    """Running sum of ``value_col`` over the global ``order_col`` order
    (inclusive of the current row), without a single-partition sort.
    ``value_col``/``out_col`` may be LISTS of equal length to compute
    several running sums in ONE range-partition + pin + offsets pass
    (round-14 review: pr_curve_exact previously paid the shuffle
    twice).

    The repartitioned+sorted frame is checkpoint-pinned before the
    per-partition sums are collected: RangePartitioner samples its
    boundaries with an RDD-id-derived seed, so re-executing the plan for
    the output job could otherwise land rows in DIFFERENT partitions
    than the offsets job saw once partitions exceed the reservoir sample
    size — silent mis-offsets at scale.  The pin guarantees one
    materialization that both jobs share; ``pin="local"`` (fast,
    executor-memory) vs ``"reliable"`` (checkpoint dir, survives
    executor loss) — see :func:`~dataclass_array_spark.core.table
    .pin_materialization` for the failure-domain tradeoff."""
    value_cols = [value_col] if isinstance(value_col, str) else list(value_col)
    out_cols = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(value_cols) != len(out_cols):
        raise ValueError(
            "global_cumsum: value_col and out_col lengths differ"
        )

    df = pin_materialization(
        df.repartitionByRange(order_col).sortWithinPartitions(order_col), pin
    )
    with_pid = df.withColumn("__pid", F.spark_partition_id())
    parts = (
        with_pid.groupBy("__pid")
        .agg(*[F.sum(F.col(v)).alias(f"s{i}") for i, v in enumerate(value_cols)])
        .collect()
    )
    sums = {r["__pid"]: [r[f"s{i}"] for i in range(len(value_cols))] for r in parts}
    offsets = {}
    acc = [0] * len(value_cols)
    for pid in sorted(sums):
        offsets[pid] = list(acc)
        for i, s in enumerate(sums[pid]):
            acc[i] += s
    integral = {"tinyint", "smallint", "int", "bigint"}
    vtypes = dict(df.dtypes)
    if all(vtypes.get(v) in integral for v in value_cols):
        # Narrow Arrow pass (round-15): the rows are ALREADY range-
        # partitioned and sorted by the order key, so the within-
        # partition running sum needs no window at all — the old
        # ``sum() OVER (PARTITION BY __pid)`` forced a full exchange of
        # every row by __pid (Catalyst cannot see that __pid IS the
        # physical partitioning) plus a re-sort and a broadcast join
        # for the offsets.  mapInArrow computes the exact int64 running
        # sum per partition in partition order and seeds it from the
        # collected offsets via the closure: zero additional shuffles.
        # Integer-only (the callers cumulate counts/token sizes); any
        # non-integral value column falls back to the window path.
        return _arrow_cumsum(with_pid, offsets, value_cols, out_cols)
    spark = df.sparkSession
    off_schema = "__pid int, " + ", ".join(
        f"__off{i} long" for i in range(len(value_cols))
    )
    offs = spark.createDataFrame(
        [(int(p), *[int(o) for o in os_]) for p, os_ in offsets.items()]
        or [(0, *([0] * len(value_cols)))],
        off_schema,
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = with_pid.join(F.broadcast(offs), on="__pid")
    for i, (v, o) in enumerate(zip(value_cols, out_cols)):
        out = out.withColumn(
            o, (F.sum(F.col(v)).over(w) + F.col(f"__off{i}")).cast("long")
        )
    return out.drop("__pid", *[f"__off{i}" for i in range(len(value_cols))])


def _arrow_cumsum(with_pid, offsets, value_cols, out_cols):
    """Within-partition int64 running sums + per-partition offsets as a
    NARROW ``mapInArrow`` pass over the pinned, range-partitioned frame
    (see :func:`global_cumsum`).  Bit-exact vs the window form: the
    addends arrive in the identical (sorted) row order, int64 adds are
    associative here (counts — no overflow by construction of the
    callers, matching the window's long sum), and NULL increments are
    rejected loudly (the callers' aggregates never produce them; the
    window would have silently carried the previous sum forward)."""
    out_schema = T.StructType(
        [f for f in with_pid.schema.fields]
        + [T.StructField(o, T.LongType(), True) for o in out_cols]
    )
    offs = {int(p): [int(x) for x in v] for p, v in offsets.items()}
    vcols = list(value_cols)
    ocols = list(out_cols)

    def fn(it):
        run = None
        for batch in it:
            if batch.num_rows == 0:
                # zero-row Arrow batches are legal (empty partition or
                # empty trailing batch) — reading __pid[0] would raise
                yield pa.RecordBatch.from_arrays(
                    [batch.column(j) for j in range(batch.num_columns)]
                    + [pa.array([], type=pa.int64()) for _ in ocols],
                    schema=pa.schema(
                        list(batch.schema)
                        + [pa.field(o, pa.int64()) for o in ocols]
                    ),
                )
                continue
            if run is None:
                pid = batch.column("__pid")[0].as_py()
                run = list(offs.get(pid, [0] * len(vcols)))
            new_arrays = []
            for i, v in enumerate(vcols):
                col = batch.column(v)
                if col.null_count:
                    pid = batch.column("__pid")[0].as_py()
                    raise ValueError(
                        f"global_cumsum: NULL in value column {v!r} "
                        f"(partition {pid}; the callers' aggregates "
                        f"never produce NULL increments — check the "
                        f"input frame)"
                    )
                x = col.to_numpy(zero_copy_only=False).astype(np.int64)
                c = np.cumsum(x) + np.int64(run[i])
                if len(c):
                    run[i] = int(c[-1])
                new_arrays.append(pa.array(c, type=pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [batch.column(j) for j in range(batch.num_columns)]
                + new_arrays,
                schema=pa.schema(
                    list(batch.schema)
                    + [pa.field(o, pa.int64()) for o in ocols]
                ),
            )

    return with_pid.mapInArrow(fn, out_schema).drop("__pid")


# Group-key dtypes the Arrow grouped pass accepts: types whose Python
# values compare exactly like Spark's grouping semantics.  float/double
# group keys are excluded (NaN == NaN in Spark grouping but not in
# Python dict lookup) and fall back to the null-safe join path.
_GROUP_KEY_TYPES = {
    "tinyint", "smallint", "int", "bigint", "string", "boolean", "date",
}


def _arrow_grouped_cumsum(with_pid, offsets, gcols, value_cols, out_cols):
    """Per-group within-partition int64 running sums, seeded from the
    per-(partition, group) offsets — the grouped twin of
    :func:`_arrow_cumsum` (round 16).  The pinned frame is sorted by
    ``(group…, order)`` within each range partition, so every group is
    a CONTIGUOUS run of rows: one Arrow pass detects the run
    boundaries and seeds each run from ``offsets[(pid, *group)]``,
    replacing the old ``sum() OVER (PARTITION BY __pid, group…)``
    window that re-shuffled every row by (pid, group…) plus the
    offsets broadcast join.  Bit-exact vs the window form: identical
    addends in identical (sorted) order, int64 adds, NULL increments
    rejected loudly (the callers' aggregates never produce them)."""
    out_schema = T.StructType(
        [f for f in with_pid.schema.fields]
        + [T.StructField(o, T.LongType(), True) for o in out_cols]
    )
    offs = {k: [int(x) for x in v] for k, v in offsets.items()}
    gc = list(gcols)
    vcols = list(value_cols)
    ocols = list(out_cols)
    nv = len(vcols)

    def fn(it):
        cur = None  # (pid, *group) of the run in progress
        run = None  # its carried totals (list[int], one per value col)
        for batch in it:
            n = batch.num_rows
            if n == 0:
                # zero-row Arrow batches are legal (empty partition or
                # empty trailing batch) — reading __pid[0] would raise
                yield pa.RecordBatch.from_arrays(
                    [batch.column(j) for j in range(batch.num_columns)]
                    + [pa.array([], type=pa.int64()) for _ in ocols],
                    schema=pa.schema(
                        list(batch.schema)
                        + [pa.field(o, pa.int64()) for o in ocols]
                    ),
                )
                continue
            pid = batch.column("__pid")[0].as_py()
            garrs = [batch.column(g) for g in gc]
            # group-change mask between consecutive rows (null-safe:
            # NULL group values form their own group, like SQL GROUP BY)
            change = np.zeros(n, dtype=bool)
            if n > 1:
                for a in garrs:
                    hi, lo = a.slice(1), a.slice(0, n - 1)
                    eq = pc.fill_null(pc.equal(hi, lo), False)
                    both_null = pc.and_(pc.is_null(hi), pc.is_null(lo))
                    same = pc.or_(eq, both_null)
                    change[1:] |= np.logical_not(
                        same.to_numpy(zero_copy_only=False)
                    )
            starts = np.flatnonzero(
                np.concatenate(([True], change[1:]))
            )
            bounds = np.append(starts, n)
            vals = []
            for v in vcols:
                col = batch.column(v)
                if col.null_count:
                    raise ValueError(
                        f"grouped_cumsum: NULL in value column {v!r} "
                        f"(partition {pid}; the callers' aggregates "
                        f"never produce NULL increments — check the "
                        f"input frame)"
                    )
                vals.append(col.to_numpy(zero_copy_only=False).astype(np.int64))
            outs = [np.empty(n, dtype=np.int64) for _ in range(nv)]
            for si in range(len(starts)):
                i0, i1 = int(bounds[si]), int(bounds[si + 1])
                key = (pid, *[a[i0].as_py() for a in garrs])
                if key != cur:
                    cur = key
                    run = list(offs.get(key, [0] * nv))
                for i in range(nv):
                    c = np.cumsum(vals[i][i0:i1]) + np.int64(run[i])
                    outs[i][i0:i1] = c
                    run[i] = int(c[-1])
            yield pa.RecordBatch.from_arrays(
                [batch.column(j) for j in range(batch.num_columns)]
                + [pa.array(o, type=pa.int64()) for o in outs],
                schema=pa.schema(
                    list(batch.schema)
                    + [pa.field(o, pa.int64()) for o in ocols]
                ),
            )

    return with_pid.mapInArrow(fn, out_schema).drop("__pid")


def grouped_cumsum(
    df: DataFrame,
    group_cols: "list[str]",
    order_col: str,
    value_col: "str | list[str]",
    out_col: "str | list[str]" = "cum",
    pin: str = "local",
) -> DataFrame:
    """Per-GROUP running sum of ``value_col`` over ``order_col`` order
    within each group (inclusive of the current row) — the fairness-
    table variant of :func:`global_cumsum` (round-15: grouped AUC
    partitions its running negative count by evaluation slice).
    ``value_col``/``out_col`` may be LISTS of equal length to compute
    several per-group running sums in ONE range-partition + pin +
    offsets pass (the :func:`global_cumsum` round-14 convention —
    grouped KS cumulates both class counts and must not pay the
    shuffle twice).

    Same two-phase shape, so no group ever needs a single-task sort of
    its full extent: range-partition by ``(group…, order)`` (one
    shuffle; a big group spans MANY contiguous partitions), per-
    ``(partition, group)`` partial sums, then per-group prefix offsets
    across partitions via a window over that partial-sum frame — the
    frame is ``|partitions × groups|`` rows (groups are slice
    dimensions like language or source, never corpus-scale ids), so
    the one single-task-per-group window here is over ≤ |partitions|
    rows, not data rows.  Offsets broadcast-join back null-safely
    (NULL group values form their own group on both the aggregation
    and the join, matching SQL GROUP BY).

    The range-partitioned frame is checkpoint-pinned for the same
    reason as :func:`global_cumsum`: the offsets job and the output
    job must see ONE partitioning, not two independently-sampled
    RangePartitioner runs."""
    from dataclass_array_spark.core.table import collect_bounded  # looked up per call: patchable

    if isinstance(group_cols, str):  # 'g' would explode per-char
        group_cols = [group_cols]
    gcols = list(group_cols)
    value_cols = [value_col] if isinstance(value_col, str) else list(value_col)
    out_cols = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(value_cols) != len(out_cols):
        raise ValueError(
            "grouped_cumsum: value_col and out_col lengths differ"
        )
    if not gcols:
        return global_cumsum(
            df, order_col, value_cols, out_col=out_cols, pin=pin
        )
    df = pin_materialization(
        df.repartitionByRange(*gcols, order_col).sortWithinPartitions(
            *gcols, order_col
        ),
        pin,
    )
    with_pid = df.withColumn("__pid", F.spark_partition_id())
    part_sums = with_pid.groupBy("__pid", *gcols).agg(
        *[
            F.sum(F.col(v)).alias(f"__ps{i}")
            for i, v in enumerate(value_cols)
        ]
    )
    # Narrow Arrow pass (round 16, the grouped twin of global_cumsum's
    # round-15 change): when the value columns are integral and the
    # group keys compare exactly in Python (see _GROUP_KEY_TYPES), the
    # per-(partition, group) partial sums — a slice-dimension-bounded
    # table — are collected once and the running sums are computed
    # in-place over the pinned, already-sorted frame.  This deletes the
    # ``PARTITION BY (__pid, group…)`` window's full re-shuffle of
    # every row plus the offsets broadcast join.  Groups are slice
    # dimensions (language, source, …), so the table is normally tiny;
    # offset tables past 2^18 rows and non-conforming dtypes keep the
    # window+join path.
    integral = {"tinyint", "smallint", "int", "bigint"}
    vtypes = dict(df.dtypes)
    if all(vtypes.get(v) in integral for v in value_cols) and all(
        vtypes.get(g) in _GROUP_KEY_TYPES for g in gcols
    ):
        rows = collect_bounded(part_sums, 1 << 18)
        if rows is not None:
            per_group: dict = {}
            for r in rows:
                gkey = tuple(r[c] for c in gcols)
                for i in range(len(value_cols)):
                    if r[f"__ps{i}"] is None:
                        raise ValueError(
                            "grouped_cumsum: NULL partial sum for "
                            f"value column {value_cols[i]!r} (group "
                            f"{gkey!r}) — NULL increments are not "
                            "supported on the Arrow path"
                        )
                per_group.setdefault(gkey, []).append(
                    (r["__pid"], [r[f"__ps{i}"] for i in range(len(value_cols))])
                )
            offsets = {}
            for gkey, lst in per_group.items():
                acc = [0] * len(value_cols)
                for pid, sums in sorted(lst, key=lambda t: t[0]):
                    offsets[(pid, *gkey)] = list(acc)
                    for i, s in enumerate(sums):
                        acc[i] += s
            return _arrow_grouped_cumsum(
                with_pid, offsets, gcols, value_cols, out_cols
            )
    wo = (
        Window.partitionBy(*gcols)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = part_sums.select(
        F.col("__pid").alias("__opid"),
        *[F.col(c).alias(f"__og{i}") for i, c in enumerate(gcols)],
        *[
            F.coalesce(F.sum(f"__ps{i}").over(wo), F.lit(0))
            .cast("long")
            .alias(f"__off{i}")
            for i in range(len(value_cols))
        ],
    )
    cond = F.col("__pid") == F.col("__opid")
    for i, c in enumerate(gcols):
        cond = cond & F.col(c).eqNullSafe(F.col(f"__og{i}"))
    w = (
        Window.partitionBy("__pid", *gcols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = with_pid.join(F.broadcast(offs), cond)
    for i, (v, o) in enumerate(zip(value_cols, out_cols)):
        out = out.withColumn(
            o, (F.sum(F.col(v)).over(w) + F.col(f"__off{i}")).cast("long")
        )
    return out.drop(
        "__pid",
        "__opid",
        *[f"__off{i}" for i in range(len(value_cols))],
        *[f"__og{i}" for i in range(len(gcols))],
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    size_col: str,
    block_size: int,
    order_col: Optional[str] = None,
    pin: str = "local",
) -> DataFrame:
    """Concat-and-chop packing plan: documents in ``order_col`` order
    form one token stream, chopped every ``block_size`` tokens.

    Returns one row per document with its placement:
    ``start_tok`` (global offset of the doc's first token),
    ``start_block`` / ``end_block`` (context windows the doc touches),
    ``start_off`` (offset within the start block), and ``n_blocks``.
    Downstream shard writers group by ``start_block`` to emit batches;
    a doc spanning blocks is the (documented) continuation case.
    """
    order_col = order_col or id_col
    cum = global_cumsum(df, order_col, size_col, out_col="__cum", pin=pin)
    start = (F.col("__cum") - F.col(size_col)).alias("start_tok")
    bs = F.lit(int(block_size))
    return cum.select(
        F.col(id_col),
        F.col(size_col),
        start,
        F.call_function("div", F.col("__cum") - F.col(size_col), bs).alias("start_block"),
        ((F.col("__cum") - F.col(size_col)) % bs).alias("start_off"),
        F.call_function(
            "div",
            F.when(F.col(size_col) > 0, F.col("__cum") - 1).otherwise(
                F.col("__cum") - F.col(size_col)
            ),
            bs,
        ).alias("end_block"),
    ).withColumn("n_blocks", F.col("end_block") - F.col("start_block") + F.lit(1))


# ---- first-fit-decreasing packing (round 14, VERDICT item 4) -------
#
# pack_sequences above is concat-and-chop: every token kept, documents
# SPLIT across window boundaries.  Production context-window packing
# also wants the no-split layout: each document placed whole into some
# B-token bin, waste bounded (first-fit-decreasing is the classic
# 11/9·OPT + 6/9 guarantee).  Global FFD is a sequential fold, so the
# distributed shape is per-BUCKET FFD: documents hash into nbuckets
# independent groups (md5 of the id — each bucket sees a REPRESENTATIVE
# random mix of lengths, which is what FFD quality needs; bucketing by
# length would starve bins of short filler docs), and each group runs
# the exact sequential algorithm inside one applyInArrow task whose
# state (open-bin remainders) is bounded by the group's document count.
# Parallelism = nbuckets; per-task memory = docs/nbuckets rows.  At
# 100 TB scale raise nbuckets (2^10..2^14): waste stays within a
# fraction of a percent of global FFD because every bucket's length
# distribution is an iid sample of the corpus's.
#
# Determinism / oracle: ALL-INTEGER state + a total order (size DESC,
# id ASC; ids unique) makes the fold exactly replayable — the DuckDB
# mirror is a recursive CTE carrying the same remainder list and
# placing each doc at list_position(rem >= size) — so the gate is
# hash-exact without any float discipline at all.


def pack_sequences_ffd(
    df: DataFrame,
    id_col: str,
    size_col: str,
    block_size: int,
    nbuckets: int = 64,
    salt: str = "ffd",
) -> DataFrame:
    """No-split context-window packing: first-fit-decreasing per hash
    bucket.  → ``(id, size, bucket, bin, bin_off)`` — ``bin`` is the
    1-based bin index WITHIN the bucket (global window id =
    ``(bucket, bin)``), ``bin_off`` the document's token offset inside
    its bin.  Sizes must satisfy ``0 <= size <= block_size`` (a doc
    longer than the window can never be placed whole — loud error, both
    engines)."""
    from dataclass_array_spark.operators.classifier import feature_bucket

    B = int(block_size)
    if B < 1:
        raise ValueError("pack_sequences_ffd: block_size must be >= 1")
    nb = int(nbuckets)
    if nb < 1:
        raise ValueError("pack_sequences_ffd: nbuckets must be >= 1")

    size_ok = (F.col(size_col) >= 0) & (F.col(size_col) <= B)
    guarded_size = F.when(size_ok, F.col(size_col).cast("long")).otherwise(
        F.assert_true(
            size_ok,
            F.lit(
                f"pack_sequences_ffd: {size_col} outside [0, {B}] "
                "(documents longer than the window cannot pack whole)"
            ),
        ).cast("long")
    )
    base = df.select(
        F.col(id_col).alias("id"),
        guarded_size.alias("size"),
        feature_bucket(F.col(id_col).cast("string"), nb, salt).alias(
            "bucket"
        ),
    )

    id_t = df.schema[id_col].dataType
    specs = {"id": scalar_spec(id_t), "size": ArraySpec(np.int64), "bucket": ArraySpec(np.int64)}
    schema = T.StructType.fromDDL(
        f"id {id_t.simpleString()}, size long, bucket long, bin long, bin_off long"
    )

    def _pack(tbl: pa.Table) -> pa.Table:
        g = np_columns(tbl, specs)
        order = np.lexsort((g["id"], -g["size"]))  # size DESC, then id ASC
        g = {c: a[order] for c, a in g.items()}
        rem: list = []  # remaining capacity per open bin (1-based out)
        bins, offs = [], []
        for s in g["size"].tolist():
            placed = -1
            for i, r in enumerate(rem):
                if r >= s:
                    placed = i
                    break
            if placed < 0:
                rem.append(B - s)
                bins.append(len(rem))
                offs.append(0)
            else:
                offs.append(B - rem[placed])
                rem[placed] -= s
                bins.append(placed + 1)
        g["bin"] = np.asarray(bins, dtype=np.int64)
        g["bin_off"] = np.asarray(offs, dtype=np.int64)
        return arrow_table(g, schema)

    return base.groupBy("bucket").applyInArrow(_pack, schema=schema).withColumnsRenamed(
        {"id": id_col, "size": size_col}
    )


def sql_pack_ffd(
    src: str,
    id_expr: str,
    size_expr: str,
    block_size: int,
    nbuckets: int = 64,
    salt: str = "ffd",
) -> str:
    """DuckDB mirror of :func:`pack_sequences_ffd`: a recursive CTE per
    bucket carrying the open-bin remainder list; each step places the
    next (size DESC, id) document at the FIRST index whose remainder
    fits (``list_position`` over a ``>=`` mask), appending a new bin
    when none does.  All-integer — hash-exact by construction.  Emits
    the full query (ORDER BY bucket, bin, bin_off, id)."""
    B = int(block_size)
    from dataclass_array_spark.operators.classifier import sql_feature_bucket

    bucket = sql_feature_bucket(f"CAST({id_expr} AS VARCHAR)", nbuckets, salt)
    return f"""
WITH RECURSIVE pin AS (
  SELECT {id_expr} AS id,
         CASE WHEN ({size_expr}) BETWEEN 0 AND {B} THEN CAST({size_expr} AS BIGINT)
              ELSE error('pack_sequences_ffd: size outside [0, {B}]') END AS size,
         {bucket} AS bucket
  FROM {src}
),
pdocs AS (
  SELECT bucket, id, size,
         ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY size DESC, id) AS pos,
         COUNT(*) OVER (PARTITION BY bucket) AS n
  FROM pin
),
pffd AS (
  SELECT bucket, CAST(0 AS BIGINT) AS pos, MAX(n) AS n,
         CAST([] AS BIGINT[]) AS rem, CAST([] AS BIGINT[]) AS binof
  FROM pdocs GROUP BY bucket
  UNION ALL
  SELECT f.bucket, f.pos + 1, f.n,
         CASE WHEN x.idx IS NULL OR x.idx = 0
              THEN list_append(f.rem, {B} - d.size)
              ELSE f.rem[:x.idx-1] || [f.rem[x.idx] - d.size] || f.rem[x.idx+1:]
         END AS rem,
         list_append(f.binof,
                     CASE WHEN x.idx IS NULL OR x.idx = 0
                          THEN len(f.rem) + 1 ELSE x.idx END) AS binof
  FROM pffd f
  JOIN pdocs d ON d.bucket = f.bucket AND d.pos = f.pos + 1,
  LATERAL (SELECT list_position(
             list_transform(f.rem, r -> r >= d.size), true) AS idx) x
  WHERE f.pos < f.n
),
pfin AS (SELECT bucket, binof FROM pffd WHERE pos = n),
pasg AS (
  SELECT bucket,
         CAST(unnest(generate_series(1, len(binof))) AS BIGINT) AS pos,
         CAST(unnest(binof) AS BIGINT) AS bin
  FROM pfin
)
SELECT d.id, d.size, d.bucket, a.bin,
       CAST(SUM(d.size) OVER (PARTITION BY d.bucket, a.bin ORDER BY d.pos)
            - d.size AS BIGINT) AS bin_off
FROM pdocs d JOIN pasg a ON a.bucket = d.bucket AND a.pos = d.pos
ORDER BY d.bucket, a.bin, bin_off, d.id
"""
