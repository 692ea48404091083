"""Multi-dimensional data layout: Z-order (Morton) clustering keys.

The 100 TB lever the rest of this repo's scan-side pushdown depends on:
parquet row-group and file pruning only skips data when the min/max
stats of the filter columns are TIGHT per file.  A table sorted by one
column has full-range stats for every other column, so a selective
2-column predicate still reads everything; interleaving the bits of
both columns into one sort key (the Z-order / Morton curve — the same
layout Delta's OPTIMIZE ZORDER BY and Iceberg's sort-order rewrite
produce) gives every file a small bounding BOX in the value space, and
min/max pruning starts working for EVERY interleaved column at once.
``tests/test_layout.py`` measures exactly that: the summed per-file
bounding-box area of a Z-ordered layout is a small fraction of a
single-column sort's.

Everything here is pure Catalyst column arithmetic (shift/AND/OR
folds — no UDF, no shuffle; a caller lays a table out with one
``repartitionByRange`` on the key), so the key computation runs in
whole-stage codegen at scan speed.

Exactness: the Morton interleave is integer-only bit arithmetic and
the min-max scaling's doubles are mirrored op-for-op
(:func:`scale_expr`/:func:`scale_sql`), so the DuckDB oracle matches
bit-for-bit; ``morton_sql`` emits the equivalent SQL expression for
the gate.

Curve menu: :func:`morton_key` (any k, cheapest, small locality
jumps), :func:`with_hilbert_key` (2-d classic walk, best 2-d
locality), :func:`with_hilbert_key_kd` (k >= 2, Skilling transpose
walk — use this for 3+-column layouts; its 2-d orientation differs
from the classic walk, so don't mix the two within one table's
files).
"""

from __future__ import annotations

from typing import List, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def morton_key(cols: Sequence[Column], bits: int) -> Column:
    """Interleave ``bits`` low bits of each (already non-negative,
    ``< 2**bits``) integer column into one BIGINT Morton key.

    Bit ``i`` of column ``j`` lands at position ``i * k + j`` (column 0
    owns the least-significant interleaved bit), the standard Morton
    order.  ``bits * len(cols)`` must fit a signed 64-bit key.  The
    expression is a fold of ``((c >> i) & 1) << (i*k + j)`` terms —
    2 * bits * k bitwise ops, all codegen'd; for the typical
    ``bits=16, k=2-3`` that is well inside expression-size comfort."""
    k = len(cols)
    if k < 2:
        raise ValueError("morton_key needs >= 2 columns to interleave")
    if bits * k > 63:
        raise ValueError(f"bits*len(cols) = {bits * k} > 63 overflows BIGINT")
    key = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        c = c.cast("long")
        for i in range(bits):
            key = key.bitwiseOR(
                F.shiftleft(F.shiftright(c, i).bitwiseAND(F.lit(1)), i * k + j)
            )
    return key


def morton_sql(exprs: Sequence[str], bits: int) -> str:
    """DuckDB mirror of :func:`morton_key` over SQL expressions —
    identical bit placement, integer-only."""
    k = len(exprs)
    terms = []
    for j, e in enumerate(exprs):
        for i in range(bits):
            # fully parenthesized: Postgres-lineage engines give <<
            # and | EQUAL precedence (left-assoc), so a bare
            # `a << 2 | b << 3` would parse as `((a << 2) | b) << 3`
            terms.append(f"(((({e}) >> {i}) & 1) << {i * k + j})")
    return "(" + " | ".join(terms) + ")"


def scale_expr(c: Column, cmin: int, cmax: int, bits: int) -> Column:
    """Min-max scale onto ``[0, 2**bits)``: ``floor((c - min) *
    (2^bits - 1) / span)`` with the product and division in DOUBLES.
    Cross-engine exact by MIRRORING (``scale_sql`` emits the identical
    expression — identical IEEE doubles floor identically), with the
    representability bound enforced: ``span * (2^bits - 1)`` must stay
    under 2^53 so the numerator is exact.  A constant column maps
    to 0."""
    span = cmax - cmin
    if span <= 0:
        return F.lit(0).cast("long")
    if span * ((1 << bits) - 1) >= (1 << 53):
        raise ValueError(
            f"span {span} * (2^{bits}-1) exceeds 2^53 — pre-bucketize "
            "the column or lower bits"
        )
    return F.floor(
        (c.cast("long") - F.lit(cmin)).cast("double")
        * F.lit(float((1 << bits) - 1))
        / F.lit(float(span))
    ).cast("long")


def scale_sql(expr: str, cmin: int, cmax: int, bits: int) -> str:
    """DuckDB mirror of :func:`scale_expr` (identical double ops)."""
    span = cmax - cmin
    if span <= 0:
        return "CAST(0 AS BIGINT)"
    return (
        f"CAST(FLOOR(CAST(({expr}) - {cmin} AS DOUBLE) * "
        f"{float((1 << bits) - 1)!r} / {float(span)!r}) AS BIGINT)"
    )


def scale_sql_dyn(expr: str, mn: str, mx: str, bits: int) -> str:
    """:func:`scale_sql` when the bounds are SQL EXPRESSIONS (column
    refs / subqueries) rather than Python ints — for oracles that
    compute min/max in the same statement.  The span<=0 branch must
    then be guarded in SQL: :func:`scale_expr` decides it at
    expression-BUILD time and emits ``lit(0)`` for a constant column,
    while an unguarded ``x / 0.0`` here would yield NULL (DuckDB) — a
    gate mismatch on degenerate data.  The CASE keeps the branch
    mirrored.  A BIGINT span is exact as a double below 2^53 (the
    same representability bound :func:`scale_expr` enforces), so the
    division operands — and therefore the floors — are bit-identical
    to the literal-bounds form."""
    m = float((1 << bits) - 1)
    body = (
        f"CAST(FLOOR(CAST(({expr}) - ({mn}) AS DOUBLE) * {m!r} "
        f"/ CAST(({mx}) - ({mn}) AS DOUBLE)) AS BIGINT)"
    )
    return (
        f"(CASE WHEN ({mx}) - ({mn}) <= 0 THEN CAST(0 AS BIGINT) "
        f"ELSE {body} END)"
    )


def zorder_key(
    df: DataFrame, cols: Sequence[str], bits: int = 16
) -> Tuple[Column, List[Tuple[int, int]]]:
    """Z-order key column for integer columns ``cols`` of ``df``:
    min-max-scales each onto ``[0, 2**bits)`` (:func:`scale_expr`),
    then Morton-interleaves.  Returns ``(key_column, [(min, max)...])``
    so callers can reproduce the scaling (e.g. in an oracle).

    The min/max pass is one aggregate collected to the driver — two
    BIGINTs per column, scale-independent driver state.  At 100 TB
    run it once and persist the bounds with the table (re-scaling on
    every write would also make file boundaries unstable across
    incremental writes)."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).cast("long"), F.max(c).cast("long")]
    row = df.agg(*aggs).collect()[0]
    if row[0] is None:
        # min/max of an empty frame are NULL — fail loudly instead of
        # letting scale_expr hit a NoneType (mirrors sq8_bounds)
        raise ValueError("zorder_key: empty input (no rows to bound)")
    bounds = [(row[2 * i], row[2 * i + 1]) for i in range(len(cols))]
    scaled = [
        scale_expr(F.col(c), mn, mx, bits)
        for c, (mn, mx) in zip(cols, bounds)
    ]
    return morton_key(scaled, bits), bounds


def with_hilbert_key(
    df: DataFrame, xcol: Column, ycol: Column, bits: int, out: str = "hkey"
) -> DataFrame:
    """Hilbert-curve distance of a 2-d point, added as column ``out``
    (the better-locality sibling of :func:`morton_key`: consecutive
    curve positions are always ADJACENT cells, so range-partition
    boundaries cut the value space into slightly tighter boxes than
    the Z-curve's jumps).

    Inputs must already be non-negative ints ``< 2**bits`` (compose
    with :func:`scale_expr`); ``2*bits`` must fit a signed 64-bit key.
    The classic per-bit fold (reflect + swap by quadrant, accumulate
    ``s² · ((3·rx) XOR ry)``) is unrolled Python-side into one
    ``withColumns`` projection per level over plain integer
    expressions — no higher-order function, so nothing is interpreted
    (PERF.md round 10).  Catalyst's CollapseProject keeps
    multiply-referenced state columns materialized (it refuses to
    inline non-cheap exprs used more than once), adjacent projections
    fuse into a single WholeStageCodegen stage, and the per-level state
    becomes codegen LOCALS: zero per-row allocation (tested against the
    pure-Python reference walk in ``tests/test_layout.py``)."""
    if 2 * bits > 63:
        raise ValueError(f"2*bits = {2 * bits} > 63 overflows BIGINT")
    x, y, d, rx, ry = "_hil_x", "_hil_y", "_hil_d", "_hil_rx", "_hil_ry"
    if out in (x, y, d, rx, ry):
        raise ValueError(
            f"out={out!r} collides with an internal state column; pick another name"
        )
    for c in (x, y, d, rx, ry):
        if c in df.columns:
            raise ValueError(f"column {c} already present")
    one = F.lit(1).cast("long")
    zero = F.lit(0).cast("long")
    r = df.withColumns(
        {
            x: xcol.cast("long"),
            y: ycol.cast("long"),
            d: F.lit(0).cast("long"),
        }
    )
    for i in range(bits - 1, -1, -1):
        s = F.lit(1 << i).cast("long")
        r = r.withColumns(
            {
                rx: F.when(F.col(x).bitwiseAND(s) > 0, one).otherwise(zero),
                ry: F.when(F.col(y).bitwiseAND(s) > 0, one).otherwise(zero),
            }
        )
        xr = F.when(F.col(rx) == one, s - 1 - F.col(x)).otherwise(F.col(x))
        yr = F.when(F.col(rx) == one, s - 1 - F.col(y)).otherwise(F.col(y))
        r = r.withColumns(
            {
                d: F.col(d)
                + F.lit((1 << i) * (1 << i)).cast("long")
                * ((F.col(rx) * F.lit(3).cast("long")).bitwiseXOR(F.col(ry))),
                x: F.when(F.col(ry) == zero, yr).otherwise(F.col(x)),
                y: F.when(F.col(ry) == zero, xr).otherwise(F.col(y)),
            }
        )
    return r.withColumn(out, F.col(d)).drop(x, y, d, rx, ry)


def hilbert_sql(x_expr: str, y_expr: str, bits: int, from_clause: str,
                select_cols: str) -> str:
    """DuckDB mirror of :func:`with_hilbert_key` as a chain of per-level
    CTEs (one projection per bit, every ``s`` a literal — identical
    integer arithmetic).  Returns a full query ``SELECT {select_cols},
    d AS hkey FROM ...``; callers wrap/append as needed."""
    lines = [
        f"h{bits} AS (SELECT {select_cols}, CAST({x_expr} AS BIGINT) AS x, "
        f"CAST({y_expr} AS BIGINT) AS y, CAST(0 AS BIGINT) AS d {from_clause})"
    ]
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        rx = f"(CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)"
        d2 = f"d + CAST({s * s} AS BIGINT) * xor({rx} * 3, {ry})"
        xr = f"(CASE WHEN {rx} = 1 THEN {s - 1} - x ELSE x END)"
        yr = f"(CASE WHEN {rx} = 1 THEN {s - 1} - y ELSE y END)"
        x2 = f"(CASE WHEN {ry} = 0 THEN {yr} ELSE x END)"
        y2 = f"(CASE WHEN {ry} = 0 THEN {xr} ELSE y END)"
        lines.append(
            f"h{i} AS (SELECT {select_cols}, {x2} AS x, {y2} AS y, "
            f"CAST({d2} AS BIGINT) AS d FROM h{i + 1})"
        )
    return (
        "WITH " + ",\n".join(lines)
        + f"\nSELECT {select_cols}, d AS hkey FROM h0"
    )


def _hilbert_kd_validate(k: int, bits: int) -> None:
    if k < 2:
        raise ValueError("k-d Hilbert needs >= 2 columns")
    if bits < 1:
        raise ValueError("bits must be >= 1")
    if bits * k > 63:
        raise ValueError(
            f"bits*len(cols) = {bits * k} > 63 overflows BIGINT"
        )


def with_hilbert_key_kd(
    df: DataFrame, cols: Sequence[Column], bits: int, out: str = "hkey"
) -> DataFrame:
    """k-DIMENSIONAL Hilbert-curve index as a chain of projections —
    the arbitrary-k generalization of :func:`with_hilbert_key` (which
    keeps the classic 2-d reflect-and-swap walk for compatibility with
    keys already written by it; the two curves are different valid
    Hilbert orientations, so do not mix them within one table).

    Algorithm: Skilling's transpose construction (J. Skilling,
    "Programming the Hilbert curve", AIP Conf. Proc. 707, 2004 — the
    standard public k-d formulation): an "inverse undo" pass of
    per-bit reflect/exchange steps, a Gray-code pass, then a bit
    interleave of the transposed coordinates.  Both loop bounds are
    plan-time constants (``bits`` levels × ``k`` dims), so the whole
    walk unrolls into ``withColumns`` projections exactly like
    :func:`with_hilbert_key`: CollapseProject keeps the
    multiply-referenced state columns materialized, adjacent
    projections fuse into ONE WholeStageCodegen stage, and the per-step
    state lives in codegen locals — zero per-row allocation (the
    interpreted-HOF hazard documented in PERF.md round 10 never
    arises because no higher-order function is emitted).

    Inputs must already be non-negative ints ``< 2**bits`` (compose
    with :func:`scale_expr`).  ``bits * len(cols)`` must fit a signed
    64-bit key.  Locality property (tested): consecutive key values
    are L1-adjacent cells, so range-partition boundaries cut the value
    space into tight boxes for parquet min/max pruning on EVERY keyed
    column — the same 100 TB scan-pruning story as the 2-d form, now
    for (e.g.) a (customer, day, region) layout where 2-d Hilbert had
    to fall back to :func:`morton_key`.

    Compile cost: the unroll emits (bits−1)·k+4 chained projections,
    and Catalyst ANALYSIS time grows with that count — ~3× the 2-d
    gate's plan-compile constant at k=3, ~50 projections at k=6/
    bits=10.  Per-query constant, amortized to nothing on large
    scans; budget for it when planning many small k-d-keyed queries
    (PERF.md round 11)."""
    k = len(cols)
    _hilbert_kd_validate(k, bits)
    names = [f"_hil{i}" for i in range(k)] + ["_hil_t"]
    if out in names:
        raise ValueError(
            f"out={out!r} collides with an internal state column; "
            "pick another name"
        )
    for c in names:
        if c in df.columns:
            raise ValueError(f"column {c} already present")
    X = [F.col(n) for n in names[:k]]

    def lit(v: int) -> Column:
        return F.lit(v).cast("long")

    r = df.withColumns(
        {n: c.cast("long") for n, c in zip(names, cols)}
    )
    # inverse undo: Q = M, M/2, ..., 2; per (Q, i) one projection.
    # Every branch reads the PREVIOUS projection's columns, so pairing
    # the X[0]/X[i] updates in one withColumns is exactly the
    # simultaneous-assignment the algorithm specifies.
    for qi in range(bits - 1, 0, -1):
        q, p = 1 << qi, (1 << qi) - 1
        r = r.withColumns(
            {
                names[0]: F.when(
                    X[0].bitwiseAND(lit(q)) > 0, X[0].bitwiseXOR(lit(p))
                ).otherwise(X[0])
            }
        )
        for i in range(1, k):
            t = X[0].bitwiseXOR(X[i]).bitwiseAND(lit(p))
            hi = X[i].bitwiseAND(lit(q)) > 0
            r = r.withColumns(
                {
                    names[0]: F.when(
                        hi, X[0].bitwiseXOR(lit(p))
                    ).otherwise(X[0].bitwiseXOR(t)),
                    names[i]: F.when(hi, X[i]).otherwise(
                        X[i].bitwiseXOR(t)
                    ),
                }
            )
    # Gray encode (X[i] ^= X[i-1], sequential) == cumulative XOR of
    # the pre-pass values — one projection
    gray = {}
    acc = X[0]
    for i in range(1, k):
        acc = acc.bitwiseXOR(X[i])
        gray[names[i]] = acc
    r = r.withColumns(gray)
    # t = XOR of (Q-1) over the set bits (above bit 0) of X[k-1]
    t = lit(0)
    for qi in range(bits - 1, 0, -1):
        q = 1 << qi
        t = t.bitwiseXOR(
            F.when(X[k - 1].bitwiseAND(lit(q)) > 0, lit(q - 1)).otherwise(
                lit(0)
            )
        )
    r = r.withColumn("_hil_t", t)
    r = r.withColumns(
        {n: F.col(n).bitwiseXOR(F.col("_hil_t")) for n in names[:k]}
    )
    # un-transpose: bit j of X[i] -> key bit j*k + (k-1-i)  (dim 0
    # owns the most-significant bit of each k-bit group)
    key = lit(0)
    for i in range(k):
        for j in range(bits):
            key = key.bitwiseOR(
                F.shiftleft(
                    F.shiftright(X[i], j).bitwiseAND(F.lit(1)),
                    j * k + (k - 1 - i),
                )
            )
    return r.withColumn(out, key).drop(*names)


def hilbert_kd_sql(
    exprs: Sequence[str], bits: int, from_clause: str, select_cols: str
) -> str:
    """DuckDB mirror of :func:`with_hilbert_key_kd` as a chain of
    per-step CTEs — identical integer arithmetic (bit ops only, no
    doubles), so keys are value-exact cross-engine.  Returns a full
    query ``SELECT {select_cols}, hkey FROM ...``."""
    k = len(exprs)
    _hilbert_kd_validate(k, bits)
    xs = [f"x{i}" for i in range(k)]
    step = 0
    init = ", ".join(
        f"CAST({e} AS BIGINT) AS {x}" for e, x in zip(exprs, xs)
    )
    lines = [f"g{step} AS (SELECT {select_cols}, {init} {from_clause})"]

    def emit(assigns: "dict[str, str]") -> None:
        nonlocal step
        prev, step = step, step + 1
        cols_sql = ", ".join(
            f"{assigns.get(x, x)} AS {x}" for x in xs
        )
        lines.append(
            f"g{step} AS (SELECT {select_cols}, {cols_sql} FROM g{prev})"
        )

    for qi in range(bits - 1, 0, -1):
        q, p = 1 << qi, (1 << qi) - 1
        emit({xs[0]: f"(CASE WHEN (x0 & {q}) > 0 THEN xor(x0, {p}) ELSE x0 END)"})
        for i in range(1, k):
            t = f"(xor(x0, x{i}) & {p})"
            emit(
                {
                    xs[0]: f"(CASE WHEN (x{i} & {q}) > 0 "
                    f"THEN xor(x0, {p}) ELSE xor(x0, {t}) END)",
                    xs[i]: f"(CASE WHEN (x{i} & {q}) > 0 "
                    f"THEN x{i} ELSE xor(x{i}, {t}) END)",
                }
            )
    gray = {}
    acc = "x0"
    for i in range(1, k):
        acc = f"xor({acc}, x{i})"
        gray[xs[i]] = acc
    emit(gray)
    t_sql = "0"
    for qi in range(bits - 1, 0, -1):
        q = 1 << qi
        t_sql = (
            f"xor({t_sql}, (CASE WHEN (x{k - 1} & {q}) > 0 "
            f"THEN {q - 1} ELSE 0 END))"
        )
    prev = step
    step += 1
    lines.append(
        f"g{step} AS (SELECT {select_cols}, "
        + ", ".join(f"xor({x}, CAST({t_sql} AS BIGINT)) AS {x}" for x in xs)
        + f" FROM g{prev})"
    )
    terms = []
    for i in range(k):
        for j in range(bits):
            terms.append(f"((((x{i}) >> {j}) & 1) << {j * k + (k - 1 - i)})")
    return (
        "WITH " + ",\n".join(lines)
        + f"\nSELECT {select_cols}, CAST(("
        + " | ".join(terms)
        + f") AS BIGINT) AS hkey FROM g{step}"
    )
