"""q-digest: a RANK-BASED mergeable quantile sketch (round-12 VERDICT
stretch item) — the heavy-tail complement to the equi-width histogram
sketch (``sketch.py::hist_build``): the histogram's fixed bins bound
error by one bucket WIDTH (useless when 99% of values sit in one bin),
the q-digest bounds error by RANK (≤ bits·n/k ranks regardless of the
value distribution).

Public recipe (Shrivastava, Buragohain, Agrawal, Suri 2004, "Medians
and Beyond: New Aggregation Techniques for Sensor Networks"), with the
deterministic greedy variant pinned precisely so the DuckDB oracle can
replay it node-for-node:

- Values scale to ``2^bits`` integer buckets over caller-supplied
  [lo, hi) bounds (the persisted-bounds contract shared with
  hist_build / zorder / SQ8).
- The digest lives on the implicit binary trie over buckets: a node at
  level L with id i covers buckets [i·2^L, (i+1)·2^L).
- Bottom-up, level 0 → bits−1: children of one parent are summed; if
  the group sum ≤ T = floor(n/k) the children COLLAPSE into the parent
  (which then competes at the next level), else the children are
  EMITTED into the digest.  Whatever reaches level ``bits`` is emitted
  as the root remainder.
- Every emitted INTERNAL node was created by a collapse, so its count
  is ≤ T; leaves are exact point masses (a heavy leaf costs no rank
  error).  A rank query crosses ≤ bits internal nodes ⇒ error
  ≤ bits·n/k ranks.  Digest size is O(k·bits) nodes.

Determinism: integer counts, integer trie arithmetic, and a total
(maxbucket, lvl) order for the quantile scan — no randomness anywhere
(the textbook KLL compactor coin-flips; that is exactly what this
variant trades a log factor of size for), so the oracle replays the
sketch AND the estimates bit-for-bit (:func:`qdigest_sql_ctes`
unrolls the fixed ``bits`` rounds).  NULL-key groups are dropped, as
the oracle's equi-join on the group key drops them.

One ladder (:func:`_ladder`) serves both compress (leaves enter as
level-0 nodes) and merge (every level's nodes join the climb at their
level), and one cumulative-count scan (:func:`_quantile_scan`) serves
both this module's quantiles and the histogram's.  Each folds on the
driver when its sketch-sized input fits
:func:`~dataclass_array_spark.core.table.collect_bounded` and runs the
distributed joins otherwise; the two paths agree node for node.

Scale shape (100 TB): ONE corpus aggregation produces the ≤
groups·2^bits leaf table (map-side combined, same as hist_build);
the ``bits`` compression rounds run on that bounded table — their
cost is independent of corpus size.  Mergeable two ways: (a) leaf
histograms merge by cell-SUM then compress once (exactly equal to the
single-shot digest — what :func:`~dataclass_array_spark.streaming
.core.hist_stream` + :func:`qdigest_compress` do for streams), or
(b) compressed digests merge by node-wise SUM + recompress
(:func:`qdigest_merge` — bounded state, standard q-digest merge;
estimates then carry the merged ≤2× error bound).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "qdigest_build",
    "qdigest_compress",
    "qdigest_merge",
    "qdigest_quantiles",
    "qdigest_sql_ctes",
    "qdigest_quantiles_sql",
]


def _gjoin(a: DataFrame, b: DataFrame, group_cols) -> DataFrame:
    # equi-join on the group key; with NO groups the "key join" is a
    # 1-row cross join (b is a global aggregate there)
    return a.join(b, list(group_cols)) if group_cols else a.crossJoin(b)


def _leaves(df, group_cols, value_col, lo, hi, nb):
    # identical clamped-floor bucketing to hist_build (mirrored oracle)
    x = F.col(value_col).cast("double")
    raw = F.floor(
        (x - F.lit(float(lo))) * F.lit(float(nb)) / F.lit(float(hi) - float(lo))
    ).cast("long")
    b = F.least(F.lit(nb - 1).cast("long"), F.greatest(F.lit(0).cast("long"), raw))
    return (
        df.select(*group_cols, b.alias("id"))
        .groupBy(*group_cols, "id")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def qdigest_build(
    df: DataFrame,
    group_cols: "list[str]",
    value_col: str,
    lo: float,
    hi: float,
    bits: int = 12,
    k: int = 64,
) -> DataFrame:
    """Build the digest from raw rows: → (group..., lvl, id, cnt)."""
    if not hi > lo:
        raise ValueError(f"qdigest_build: need hi > lo, got [{lo}, {hi}]")
    if not 1 <= bits <= 24:
        raise ValueError("qdigest_build: bits must be in [1, 24]")
    if k < 1:
        raise ValueError("qdigest_build: k must be >= 1")
    leaves = _leaves(df, group_cols, value_col, lo, hi, 1 << bits)
    return qdigest_compress(leaves, group_cols, bits, k)


def _non_null_keys(df: DataFrame, group_cols) -> DataFrame:
    # a NULL group key never matches the distributed equi-joins (nor the
    # oracle's ``g.c = t.c``), so those groups are dropped up front and
    # the driver folds and the distributed paths see the same groups
    for c in group_cols:
        df = df.filter(F.col(c).isNotNull())
    return df


def _ladder_py(nodes, bits, k):
    """Exact Python replay of :func:`_ladder` over collected
    ``(gkey, lvl, id, cnt)`` nodes: per-group threshold t = floor(n/k);
    per level, parent sums s over id//2; every current node whose
    parent exceeds t is EMITTED at this level, sub-threshold parents
    are carried up and absorb the input nodes of the next level;
    survivors land at lvl=bits.  All-integer arithmetic — node-for-node
    identical to the join ladder (floor(id/2) == id // 2 for the
    non-negative bucket ids, and for negatives both engines floor
    toward -inf)."""
    n_by_g: dict = {}
    cur: list = []
    carried: dict = {}
    for g, lvl, i, c in nodes:
        n_by_g[g] = n_by_g.get(g, 0) + c
        if lvl == 0:
            cur.append((g, i, c))
        else:
            carried.setdefault(lvl, []).append((g, i, c))
    t_by_g = {g: n // int(k) for g, n in n_by_g.items()}
    out = []
    for lvl in range(int(bits)):
        s: dict = {}
        for g, i, c in cur:
            s[(g, i // 2)] = s.get((g, i // 2), 0) + c
        out.extend(
            (g, lvl, i, c) for g, i, c in cur if s[(g, i // 2)] > t_by_g[g]
        )
        nxt = {key: sc for key, sc in s.items() if sc <= t_by_g[key[0]]}
        for g, i, c in carried.get(lvl + 1, ()):
            nxt[(g, i)] = nxt.get((g, i), 0) + c
        cur = [(g, i, c) for (g, i), c in nxt.items()]
    out.extend((g, int(bits), i, c) for g, i, c in cur)
    return out


def _ladder(
    nodes: DataFrame, group_cols: "list[str]", bits: int, k: int, pin: str
) -> DataFrame:
    """The q-digest compression ladder over nodes (group..., lvl, id,
    cnt), unique per (group, lvl, id): level-0 nodes start the climb and
    nodes at level L join the parents carried up to level L.  NULL-key
    groups are dropped on both paths.

    The node table is sketch-sized by construction, so when it fits
    :func:`~dataclass_array_spark.core.table.collect_bounded` the whole
    ladder is one collect + the integer fold of :func:`_ladder_py` —
    identical nodes, none of the 2·bits scheduling barriers.  Larger
    tables (many groups × deep tries) run the fixed-depth join ladder,
    where each round's ``cur`` is a BRANCH point (it feeds both that
    round's emitted nodes and the next round), so every round is pinned
    (:func:`~dataclass_array_spark.core.table.pin_materialization`) —
    without this, materializing the digest re-executes an O(bits²)
    cascade of the round plans.  The probe reads the pinned node table,
    so both paths share its single materialization."""
    from dataclass_array_spark.core.table import (
        collect_bounded,
        pin_materialization,
    )

    nodes = pin_materialization(_non_null_keys(nodes, group_cols), pin)
    rows = collect_bounded(nodes)
    if rows is not None:
        import pyspark.sql.types as T

        keyed = [
            (tuple(r[c] for c in group_cols), r["lvl"], r["id"], r["cnt"])
            for r in rows
        ]
        schema = T.StructType(
            [nodes.schema[c] for c in group_cols]
            + [
                T.StructField("lvl", T.LongType(), False),
                T.StructField("id", T.LongType(), True),
                T.StructField("cnt", T.LongType(), True),
            ]
        )
        return nodes.sparkSession.createDataFrame(
            [(*g, lvl, i, c) for g, lvl, i, c in _ladder_py(keyed, bits, k)],
            schema,
        )
    tot = pin_materialization(
        nodes.groupBy(*group_cols).agg(
            F.floor(F.sum("cnt") / F.lit(int(k))).cast("long").alias("__t")
        ),
        pin,
    )
    cur = nodes.filter(F.col("lvl") == 0).drop("lvl")
    parts = []
    for lvl in range(int(bits)):
        g = _gjoin(
            cur.groupBy(
                *group_cols, F.floor(F.col("id") / 2).cast("long").alias("pid")
            ).agg(F.sum("cnt").cast("long").alias("s")),
            tot,
            group_cols,
        )
        emitted = (
            cur.withColumn("pid", F.floor(F.col("id") / 2).cast("long"))
            .join(g.filter(F.col("s") > F.col("__t")), [*group_cols, "pid"])
            .select(
                *group_cols, F.lit(lvl).cast("long").alias("lvl"), "id", "cnt"
            )
        )
        parts.append(emitted)
        pushed = g.filter(F.col("s") <= F.col("__t")).select(
            *group_cols, F.col("pid").alias("id"), F.col("s").alias("cnt")
        )
        carried = nodes.filter(F.col("lvl") == lvl + 1).drop("lvl")
        cur = pin_materialization(
            pushed.unionByName(carried)
            .groupBy(*group_cols, "id")
            .agg(F.sum("cnt").cast("long").alias("cnt")),
            pin,
        )
    parts.append(
        cur.select(
            *group_cols, F.lit(int(bits)).cast("long").alias("lvl"), "id", "cnt"
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # the digest itself is re-referenced by every consumer (total + cum
    # window + one pick per quantile) — pin the O(k·bits)-row result
    return pin_materialization(out, pin)


def qdigest_compress(
    leaves: DataFrame,
    group_cols: "list[str]",
    bits: int,
    k: int = 64,
    pin: str = "local",
) -> DataFrame:
    """Compress a leaf table (group..., id, cnt), unique per (group,
    id), into digest nodes (group..., lvl, id, cnt) — the bottom-up
    greedy ladder, with the leaves entering as level-0 nodes of the
    same ladder :func:`qdigest_merge` runs (fixed depth = ``bits``).
    A leaf table that fits the driver cap folds in one collect; larger
    ones run the pinned distributed join ladder (see :func:`_ladder`).
    NULL-key groups are dropped, as the oracle's equi-join drops them.
    The leaf aggregation feeding this is fully distributed either
    way."""
    nodes = leaves.select(
        *group_cols, F.lit(0).cast("long").alias("lvl"), "id", "cnt"
    )
    return _ladder(nodes, group_cols, bits, k, pin)


def qdigest_merge(
    digests: "list[DataFrame]",
    group_cols: "list[str]",
    bits: int,
    k: int = 64,
    pin: str = "local",
) -> DataFrame:
    """Node-level merge of compressed digests (the standard q-digest
    merge): node-wise count SUM, then one recompression ladder where
    each level also absorbs the merged nodes CARRIED at that level.
    Total count is conserved exactly; internal-node counts after a
    merge are bounded by ≤ 2·T_new (each input's internal nodes were
    ≤ its own T, and a merged/recompressed node sums at most the two),
    so the rank error bound doubles per merge generation — use the
    LEAF-level merge (SUM leaves, compress once — see
    :func:`qdigest_compress`) when the leaf tables are still
    available; this node-level form is for merging digests whose
    leaves are gone (cross-datacenter aggregation of shipped
    sketches).  Same ladder and driver fold as compress; NULL-key
    groups are dropped."""
    merged = digests[0]
    for d in digests[1:]:
        merged = merged.unionByName(d)
    merged = merged.groupBy(*group_cols, "lvl", "id").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    return _ladder(merged, group_cols, bits, k, pin)


def _quantile_scan(
    nodes: DataFrame,
    group_cols: "list[str]",
    ps: "list[float]",
    labels: "list[str]",
    lo: float,
    width: float,
) -> DataFrame:
    """The cumulative-count quantile scan shared by
    :func:`~dataclass_array_spark.operators.sketch.hist_quantiles` (a
    bucket is a ``lvl = 0`` node) and :func:`qdigest_quantiles`, over
    nodes (group..., maxb, lvl, cnt): for each p, the first node in
    (maxb, lvl) order whose cumulative count reaches rank ceil(p·n),
    reported as ``lo + (maxb + 0.5)·width``.  → (group..., n,
    labels...).  Groups with a NULL key or no qualifying node are
    dropped.

    The node table is sketch-sized by construction: when it fits
    :func:`~dataclass_array_spark.core.table.collect_bounded` the scan
    replays on the driver exactly — integer cum counts, rank =
    ceil(p · double(n)) (same IEEE product), first node with cum ≥ rank
    (Python tuple order == min(struct(maxb, lvl))), and the identical
    double op sequence for the estimate (width is computed driver-side
    on both paths).  Larger tables run the window + one join per p."""
    from dataclass_array_spark.core.table import collect_bounded

    nodes = _non_null_keys(nodes, group_cols)
    rows = collect_bounded(nodes)
    if rows is not None:
        import math

        import pyspark.sql.types as T

        by_g: dict = {}
        for r in rows:
            by_g.setdefault(tuple(r[c] for c in group_cols), []).append(
                (r["maxb"], r["lvl"], r["cnt"])
            )
        out_rows = []
        for gkey, ns in by_g.items():
            ns.sort()
            n = sum(c for _, _, c in ns)
            ests = []
            for p in ps:
                rank = int(math.ceil(float(p) * float(n)))
                cum = 0
                for maxb, _lvl, c in ns:
                    cum += c
                    if cum >= rank:
                        ests.append(float(lo) + (float(maxb) + 0.5) * width)
                        break
                else:
                    break  # no qualifying node: the inner join drops the group
            if len(ests) == len(ps):
                out_rows.append((*gkey, n, *ests))
        schema = T.StructType(
            [nodes.schema[c] for c in group_cols]
            + [T.StructField("n", T.LongType(), True)]
            + [T.StructField(lb, T.DoubleType(), True) for lb in labels]
        )
        return nodes.sparkSession.createDataFrame(out_rows, schema)
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("maxb", "lvl")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = nodes.groupBy(*group_cols).agg(F.sum("cnt").cast("long").alias("n"))
    j = _gjoin(nodes.withColumn("cum", F.sum("cnt").over(w)), tot, group_cols)
    out = tot
    for p, label in zip(ps, labels):
        picked = (
            j.filter(
                F.col("cum")
                >= F.ceil(F.lit(float(p)) * F.col("n").cast("double")).cast("long")
            )
            .groupBy(*group_cols)
            .agg(F.min(F.struct("maxb", "lvl")).alias("__pick"))
        )
        est = (
            F.lit(float(lo))
            + (F.col("__pick.maxb").cast("double") + F.lit(0.5)) * F.lit(width)
        ).alias(label)
        out = _gjoin(out, picked.select(*group_cols, est), group_cols)
    return out


def qdigest_quantiles(
    digest: DataFrame,
    group_cols: "list[str]",
    ps: "list[float]",
    lo: float,
    hi: float,
    bits: int = 12,
) -> DataFrame:
    """Quantile estimates from the digest: for each p, scan nodes in
    (maxbucket, lvl) order and report the first node whose cumulative
    count reaches rank ceil(p·n); the answer value is the midpoint of
    the node's LAST bucket (the q-digest upper-bound convention, the
    hist_quantiles presentation).  Output (group..., n, p{p}_est...).
    NULL-key groups are dropped, as the oracle's equi-join drops them.
    Label-collision validation as in hist_quantiles; the scan itself
    is :func:`_quantile_scan`."""
    labels = [f"p{int(p * 100)}_est" for p in ps]
    if len(set(labels)) != len(labels):
        raise ValueError(
            f"qdigest_quantiles: ps produce colliding column labels {labels}"
        )
    width = (float(hi) - float(lo)) / float(1 << int(bits))
    # shiftleft needs F.expr for a COLUMN bit count (python API takes a
    # literal only — the sketch.py HLL lesson)
    maxb = (
        (F.col("id") + 1)
        * F.expr("shiftleft(CAST(1 AS BIGINT), CAST(lvl AS INT))")
        - 1
    ).cast("long")
    nodes = digest.select(*group_cols, maxb.alias("maxb"), "lvl", "cnt")
    return _quantile_scan(nodes, group_cols, ps, labels, lo, width)


# ----------------------------------------------------------- oracle
def qdigest_sql_ctes(
    src: str,
    group_cols: "list[str]",
    value_expr: str,
    bits: int,
    k: int,
    out: str = "digest",
) -> str:
    """CTE chain: ``{out}(group..., lvl, id, cnt)`` mirrors
    qdigest_build over ``{src}`` with bounds from CTE ``bnd(lo, hi)``
    (caller supplies bnd).  Fixed ``bits`` rounds, MATERIALIZED."""
    gc = ", ".join(group_cols)
    gq = (gc + ", ") if gc else ""
    nb = 1 << int(bits)
    bucket = (
        f"LEAST({nb - 1}, GREATEST(0, CAST(FLOOR(({value_expr} - b.lo) * "
        f"{float(nb)!r} / (b.hi - b.lo)) AS BIGINT)))"
    )
    ctes = [
        f"""qd_cur0 AS MATERIALIZED (
  SELECT {gq}{bucket} AS id, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM {src} CROSS JOIN bnd b
  GROUP BY {gq}{bucket}
)""",
        f"""qd_tot AS MATERIALIZED (
  SELECT {gq}CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(FLOOR(SUM(cnt) / {int(k)}) AS BIGINT) AS t
  FROM qd_cur0 GROUP BY {gc if gc else 'ALL'}
)""",
    ]
    on = (
        " AND ".join(f"g.{c} = t.{c}" for c in group_cols)
        if group_cols
        else "TRUE"
    )
    on_c = (
        " AND ".join(f"c.{c} = g.{c}" for c in group_cols)
        if group_cols
        else "TRUE"
    )
    gsel = lambda a: (", ".join(f"{a}.{c}" for c in group_cols) + ", ") if gc else ""
    for lvl in range(int(bits)):
        ctes.append(f"""qd_g{lvl} AS MATERIALIZED (
  SELECT {gsel('g')}g.pid, g.s, t.t
  FROM (
    SELECT {gq}CAST(FLOOR(id / 2) AS BIGINT) AS pid, CAST(SUM(cnt) AS BIGINT) AS s
    FROM qd_cur{lvl} GROUP BY {gq}CAST(FLOOR(id / 2) AS BIGINT)
  ) g JOIN qd_tot t ON {on}
)""")
        ctes.append(f"""qd_emit{lvl} AS MATERIALIZED (
  SELECT {gsel('c')}CAST({lvl} AS BIGINT) AS lvl, c.id, c.cnt
  FROM qd_cur{lvl} c
  JOIN qd_g{lvl} g ON {on_c} AND CAST(FLOOR(c.id / 2) AS BIGINT) = g.pid
  WHERE g.s > g.t
)""")
        ctes.append(f"""qd_cur{lvl + 1} AS MATERIALIZED (
  SELECT {gsel('g')}g.pid AS id, g.s AS cnt
  FROM qd_g{lvl} g WHERE g.s <= g.t
)""")
    union = "\nUNION ALL\n".join(
        [f"SELECT * FROM qd_emit{lvl}" for lvl in range(int(bits))]
        + [
            f"SELECT {gq}CAST({int(bits)} AS BIGINT) AS lvl, id, cnt "
            f"FROM qd_cur{int(bits)}"
        ]
    )
    ctes.append(f"{out} AS MATERIALIZED (\n{union}\n)")
    return ",\n".join(ctes)


def qdigest_quantiles_sql(
    group_cols: "list[str]", ps: "list[float]", bits: int, digest: str = "digest"
) -> str:
    """Final SELECT mirroring qdigest_quantiles over ``{digest}`` (and
    CTE ``bnd(lo, hi)``): (group..., n, p{p}_est...)."""
    gc = ", ".join(group_cols)
    gq = (gc + ", ") if gc else ""
    nb = 1 << int(bits)
    on = lambda a, b: (
        " AND ".join(f"{a}.{c} = {b}.{c}" for c in group_cols)
        if group_cols
        else "TRUE"
    )
    picks = []
    for p in ps:
        tag = f"p{int(p * 100)}_est"
        picks.append(f"""
, qr_{tag} AS MATERIALIZED (
  SELECT {gq}MIN(struct_pack(maxb := maxb, lvl := lvl)) AS pick
  FROM qd_cum
  WHERE cum >= CAST(CEIL({float(p)!r} * CAST(n AS DOUBLE)) AS BIGINT)
  GROUP BY {gc if gc else 'ALL'}
), qv_{tag} AS MATERIALIZED (
  SELECT {(', '.join('r.' + c for c in group_cols) + ',') if gc else ''}
         b.lo + (CAST(r.pick['maxb'] AS DOUBLE) + 0.5)
           * ((b.hi - b.lo) / {float(nb)!r}) AS {tag}
  FROM qr_{tag} r CROSS JOIN bnd b
)""")
    sel = ", ".join(f"qv_p{int(p * 100)}_est.p{int(p * 100)}_est" for p in ps)
    joins = " ".join(
        f"JOIN qv_p{int(p * 100)}_est ON {on('qv_p' + str(int(p * 100)) + '_est', 'qt')}"
        for p in ps
    )
    return f"""qd_maxb AS MATERIALIZED (
  SELECT {gq}lvl, id, cnt,
         CAST((id + 1) * (CAST(1 AS BIGINT) << CAST(lvl AS INTEGER)) - 1 AS BIGINT) AS maxb
  FROM {digest}
),
qt AS MATERIALIZED (
  SELECT {gq}CAST(SUM(cnt) AS BIGINT) AS n FROM {digest}
  GROUP BY {gc if gc else 'ALL'}
),
qd_cum AS MATERIALIZED (
  SELECT m.*, qt.n,
         SUM(m.cnt) OVER (PARTITION BY {', '.join('m.' + c for c in group_cols) if gc else '1'}
                          ORDER BY m.maxb, m.lvl) AS cum
  FROM qd_maxb m JOIN qt ON {on('m', 'qt')}
){''.join(picks)}
, qd_result AS MATERIALIZED (
  SELECT {(', '.join('qt.' + c for c in group_cols) + ',') if gc else ''} qt.n, {sel}
  FROM qt {joins}
)
SELECT * FROM qd_result"""
