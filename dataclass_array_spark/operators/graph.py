"""Iterative graph algorithms without GraphFrames: connected components
by min-label propagation — the canonical way to turn near-duplicate
PAIRS into duplicate CLUSTERS (transitive closure) for dedup.

Driver-side convergence loop of joins; each iteration is one shuffle on
the node id.  Iteration count is O(log(diameter)) with the large-star
contraction below; dup clusters have tiny diameters, so 3-5 iterations
cover real corpora.  At 100 TB: localCheckpoint each iteration (before
the convergence count, so count + next iteration share one
materialization) to cut the growing lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    pin: str = "local",
) -> DataFrame:
    """→ (node, component) where component = min node id reachable.

    Min-label propagation: every node repeatedly adopts the smallest
    label among itself and its neighbors until no label changes.

    ``pin`` selects how the per-iteration materializations are pinned:
    ``"local"`` (executor-memory localCheckpoint — fast, but an
    executor loss mid-loop kills the job because the truncated lineage
    cannot recompute) vs ``"reliable"`` (checkpoint dir — survives
    executor loss; the right mode for long 100 TB dedup runs).  See
    :func:`~dataclass_array_spark.core.table.pin_materialization`.
    """
    from dataclass_array_spark.core.table import pin_materialization

    sym = pin_materialization(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        # materialize ONCE, HASH-PARTITIONED ON THE JOIN KEY (round-15):
        # every iteration joins labels on sym.v, and an unkeyed pin made
        # the (possibly huge) edge table re-shuffle by v EVERY iteration;
        # pinned on v the edge side never moves again — only label-sized
        # data shuffles per round.  The pin also keeps the (possibly
        # expensive) upstream lineage — e.g. a whole MinHash pipeline —
        # from re-executing per iteration.
        .repartition("v"),
        pin,
    )
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    # The cheap convergence check below sums comp as decimal(38,0) —
    # exact ONLY for integral ids.  A string id casts to NULL (sum
    # always NULL: the early break would never fire and the loop would
    # silently run all max_iter rounds) and a fractional double could
    # round two distinct labelings to equal sums (silently WRONG).
    # Gate on the dtype and fall back to the exact join-and-count
    # change detection for everything else.
    integral_ids = dict(labels.dtypes)["comp"] in (
        "tinyint", "smallint", "int", "bigint"
    )
    def _step(lbls):
        neigh_min = (
            sym.join(lbls, sym.v == lbls.node)
            .groupBy(F.col("u").alias("node2"))
            .agg(F.min("comp").alias("neigh_comp"))
        )
        return (
            lbls.join(neigh_min, lbls.node == F.col("node2"), "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("neigh_comp"), F.col("comp"))
                ).alias("comp"),
            )
        )

    # NOTE (round 16, measured): batching TWO propagation steps per
    # pin + convergence check (same fixpoint — labels are monotone
    # non-increasing) was tried and made the gates WORSE (def jobs
    # 30→35, stages 98→110 on dedup_components): AQE already splits
    # the per-round pipeline into one job per exchange, so the driver
    # round-trips were not the cost, and the up-to-two wasted steps
    # past an odd-step convergence are full label-sized shuffles —
    # exactly what would dominate at 100 TB.  One step per check stays.
    prev_sum = None
    for i in range(max_iter):
        new_labels = _step(labels)
        # checkpoint BEFORE the convergence check: the check and the
        # next iteration then share one materialization instead of
        # executing the join/agg pipeline twice per iteration
        new_labels = pin_materialization(new_labels, pin)
        if integral_ids:
            # Convergence via the MONOTONE label sum (round-15):
            # min-label propagation only ever DECREASES a label, so the
            # exact decimal Σcomp is unchanged iff no label changed — a
            # one-job scan of the just-pinned frame replaces the old
            # join-and-count pass (one extra shuffle + pass per
            # iteration, gone).
            cur_sum = new_labels.agg(
                F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
            ).collect()[0]["s"]
            converged = prev_sum is not None and cur_sum == prev_sum
            prev_sum = cur_sum
        else:
            # non-integral ids (strings, floats): exact change count —
            # both frames are pinned, so this joins two materialized
            # label tables, not the full lineage
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.comp") != F.col("o.comp"))
                .limit(1)
                .count()
            )
            converged = changed == 0
        labels = new_labels
        if converged:
            break
    return labels


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
    fold_buckets: "int | None" = None,
    exact: bool = True,
    pin: str = "local",
) -> DataFrame:
    """Weighted PageRank over an edge list (multi-edges become integer
    weights): fixed ``iters`` power-iteration rounds of
    ``r'(v) = (1-d)/N + d · Σ_{u→v} r(u)·w_uv / W_u``.
    Returns ``(node, r)``.

    Cross-engine exactness: the per-node incoming sum is a SORTED
    left-to-right double fold (``sort_array(collect_list)`` by source
    id → ``F.aggregate``; ``list(c ORDER BY u)`` → ``list_reduce`` in
    the oracle) — deterministic float addition, no decimal casts of
    computed doubles (Spark's double→decimal cast is string-based and
    diverges from DuckDB's on non-representable values — see
    PERF.md).  All literals evaluate as doubles on both sides.

    Scale shape: each iteration is one equi-join of the rank vector to
    the (u, v, w, W) edge frame on ``u`` plus one aggregation shuffled
    on ``v`` — the standard distributed power iteration.  Three
    deterministic→cheap choices for the per-node incoming sum:

    - ``fold_buckets=None, exact=True`` (flat fold): one ordered fold
      per destination — a hub's whole in-neighborhood becomes ONE
      array row, the classic ``collect_list`` skew hazard at power-law
      in-degrees.  Fine on bounded-degree graphs.
    - ``fold_buckets=B, exact=True`` (two-level fold — the 100 TB
      deterministic path): contributions first fold per
      ``(v, pmod(u, B))`` sub-bucket (ordered by ``u``), then the B
      partials fold in bucket order.  Every array is bounded —
      ~in-degree/B at level 1 and ≤ B at level 2 — while float
      addition stays fully deterministic for a given B.  The
      association order differs from the flat fold, so the oracle
      must mirror the SAME bucketing (``pagerank_sql`` does).
    - ``exact=False``: plain ``F.sum`` — no arrays at all, the
      cheapest production mode; partial-aggregation order makes it
      run-to-run float-stable only per plan, so it cannot back a
      value-exact oracle (differential-tested against the folds to
      ~1e-12 relative instead).

    Dangling nodes (no out-edges) leak their mass, the simple standard
    variant; both engines implement the same choice.

    Round 16: the loop frames are PINNED like :func:`connected_components`
    / :func:`label_propagation` — ``nodes`` and the ``(u, v, w, wtot)``
    edge frame once (the edge frame repartitioned on ``u``, the join key
    every iteration probes, so each round re-shuffles only the
    node-sized rank vector), and the rank vector per iteration so the
    final plan never re-expands earlier rounds (unpinned, iteration i's
    lineage re-derived ``nodes``/``wn`` — and with them the upstream
    edge builder — ~2·iters+1 times).  Pure materialization pinning:
    same addends, same fold order, bit-identical ranks.

    Lifetime hazard: the returned frame reads those pins, and a pin's
    lineage is truncated.  Run its action before any
    :func:`~dataclass_array_spark.core.table.release_pins` call; a
    release in between makes the action fail with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (see ``release_pins``).  Scoped
    pin lifetimes are ROADMAP item 8.
    """
    from dataclass_array_spark.core.table import pin_materialization

    u, v = F.col(src).alias("node"), F.col(dst).alias("node")
    nodes = pin_materialization(
        edges.select(u).union(edges.select(v)).distinct(), pin
    )
    n = nodes.count()
    if n == 0:
        raise ValueError("pagerank: no edges")
    w = edges.groupBy(F.col(src).alias("u"), F.col(dst).alias("v")).agg(
        F.count("*").alias("w")
    )
    outw = w.groupBy("u").agg(F.sum("w").alias("wtot"))
    wn = pin_materialization(w.join(outw, on="u").repartition("u"), pin)
    comp = 1.0 - damping

    def _ordered_fold(key_col: str, val_col: str):
        return F.aggregate(
            F.sort_array(
                F.collect_list(F.struct(F.col(key_col), F.col(val_col)))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x[val_col],
        )

    ranks = nodes.select("node", (F.lit(1.0) / F.lit(n)).alias("r"))
    for it in range(iters):
        contribs = wn.join(ranks, wn["u"] == ranks["node"]).select(
            "v", "u", ((F.col("r") * F.col("w")) / F.col("wtot")).alias("c")
        )
        if not exact:
            sums = contribs.groupBy("v").agg(F.sum("c").alias("s"))
        elif fold_buckets is not None:
            B = int(fold_buckets)
            partials = contribs.groupBy(
                "v", F.pmod(F.col("u"), F.lit(B)).alias("bkt")
            ).agg(_ordered_fold("u", "c").alias("p"))
            sums = partials.groupBy("v").agg(_ordered_fold("bkt", "p").alias("s"))
        else:
            sums = contribs.groupBy("v").agg(_ordered_fold("u", "c").alias("s"))
        ranks = nodes.join(sums, nodes["node"] == sums["v"], "left").select(
            "node",
            (
                F.lit(comp) / F.lit(n)
                + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("r"),
        )
        if it < iters - 1:
            # node-sized; the last iteration stays lazy (its lineage is
            # one join over already-pinned frames)
            ranks = pin_materialization(ranks, pin)
    return ranks


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 4,
    pin: str = "local",
) -> DataFrame:
    """Community detection by synchronous label propagation over the
    undirected simple graph: every node starts as its own label and,
    each round, adopts the most frequent label among its neighbors —
    ties broken toward the SMALLEST label, so the whole run is
    deterministic (classic LPA is random-order; this is the
    reproducible variant a data pipeline needs).  Fixed ``rounds``
    (labels can oscillate on bipartite structures, so a fixed horizon
    is the honest contract; 3-5 rounds dominate real clustering).
    Returns ``(node, label)``.

    Scale shape per round: one equi-join of the label vector to the
    symmetric edge list on the neighbor id, one (node, label) count
    aggregation, one per-node argmax — all shuffled on node ids,
    map-side combined; per-iteration pin keeps lineage flat (the
    :func:`connected_components` pattern).
    """
    from dataclass_array_spark.core.table import pin_materialization

    sym = pin_materialization(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .unionByName(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        .distinct(),
        pin,
    )
    labels = sym.select(F.col("u").alias("node")).distinct().withColumn(
        "lbl", F.col("node")
    )
    for _ in range(int(rounds)):
        neigh = sym.join(labels, sym.v == labels.node).select("u", "lbl")
        counts = neigh.groupBy("u", "lbl").agg(F.count("*").alias("c"))
        # argmax with smallest-label ties: max(struct(c, -lbl))
        best = counts.groupBy("u").agg(
            F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("neg"))).alias("b")
        )
        labels = pin_materialization(
            best.select(
                F.col("u").alias("node"), (-F.col("b.neg")).alias("lbl")
            ),
            pin,
        )
    return labels.orderBy("node")


def label_propagation_sql(edges_cte: str, rounds: int = 4) -> str:
    """DuckDB replay of :func:`label_propagation` — ``rounds`` unrolled
    MATERIALIZED rounds (each label frame is referenced by the next
    round's join; default CTE inlining would go exponential).
    ``edges_cte`` must yield canonical distinct undirected ``(u, v)``
    with ``u != v``.  Ends at ``SELECT node, lbl``."""
    parts = [f"""WITH und AS MATERIALIZED ({edges_cte}),
sym AS MATERIALIZED (
  SELECT u, v FROM und UNION SELECT v AS u, u AS v FROM und
), l0 AS MATERIALIZED (
  SELECT node, node AS lbl FROM (SELECT DISTINCT u AS node FROM sym)
)"""]
    for i in range(int(rounds)):
        parts.append(f""", c{i} AS MATERIALIZED (
  SELECT e.u, l.lbl, COUNT(*) AS c
  FROM sym e JOIN l{i} l ON l.node = e.v
  GROUP BY e.u, l.lbl
), l{i + 1} AS MATERIALIZED (
  SELECT u AS node, lbl FROM (
    SELECT u, lbl, ROW_NUMBER() OVER (PARTITION BY u ORDER BY c DESC, lbl) AS rn
    FROM c{i}
  ) WHERE rn = 1
)""")
    parts.append(f"""
SELECT node, lbl FROM l{int(rounds)} ORDER BY node""")
    return "".join(parts)


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    pin: str = "local",
) -> DataFrame:
    """The k-core of the undirected simple graph (multi-edges collapse,
    self-loops drop): iteratively peel nodes of degree < k until every
    remaining node has degree ≥ k.  Returns ``(node, deg)`` with
    ``deg`` the node's degree INSIDE the core (all ≥ k).

    Scale shape: each peel round is one degree aggregation (shuffle on
    the node id, map-side combined) + two semi-joins filtering the
    edge list to surviving endpoints — never an adjacency
    materialization.  The edge frame is pinned per round (the
    :func:`connected_components` pattern) so lineage stays flat;
    convergence needs at most O(peeling depth) rounds, which is tiny
    on real graphs (the degeneracy ordering peels in waves).
    """
    from dataclass_array_spark.core.table import pin_materialization

    und = pin_materialization(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct(),
        pin,
    )
    cur = und
    for _ in range(max_iter):
        deg = (
            cur.select(F.col("u").alias("node"))
            .unionAll(cur.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        nxt = pin_materialization(
            cur.join(keep.withColumnRenamed("node", "u"), on="u", how="semi")
            .join(keep.withColumnRenamed("node", "v"), on="v", how="semi")
            .select("u", "v"),
            pin,
        )
        removed = cur.count() - nxt.count()
        cur = nxt
        if removed == 0:
            break
    return (
        cur.select(F.col("u").alias("node"))
        .unionAll(cur.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
        .orderBy("node")
    )


def k_core_sql(edges_cte: str, k: int, rounds: int = 12) -> str:
    """DuckDB replay of :func:`k_core` as ``rounds`` unconditional peel
    rounds (a converged core is a fixed point, so extra rounds are
    no-ops; the Spark side iterates to convergence and the gate's
    fixture converges well within ``rounds``).  ``edges_cte`` must
    yield ``(u, v)`` canonical distinct undirected edges.  Ends at
    ``SELECT node, deg`` of the core.  Every per-round CTE is marked
    ``AS MATERIALIZED``: each ``e{{i}}`` is referenced twice (degree
    count + next round), so DuckDB's default CTE inlining would expand
    the chain into 2^rounds scans of the base table."""
    parts = [f"WITH e0 AS MATERIALIZED ({edges_cte})"]
    for i in range(rounds):
        parts.append(f""", d{i} AS MATERIALIZED (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT u AS node FROM e{i} UNION ALL SELECT v FROM e{i}
  ) GROUP BY node
), s{i} AS MATERIALIZED (
  SELECT node FROM d{i} WHERE deg >= {int(k)}
), e{i + 1} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{i} e
  JOIN s{i} a ON a.node = e.u
  JOIN s{i} b ON b.node = e.v
)""")
    parts.append(f"""
SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
  SELECT u AS node FROM e{rounds} UNION ALL SELECT v FROM e{rounds}
) GROUP BY node ORDER BY node""")
    return "".join(parts)


def _oriented_edges(
    edges: DataFrame, src: str, dst: str, orient: str
) -> DataFrame:
    """Canonical distinct simple edges, oriented low→high under the
    chosen key — ``(a, b, kb)`` where ``kb`` is the orientation key of
    the head (used to order a wedge's two out-neighbors).

    ``orient="id"``: key = node id.  ``orient="degree"``: key =
    ``(degree, id)`` over the undirected simple graph — every edge
    points toward its higher-degree endpoint, so a node's out-degree
    is O(√m) on ANY graph and hub wedge fan-out collapses (a pure-star
    hub has out-degree ≤ 1 regardless of its id).
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )
    if orient == "id":
        return und.select(
            F.col("u").alias("a"), F.col("v").alias("b"),
            F.struct(F.col("v").alias("k")).alias("kb"),
        )
    if orient != "degree":
        raise ValueError(f"triangle_counts: unknown orient {orient!r}")
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    keyed = (
        und.join(deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), on="u")
        .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), on="v")
    )
    ku = F.struct(F.col("du").alias("d"), F.col("u").alias("n"))
    kv = F.struct(F.col("dv").alias("d"), F.col("v").alias("n"))
    return keyed.select(
        F.when(ku < kv, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(ku < kv, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(ku < kv, kv).otherwise(ku).alias("kb"),
    )


def _wedges(oriented: DataFrame) -> DataFrame:
    """Open wedges ``(x, y, z)``: two oriented edges sharing source
    ``x`` with ``key(y) < key(z)`` — each candidate triangle appears
    exactly once, rooted at its lowest-key vertex."""
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    return e1.join(
        e2,
        (F.col("e1.a") == F.col("e2.a")) & (F.col("e1.kb") < F.col("e2.kb")),
    ).select(
        F.col("e1.a").alias("x"), F.col("e1.b").alias("y"),
        F.col("e2.b").alias("z"),
    )


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    orient: str = "degree",
) -> DataFrame:
    """Per-node triangle counts over the undirected simple graph induced
    by the edge list (multi-edges collapse, self-loops drop).
    Returns ``(node, n_tri)`` for every node in at least one triangle.

    Scale shape: edges are oriented low→high under the ``orient`` key
    and each triangle is enumerated exactly once via two equi-joins —
    edges sharing a source form wedges ``(x, y, z)`` with
    ``key(y) < key(z)``, and the oriented edge ``(y, z)`` closes them.
    Both joins are hash-partitioned on a vertex id; no cross join, no
    per-node adjacency materialization.  ``orient="degree"`` (default)
    points every edge at its higher-``(degree, id)`` endpoint — the
    classic hub refinement: out-degrees are O(√m), so a hub's wedge
    fan-out is bounded no matter its in-degree (a pure star generates
    ZERO wedges instead of Θ(leaves²)).  The triangle SET is
    orientation-invariant, so both modes return identical counts and
    the id-orientation oracle stays valid; ``orient="id"`` remains for
    the differential test.
    """
    oriented = _oriented_edges(edges, src, dst, orient)
    # a wedge (x,y,z) has key(y) < key(z), so its closing undirected
    # edge {y,z} is stored oriented exactly as (y, z)
    e3 = oriented.alias("e3")
    tri = _wedges(oriented).join(
        e3,
        (F.col("y") == F.col("e3.a")) & (F.col("z") == F.col("e3.b")),
    ).select("x", "y", "z")
    nodes = tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
    return (
        nodes.groupBy("node")
        .agg(F.count("*").cast("long").alias("n_tri"))
        .orderBy("node")
    )
