"""Distributed k-means over embedding columns (the clustering stage of
SemDeDup-style semantic dedup and domain discovery).

Plan shape per iteration (MLlib-style, but DataFrame-native):
- **Assignment is a pure column expression**: the k centroids (k x dim
  doubles — driver-tiny) are inlined as literals, the arg-min over
  ``array_min(array(struct(dist_i, i)...))`` runs inside the scan stage
  with NO join and NO shuffle.
- **Update is one aggregation**: ``posexplode`` the vector, group by
  (cluster, dim), exact decimal sums -> per-dim mean.  Shuffle volume is
  k x dim rows per partition (map-side combined), independent of corpus
  size.
- The only driver materialization per iteration is k x dim means —
  the standard k-means driver loop; corpus rows never leave executors.

Cross-engine exactness (matches the DuckDB oracle bit-for-bit):
- distances are sequential left-to-right double folds
  (``F.aggregate`` = ``list_reduce``);
- per-dim means use DECIMAL(38,9) sums, converted via the floor-split
  (``floor(s)::double + (s-floor(s))::double``) so decimal->double is
  single-rounded in both engines even past 2^53 scaled units.  The
  double→decimal cast itself must be mirrored through a STRING
  round-trip on the DuckDB side (``CAST(CAST(x AS VARCHAR) AS
  DECIMAL(38,9))``): Spark's cast rounds the SHORTEST decimal string
  (``BigDecimal.valueOf``) HALF_UP, while DuckDB's direct double cast
  rounds the exact binary value HALF_EVEN — the round-9 sf1 replay
  caught the corpus value 0.1494140625 (= 153/1024, an exact scale-9
  tie) going to ...062 in DuckDB and ...063 in Spark, drifting every
  downstream centroid by 5e-10;
- arg-min ties break on the lower cluster id (struct ordering here,
  ``ORDER BY dist, cid`` in the oracle).
"""

from __future__ import annotations

from typing import List, Tuple

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataclass_array_spark.core.schema import ArraySpec
from dataclass_array_spark.core.table import (
    arrow_table,
    np_column,
    np_columns,
    np_udf,
    pin_materialization,
    scalar_spec,
)

_DEC = "decimal(38,9)"


def _sq_dist(vec: Column, centroid: List[float]) -> Column:
    """Sequential-fold squared L2 distance to a literal centroid."""
    c = F.array(*[F.lit(float(x)) for x in centroid])
    diffs = F.zip_with(vec, c, lambda x, y: (x - y) * (x - y))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def _argmin_cluster(vec: Column, centroids: List[List[float]]) -> Column:
    """struct(cluster, dist): nearest centroid, lower id wins ties."""
    cands = F.array(
        *[
            F.named_struct(
                F.lit("dist"), _sq_dist(vec, c), F.lit("cid"), F.lit(i)
            )
            for i, c in enumerate(centroids)
        ]
    )
    best = F.array_min(cands)
    return F.named_struct(
        F.lit("cluster"), best.cid.cast("long"), F.lit("dist"), best.dist
    )


# Above this many k*dim centroid literals the unrolled expression argmin is
# replaced by the Arrow-batched numpy argmin: the literal tree's ANALYSIS +
# CODEGEN cost grows with k*dim (measured 45 s for 3 iterations at k=79,
# dim=64 — execution itself was 0.3 s), while the UDF plan is O(1) size.
# Below it, the unrolled expression JITs into the scan stage and beats the
# Arrow round-trip (PERF.md round-2 note).  Both paths are bit-identical
# (same left-to-right fold order, same first-min tie-break) —
# tests/test_operators.py::test_kmeans_udf_path_matches_expression_path.
# Crossover re-measured round 7 at sf0.1 with per-gate isolated warm
# runs (the round-2 note turned out to be ordering noise): k=32·dim=64
# = 2048 literals: 18.8 s expression vs 7.8 s Arrow (semantic_dedup_auto);
# k=8·dim=64 = 512: 8.2-9.3 s expression vs 6.0-6.9 s Arrow
# (semantic_dedup_embeddings), 4x warm wins for Arrow on
# embedding_kmeans_clusters too — the old 4096 cutoff mispriced
# plan-compile, which is paid PER Lloyd iteration.  256 keeps only
# genuinely tiny centroid sets (unit fixtures, k·dim ≤ a few dozen) on
# the in-scan expression.
_ARGMIN_UDF_THRESHOLD = 256


def _argmin_udf(centroids: List[List[float]]):
    """Arrow-batched numpy argmin over the (driver-tiny, closure-captured)
    centroid matrix.  Bit-exact replica of :func:`_argmin_cluster`:

    - ``acc += (v_d - c_d)^2`` accumulates dim-major, the SAME double
      operation sequence as the sequential ``F.aggregate`` fold;
    - ``np.argmin`` returns the FIRST minimum — the lower-cid tie-break.

    Still zero-shuffle: an ArrowEvalPython node inside the scan stage;
    the centroids ship once per executor in the UDF closure (at k that
    matters this is the moral equivalent of a broadcast variable).
    """
    C = np.asarray(centroids, dtype=np.float64)  # k x dim

    @np_udf("struct<cluster: bigint, dist: double>", ArraySpec(np.float64, (C.shape[1],)))
    def assign(V: np.ndarray) -> dict:
        acc = np.zeros((V.shape[0], C.shape[0]), dtype=np.float64)
        for d in range(C.shape[1]):
            diff = V[:, d, None] - C[None, :, d]
            acc += diff * diff
        cid = np.argmin(acc, axis=1)
        return {"cluster": cid.astype(np.int64), "dist": acc[np.arange(V.shape[0]), cid]}

    return assign


def _argmin(vec: Column, centroids: List[List[float]]) -> Column:
    """Dispatch between the unrolled expression argmin (small k: JITs
    into the scan) and the Arrow numpy argmin (large k: O(1) plan size)."""
    if len(centroids) * len(centroids[0]) <= _ARGMIN_UDF_THRESHOLD:
        return _argmin_cluster(vec, centroids)
    return _argmin_udf(centroids)(vec)


def _mean_from_decimal(s, n: int) -> float:
    """Driver-side replica of the engine floor-split: exact Decimal sum
    -> floor part + frac part, each correctly rounded to double, then
    double division by the count.  ``float(Decimal)`` is correctly
    rounded in CPython, so this matches the Spark/DuckDB cast chain
    bit-for-bit."""
    fl = s.to_integral_value(rounding="ROUND_FLOOR")
    return (float(fl) + float(s - fl)) / n


# Sampled training at or below this many rows runs Lloyd's ON THE
# DRIVER over the one collected sample (65536×64 doubles = 32 MB —
# driver metadata) instead of scheduling iters tiny Spark jobs against
# the cached subset: the cluster does ONE TakeOrderedAndProject job
# total.  The driver loop is a bit-exact replica of the distributed
# path (same dim-major double accumulation, first-min ties, and the
# same shortest-string double→DECIMAL(38,9) HALF_UP cast chain —
# CPython ``repr`` and the JVM's ``Double.toString`` both emit the
# shortest round-tripping decimal string), differential-tested in
# tests/test_operators.py::test_kmeans_driver_path_matches_distributed
# and proven against DuckDB by every sampled-training oracle gate.
_DRIVER_TRAIN_LIMIT = 65536

_DEC_Q = None  # lazy Decimal quantum


def _collect_train_sample(
    vecs: DataFrame, id_col: str, train_limit: "int | None", who: str
) -> "List[List[float]] | None":
    """The ONE driver-dispatch predicate + sample collection shared by
    every sampled-training consumer (:func:`kmeans_fit`,
    ``pq.pq_fit``): when sampled training is requested AND the sample
    is driver-bounded (``train_limit <= _DRIVER_TRAIN_LIMIT``), run one
    ``TakeOrderedAndProject`` job and return the ``train_limit``
    LOWEST-id vectors in id order; otherwise ``None`` (the caller keeps
    the distributed path).  Centralized so the dispatch condition and
    the sample semantics cannot drift between consumers."""
    if train_limit is None or train_limit > _DRIVER_TRAIN_LIMIT:
        return None
    rows = [
        list(r["v"])
        for r in vecs.orderBy(id_col).limit(int(train_limit)).collect()
    ]
    if not rows:
        raise ValueError(f"{who}: input has no rows")
    return rows


def _kmeans_fit_driver(
    vlist: List[List[float]], k: int, iters: int
) -> List[List[float]]:
    """Driver-side Lloyd's over an id-ordered sample (see
    ``_DRIVER_TRAIN_LIMIT``).

    Bit-exactness note: the double→DECIMAL(38,9) replica below leans on
    CPython ``repr`` and the JVM's ``Double.toString`` both emitting the
    SHORTEST round-tripping decimal string (Spark's cast goes through
    ``BigDecimal.valueOf(double)``).  That is guaranteed on JDK ≥ 19
    (Ryu, JDK-4511638); earlier JDKs may print extra digits for a
    measure-zero set of doubles sitting exactly on a half-ulp boundary,
    where the HALF_UP quantize could round differently.  This repo pins
    Java 17 in CI and the differential tests + every sampled-training
    oracle gate cover the fixture data; a JDK downgrade below 17 or a
    fixture with adversarial half-boundary doubles should re-run
    ``test_kmeans_driver_path_matches_distributed`` first."""
    from decimal import ROUND_HALF_UP, Decimal

    global _DEC_Q
    if _DEC_Q is None:
        _DEC_Q = Decimal(1).scaleb(-9)
    V = np.asarray(vlist, dtype=np.float64)
    n, dim = V.shape
    k = min(k, n)
    cents = [list(map(float, row)) for row in V[:k]]
    # the engine casts each double to DECIMAL(38,9) BEFORE summing;
    # precompute the quantized decimals once (exact addition after)
    D = [
        [Decimal(repr(float(x))).quantize(_DEC_Q, ROUND_HALF_UP) for x in row]
        for row in vlist
    ]
    for _ in range(iters):
        C = np.asarray(cents, dtype=np.float64)
        acc = np.zeros((n, k), dtype=np.float64)
        for d in range(dim):
            diff = V[:, d, None] - C[None, :, d]
            acc += diff * diff
        cid = np.argmin(acc, axis=1)  # first-min = lower cluster id
        for i in range(k):
            members = [D[r] for r in range(n) if cid[r] == i]
            if not members:
                continue  # empty cluster keeps its centroid
            cents[i] = [
                _mean_from_decimal(
                    sum((row[d] for row in members), Decimal(0)), len(members)
                )
                for d in range(dim)
            ]
    return cents


def kmeans_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 3,
    train_limit: "int | None" = None,
    _vecs: "DataFrame | None" = None,
) -> List[List[float]]:
    """Lloyd's k-means centroid training only — deterministic init
    (first k rows by id), fixed ``iters`` assignment/update rounds.
    The composition entry point for operators that need trained
    centroids without a final assignment pass (e.g.
    :func:`~dataclass_array_spark.operators.similarity.knn_join` with
    ``centroids="kmeans"``).

    ``train_limit``: train on the ``train_limit`` LOWEST-id rows only
    (a deterministic, oracle-replayable sample — the standard IVF
    recipe: centroids are k×dim doubles of metadata, so learning them
    from a bounded subset instead of ``iters`` full-corpus passes loses
    nothing at scale).  The sample is one ``TakeOrderedAndProject``
    (map-side partial top-m, single reduce) materialized ONCE and
    cached; each Lloyd round then runs over the cached m rows, so the
    corpus is scanned exactly once no matter how many iterations.  With
    ``train_limit >= n`` this degrades gracefully to full training
    (LIMIT past the row count is a no-op in Spark and DuckDB alike —
    the oracle mirrors it verbatim, ``kmeans_sql_ctes(train_limit=)``).
    ``None`` keeps full-corpus training, with the casted vecs frame
    cached across iterations when ``iters > 1``.  Keep ``train_limit``
    modest (≤ ~1M — it is a SAMPLE: ~100×k rows suffice): the top-m
    pass holds an m-sized bounded priority queue per task
    (TakeOrderedAndProject), so an absurdly large limit costs memory,
    not correctness.

    ``_vecs``: internal — a pre-built/pre-cached ``(id, v)`` frame to
    train over, letting callers (``kmeans_assign``) share one cached
    frame between training and the final assignment pass.
    """
    vecs = (
        _vecs
        if _vecs is not None
        else df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    )
    train = vecs
    if train_limit is not None:
        # sample is driver-bounded metadata: collect it once and run
        # the Lloyd rounds locally — ONE cluster job regardless of
        # iters (bit-exact replica, see _kmeans_fit_driver)
        sample = _collect_train_sample(vecs, id_col, train_limit, "kmeans_fit")
        if sample is not None:
            return _kmeans_fit_driver(sample, k, iters)
        train = vecs.orderBy(id_col).limit(int(train_limit))
    # cache whatever frame the Lloyd rounds iterate over: the sampled
    # frame always (it is re-read iters times and driver-bounded), the
    # full frame only when there is more than one pass to amortize.
    own_cache = train_limit is not None or (iters > 1 and _vecs is None)
    if own_cache:
        train = train.persist()
    try:
        centroids: List[List[float]] = [
            r["v"] for r in train.orderBy(id_col).limit(k).collect()
        ]
        if not centroids:
            raise ValueError("kmeans_fit: input has no rows")
        # clamp: fewer rows than k means fewer init centroids; the
        # empty-cluster carry below indexes centroids[i], so k must not
        # exceed what the init collect actually produced.
        k = min(k, len(centroids))
        dim = len(centroids[0])
        for _ in range(iters):
            # posexplode + ONE decimal sum grouped by (cluster, dim)
            # instead of a 64-wide decimal aggregate (round-15 measured:
            # the wide agg cost ~1.3 s/iteration at sf0.1 in pure
            # per-expression overhead — 2× the exploded form — and its
            # cold codegen 4× more).  The map-side combine still reduces
            # each partition to k*dim rows before the exchange (vs k
            # wide rows — same bytes within a small constant), and the
            # addends per (cluster, d) cell are EXACTLY the same
            # decimals in either shape, so the order-free exact sums
            # are bit-identical.
            assigned = train.select(
                _argmin(F.col("v"), centroids).cluster.alias("cluster"),
                F.posexplode("v").alias("__d", "__x"),
            )
            # plain decimal sums only — the floor-split runs on the driver
            # over k*dim rows (less codegen than 64 floor-split trees per plan)
            rows = assigned.groupBy("cluster", "__d").agg(
                F.count("*").alias("_n"),
                F.sum(F.col("__x").cast(_DEC)).alias("_s"),
            ).collect()
            acc: dict = {}
            for r in rows:
                acc.setdefault(r["cluster"], [None] * dim)[r["__d"]] = (
                    _mean_from_decimal(r["_s"], r["_n"])
                )
            by_cid = acc
            centroids = [
                by_cid.get(i, centroids[i])  # empty cluster keeps its centroid
                for i in range(k)
            ]
    finally:
        if own_cache:
            train.unpersist()
    return centroids


def kmeans_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 3,
    keep_vec: bool = False,
    train_limit: "int | None" = None,
) -> Tuple[DataFrame, List[List[float]]]:
    """Lloyd's k-means with deterministic init (first k rows by id).

    Returns ``(assignment_df, centroids)`` where the assignment has
    ``(id, cluster, dist)`` — ``dist`` the squared L2 distance to the
    final centroid.  Fixed ``iters`` assignment/update rounds (the
    :func:`kmeans_fit` loop, over the full corpus or a deterministic
    lowest-id ``train_limit`` sample), then one final assignment
    against the last centroids.  The casted ``(id, v)`` frame is built
    ONCE, cached for the duration of training when the Lloyd rounds
    re-read it, and reused by the final assignment — the corpus parquet
    is decoded once, not ``iters + 1`` times.
    """
    vecs = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    # full-corpus training re-reads vecs every Lloyd round — cache it
    # for the duration of training (sampled training caches its own
    # tiny subset inside kmeans_fit instead).  Unpersisting BEFORE the
    # final assignment is built is safe and leak-free: unpersist only
    # drops blocks, the final job recomputes from lineage — one scan,
    # which a corpus-sized output pass needs anyway.  Net scans:
    # 1 (cache fill) + 1 (final) instead of iters + 1.
    train_cache = train_limit is None and iters >= 1
    if train_cache:
        vecs = vecs.persist()
    try:
        centroids = kmeans_fit(
            df, id_col, vec_col, k=k, iters=iters,
            train_limit=train_limit, _vecs=vecs,
        )
    finally:
        if train_cache:
            vecs.unpersist()
    best = _argmin(F.col("v"), centroids)
    cols = [F.col(id_col), best.cluster.alias("cluster"), best.dist.alias("dist")]
    if keep_vec:
        cols.append(F.col("v"))
    out = vecs.select(*cols)
    return out, centroids


def kmeans_sql_ctes(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    k: "int | str" = 8,
    iters: int = 3,
    train_limit: "int | None" = None,
    prefix: str = "",
    vec_expr: "str | None" = None,
) -> str:
    """DuckDB CTE chain for the unrolled k-means (assignment -> per-dim
    mean -> centroid carry), ending at ``afinal(vec_id, cid, dist)``;
    :func:`kmeans_sql` and the semantic-dedup oracle both build on it.

    ``k`` may be a SQL scalar-subquery string (e.g. ``"(SELECT
    (COUNT(*) + 63) // 64 FROM t)"``) for data-dependent k — the oracle
    counterpart of :func:`semantic_dedup`'s ``k="auto"``; DuckDB's LIMIT
    accepts subquery expressions.

    ``train_limit`` mirrors :func:`kmeans_fit`'s sampled training: the
    Lloyd rounds (assignment + mean updates) run over ``et`` — the
    ``train_limit`` lowest-id rows — while ``afinal`` still assigns the
    FULL corpus against the trained centroids.  ``None`` keeps ``et``
    = ``e`` (full training), leaving all pre-existing oracles
    value-identical.

    ``prefix`` prepends every CTE name (``{prefix}e``, ``{prefix}c0``,
    …) so several chains can coexist in ONE ``WITH`` — the product-
    quantization oracle runs one chain per subspace.  Only the FIRST
    chain keeps the ``WITH`` keyword; callers strip it from subsequent
    chains (see ``workload.llm3._pq_sql``).  ``vec_expr`` overrides the
    default ``CAST(vec_col AS DOUBLE[])`` vector expression (e.g. a
    DuckDB list slice for a PQ subspace).

    Every CTE is ``AS MATERIALIZED`` (round 11): DuckDB 1.0 INLINES
    multiply-referenced CTEs, re-evaluating the whole upstream chain
    per reference — across the ``c{i} -> a{i}/m{i} -> c{i+1}``
    iteration ladder that recomputation compounds, and the two-level
    oracle (3 fine chains re-reading ``ge``) went from out-of-memory
    at sf1 to 13 s with materialization.  Purely physical: every CTE
    here is deterministic (all window/LIMIT orderings fully
    tie-broken), so results are value-identical."""
    p = prefix
    fold = (
        "list_reduce(list_prepend(0.0, list_transform(list_zip(e.v, c.cv), "
        "p -> (p[1]-p[2])*(p[1]-p[2]))), (acc, x) -> acc + x)"
    )

    def assign(ci: str, src: str) -> str:
        return f"""(
  SELECT vec_id, cid, dist FROM (
    SELECT vec_id, cid, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM (SELECT e.{id_col} AS vec_id, c.cid, {fold} AS dist
          FROM {src} e CROSS JOIN {ci} c)
  ) WHERE rn = 1
)"""

    if train_limit is None:
        et = f"SELECT * FROM {p}e"
    else:
        et = f"SELECT * FROM {p}e ORDER BY {id_col} LIMIT {int(train_limit)}"
    ve = vec_expr if vec_expr is not None else f"CAST({vec_col} AS DOUBLE[])"
    parts = [
        f"""WITH {p}e AS MATERIALIZED (
  SELECT {id_col}, {ve} AS v FROM {table}
), {p}et AS MATERIALIZED (
  {et}
), {p}c0 AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY {id_col}) - 1 AS cid, v AS cv
  FROM (SELECT {id_col}, v FROM {p}et ORDER BY {id_col} LIMIT {k})
)"""
    ]
    for i in range(iters):
        parts.append(
        f", {p}a{i} AS MATERIALIZED {assign(f'{p}c{i}', src=f'{p}et')}"
    )
        parts.append(
            f""", {p}m{i} AS MATERIALIZED (
  SELECT cid, list(m ORDER BY dim) AS cv FROM (
    SELECT cid, dim,
           (CAST(FLOOR(s) AS DOUBLE) + CAST(s - FLOOR(s) AS DOUBLE)) / cnt AS m
    FROM (SELECT a.cid, gs.i AS dim,
                 SUM(CAST(CAST(e.v[gs.i] AS VARCHAR) AS DECIMAL(38,9))) AS s, COUNT(*) AS cnt
          FROM {p}a{i} a JOIN {p}et e ON e.{id_col} = a.vec_id,
               generate_series(1, {dim}) gs(i)
          GROUP BY a.cid, gs.i)
  ) GROUP BY cid
), {p}c{i + 1} AS MATERIALIZED (
  SELECT c.cid, COALESCE(m.cv, c.cv) AS cv
  FROM {p}c{i} c LEFT JOIN {p}m{i} m ON m.cid = c.cid
)"""
        )
    parts.append(
        f", {p}afinal AS MATERIALIZED {assign(f'{p}c{iters}', src=f'{p}e')}"
    )
    return "".join(parts)


def kmeans_sql(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 8,
    iters: int = 3,
    train_limit: "int | None" = None,
) -> str:
    """DuckDB oracle for :func:`kmeans_assign` final assignments."""
    return (
        kmeans_sql_ctes(table, id_col, vec_col, dim, k, iters, train_limit)
        + f"""
SELECT vec_id AS {id_col}, CAST(cid AS BIGINT) AS cluster,
       CAST(FLOOR(dist * 1e9) AS BIGINT) AS dist_e9
FROM afinal ORDER BY vec_id"""
    )


# ---------------------------------------------------------------------------
# Two-level (coarse -> fine) clustering: the 100 TB path for auto-k.
#
# Single-level k="auto" sets k = ceil(n / target_cluster_size), and the k
# centroids are driver state shipped into the argmin closure — at 10^11
# docs that is ~4x10^8 centroids (~200 GB), not metadata.  The two-level
# shape keeps driver state bounded for ANY corpus:
#
# - COARSE: one sampled kmeans_fit with k_coarse centroids (k_coarse is
#   capped — sqrt(k) clamped to auto_k_cap — so this stays driver
#   metadata), then a zero-shuffle argmin assigns every row a cell.
# - FINE: each cell trains its own ceil(n_cell / target) centroids from
#   the cell's lowest-id sample INSIDE applyInArrow — fine centroids
#   are a distributed (cell, fine, cv) DataFrame that never lands on
#   the driver.
# - ASSIGN: rows join their cell's centroid matrix (one hash join on
#   the cell key) and an Arrow argmin picks the fine cluster.  Per-task
#   state is one cell's k_fine x dim matrix, not the global centroid set.
#
# Every stage replays value-exactly in DuckDB (kmeans_two_level_sql_ctes):
# the coarse chain is the proven kmeans_sql_ctes, each cell's fine chain
# is the same generator filtered to that cell with a data-dependent
# LIMIT k, and the in-worker Lloyd is _kmeans_fit_driver — the bit-exact
# decimal replica already differential-tested against the engine.
# ---------------------------------------------------------------------------


def _auto_k_plan(
    n: int, target_cluster_size: int, cap: int
) -> Tuple[str, int]:
    """The auto-k sizing policy: ``("single", k)`` while the flat
    centroid set stays driver-bounded (``k <= cap``), else
    ``("two_level", k_coarse)`` with ``k_coarse = min(ceil(sqrt(k)),
    cap)`` — so the driver NEVER holds more than ``cap`` centroids no
    matter the corpus size (tests assert this for n up to 10^13)."""
    import math

    k = max(1, -(-int(n) // int(target_cluster_size)))
    if k <= cap:
        return ("single", k)
    # exact integer ceil(sqrt(k)) — no float rounding for huge k
    k_coarse = math.isqrt(k - 1) + 1
    return ("two_level", min(max(1, k_coarse), cap))


def _argmin_matrix_udf(dim: int):
    """Arrow-batched argmin of each row against ITS OWN centroid matrix
    column (array<array<double>>, the row's cell codebook).  Bit-exact
    replica of the per-cell fold chain: dim-major ``acc += diff^2``
    (the sequential-fold double order) and ``np.argmin`` first-min
    (lower fine id wins ties).  Rows arrive cell-clustered from the
    join, so the per-batch loop vectorizes over one cell at a time; a
    cell's matrix is decoded once, from its first row (the matrices'
    row counts differ between cells, so the column has no batch form)."""
    cm_spec = ArraySpec(np.float64, (None, dim))

    @np_udf(
        "struct<fine: bigint, dist: double>",
        ArraySpec(np.int64), ArraySpec(np.float64, (dim,)), None,
    )
    def assign(cells: np.ndarray, V: np.ndarray, cm: pa.Array) -> dict:
        out_f = np.empty(len(V), dtype=np.int64)
        out_d = np.empty(len(V), dtype=np.float64)
        for c in np.unique(cells):
            idx = np.nonzero(cells == c)[0]
            C = np_column(cm.slice(idx[0], 1), cm_spec)[0]
            acc = np.zeros((len(idx), C.shape[0]), dtype=np.float64)
            for d in range(dim):
                diff = V[idx, d, None] - C[None, :, d]
                acc += diff * diff
            fi = np.argmin(acc, axis=1)
            out_f[idx] = fi
            out_d[idx] = acc[np.arange(len(idx)), fi]
        return {"fine": out_f, "dist": out_d}

    return assign


def kmeans_assign_two_level(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k_coarse: int,
    iters: int = 3,
    target_cluster_size: int = 256,
    coarse_train_limit: "int | None" = None,
    fine_train_limit: int = 4096,
    keep_vec: bool = False,
    pin: str = "local",
) -> DataFrame:
    """Two-level k-means assignment → ``(id, cell, fine, dist[, v])``.

    ``cell`` is the coarse cluster (trained by :func:`kmeans_fit`,
    driver-bounded ``k_coarse`` centroids), ``fine`` the within-cell
    cluster: each cell trains ``ceil(n_cell / target_cluster_size)``
    centroids over its ``fine_train_limit`` LOWEST-id rows inside
    ``applyInArrow`` (the bit-exact :func:`_kmeans_fit_driver`
    replica), so expected fine cluster size ≈ ``target_cluster_size``
    regardless of corpus size while the driver never sees a fine
    centroid.  Size ``fine_train_limit`` ≥ ~a few × the expected
    per-cell k — it is a training SAMPLE, the standard IVF recipe.

    Scale audit: one corpus scan for coarse assignment (zero-shuffle
    argmin), one shuffle on ``cell`` for the per-cell sample window,
    one bounded ``applyInArrow`` over samples, one hash join of rows
    to their cell's centroid matrix + Arrow argmin.  No driver-side
    state grows with n.
    """

    target = int(target_cluster_size)
    fit_iters = int(iters)
    vecs = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    vecs = vecs.persist()
    try:
        coarse = kmeans_fit(
            df, id_col, vec_col, k=k_coarse, iters=iters,
            train_limit=coarse_train_limit, _vecs=vecs,
        )
        cells = vecs.select(
            F.col(id_col),
            _argmin(F.col("v"), coarse).cluster.alias("cell"),
            F.col("v"),
        )
        # feeds cell counts + the sample window + the final assignment:
        # pin so the coarse argmin runs once, not three times
        cells = pin_materialization(cells, pin)
    finally:
        vecs.unpersist()
    cnt = cells.groupBy("cell").agg(F.count("*").alias("_n"))
    wcell = Window.partitionBy("cell").orderBy(id_col)
    sample = (
        cells.withColumn("_rn", F.row_number().over(wcell))
        .filter(F.col("_rn") <= int(fine_train_limit))
        .drop("_rn")
        .join(F.broadcast(cnt), on="cell")
    )

    dim = len(coarse[0])
    specs = {
        id_col: scalar_spec(df.schema[id_col].dataType),
        "cell": ArraySpec(np.int64),
        "_n": ArraySpec(np.int64),
        "v": ArraySpec(np.float64, (dim,)),
    }
    train_schema = T.StructType.fromDDL("cell bigint, fine bigint, cv array<double>")

    def _train(tbl: pa.Table) -> pa.Table:
        g = np_columns(tbl, specs)
        V = g["v"][np.argsort(g[id_col], kind="stable")]
        kf = max(1, -(-int(g["_n"][0]) // target))
        cents = np.asarray(_kmeans_fit_driver(V, kf, fit_iters), dtype=np.float64)
        return arrow_table(
            {
                "cell": np.full(len(cents), g["cell"][0]),
                "fine": np.arange(len(cents), dtype=np.int64),
                "cv": cents,
            },
            train_schema,
        )

    fine_cents = sample.groupBy("cell").applyInArrow(_train, train_schema)
    cmats = fine_cents.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("fine", "cv"))),
            lambda x: x["cv"],
        ).alias("cm")
    )
    best = _argmin_matrix_udf(dim)(F.col("cell"), F.col("v"), F.col("cm"))
    cols = [
        F.col(id_col), F.col("cell"),
        F.col("_b").fine.alias("fine"), F.col("_b").dist.alias("dist"),
    ]
    if keep_vec:
        cols.append(F.col("v"))
    return (
        cells.join(cmats, on="cell")
        .withColumn("_b", best)
        .select(*cols)
    )


def kmeans_two_level_sql_ctes(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    k_coarse: int,
    iters: int = 3,
    target_cluster_size: int = 256,
    coarse_train_limit: "int | None" = None,
    fine_train_limit: int = 4096,
    vec_expr: "str | None" = None,
) -> str:
    """DuckDB CTE chain replaying :func:`kmeans_assign_two_level`,
    ending at ``tl_afinal(vec_id, cell, fine, dist)``: the coarse
    :func:`kmeans_sql_ctes` chain (prefix ``g``) plus one fine chain
    per cell (prefix ``f{i}_``) whose input is the cell's rows and
    whose ``k`` is the data-dependent ``ceil(n_cell / target)`` LIMIT
    subquery.  ``k_coarse`` must be a literal — the per-cell unrolling
    is static SQL."""
    target = int(target_cluster_size)
    sql = kmeans_sql_ctes(
        table, id_col, vec_col, dim, k=k_coarse, iters=iters,
        train_limit=coarse_train_limit, prefix="g", vec_expr=vec_expr,
    )
    for i in range(int(k_coarse)):
        p = f"f{i}_"
        sub = (
            f"(SELECT e.{id_col} AS {id_col}, e.v AS v FROM ge e "
            f"JOIN gafinal a ON a.vec_id = e.{id_col} WHERE a.cid = {i})"
        )
        fine_k = f"(SELECT (COUNT(*) + {target - 1}) // {target} FROM {p}e)"
        chain = kmeans_sql_ctes(
            sub, id_col, "v", dim, k=fine_k, iters=iters,
            train_limit=fine_train_limit, prefix=p, vec_expr="v",
        )
        sql += ", " + chain[len("WITH ") :]
    union = "\n  UNION ALL ".join(
        f"SELECT vec_id, CAST({i} AS BIGINT) AS cell, "
        f"CAST(cid AS BIGINT) AS fine, dist FROM f{i}_afinal"
        for i in range(int(k_coarse))
    )
    return sql + f", tl_afinal AS MATERIALIZED (\n  {union}\n)"


def semantic_dedup_two_level(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k_coarse: int,
    iters: int = 3,
    cos_threshold: float = 0.45,
    target_cluster_size: int = 256,
    max_cluster_size: "int | None" = None,
    coarse_train_limit: "int | None" = None,
    fine_train_limit: int = 4096,
    pin: str = "local",
) -> DataFrame:
    """SemDeDup over the two-level partition: cosine near-duplicates
    are pruned WITHIN each ``(cell, fine)`` cluster (keep the lowest
    id).  Returns ``(id, cell, fine)`` of surviving rows.  Same
    pairing/anti-join shape as :func:`semantic_dedup`, shuffled on the
    composite cluster key; ``max_cluster_size`` caps each fine
    cluster's pairing set exactly as the single-level cap does."""
    from dataclass_array_spark.operators.similarity import cosine, norm2

    assign = kmeans_assign_two_level(
        df, id_col, vec_col, k_coarse, iters=iters,
        target_cluster_size=target_cluster_size,
        coarse_train_limit=coarse_train_limit,
        fine_train_limit=fine_train_limit, keep_vec=True, pin=pin,
    )
    assign = pin_materialization(
        assign.withColumn("n2", norm2(F.col("v"))), pin
    )
    pairable = assign
    if max_cluster_size is not None:
        wclus = Window.partitionBy("cell", "fine").orderBy(id_col)
        pairable = (
            assign.withColumn("__rn", F.row_number().over(wclus))
            .filter(F.col("__rn") <= max_cluster_size)
            .drop("__rn")
        )
    a, b = pairable.alias("a"), pairable.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cell") == F.col("b.cell"))
        & (F.col("a.fine") == F.col("b.fine"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"b.{id_col}").alias("_drop_id"),
        cosine(
            F.col("a.v"), F.col("b.v"), F.col("a.n2"), F.col("b.n2")
        ).alias("cos"),
    )
    drops = pairs.filter(F.col("cos") >= cos_threshold).select("_drop_id").distinct()
    return (
        assign.join(drops, assign[id_col] == drops["_drop_id"], "left_anti")
        .select(id_col, "cell", "fine")
    )


def semantic_dedup_two_level_sql(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    k_coarse: int,
    iters: int = 3,
    cos_threshold: float = 0.45,
    target_cluster_size: int = 256,
    max_cluster_size: "int | None" = None,
    coarse_train_limit: "int | None" = None,
    fine_train_limit: int = 4096,
) -> str:
    """DuckDB oracle for :func:`semantic_dedup_two_level`."""
    dot = (
        "list_reduce(list_prepend(0.0, list_transform(list_zip(ea.v, eb.v), "
        "p -> p[1]*p[2])), (acc, x) -> acc + x)"
    )
    n2 = (
        "list_reduce(list_prepend(0.0, list_transform(list_zip(v, v), "
        "p -> p[1]*p[2])), (acc, x) -> acc + x)"
    )
    if max_cluster_size is not None:
        pairable = f"""
, pairable AS MATERIALIZED (
  SELECT vec_id, cell, fine FROM (
    SELECT vec_id, cell, fine,
           ROW_NUMBER() OVER (PARTITION BY cell, fine ORDER BY vec_id) AS rn
    FROM tl_afinal
  ) WHERE rn <= {int(max_cluster_size)}
)"""
    else:
        pairable = (
            "\n, pairable AS MATERIALIZED "
            "(SELECT vec_id, cell, fine FROM tl_afinal)"
        )
    return (
        kmeans_two_level_sql_ctes(
            table, id_col, vec_col, dim, k_coarse, iters=iters,
            target_cluster_size=target_cluster_size,
            coarse_train_limit=coarse_train_limit,
            fine_train_limit=fine_train_limit,
        )
        + pairable
        + f"""
, n AS MATERIALIZED (SELECT {id_col} AS nid, {n2} AS n2 FROM ge)
, pairs AS MATERIALIZED (
  SELECT b.vec_id AS drop_id,
         {dot} / (sqrt(na.n2) * sqrt(nb.n2)) AS cos
  FROM pairable a
  JOIN pairable b ON a.cell = b.cell AND a.fine = b.fine
                 AND a.vec_id < b.vec_id
  JOIN ge ea ON ea.{id_col} = a.vec_id
  JOIN ge eb ON eb.{id_col} = b.vec_id
  JOIN n na ON na.nid = a.vec_id
  JOIN n nb ON nb.nid = b.vec_id
)
SELECT a.vec_id AS {id_col}, a.cell, a.fine
FROM tl_afinal a
WHERE NOT EXISTS (
  SELECT 1 FROM pairs p WHERE p.cos >= {cos_threshold} AND p.drop_id = a.vec_id
)
ORDER BY 1"""
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: "int | str" = 8,
    iters: int = 3,
    cos_threshold: float = 0.45,
    target_cluster_size: int = 256,
    max_cluster_size: "int | None" = None,
    train_limit: "int | None" = None,
    pin: str = "local",
    auto_k_cap: int = 65536,
) -> DataFrame:
    """SemDeDup: k-means partition, then drop within-cluster cosine
    near-duplicates (keep the lowest id of each near-dup pair).

    Scale shape: the all-pairs step runs WITHIN clusters only — pick k
    so clusters stay bounded (SemDeDup's own recipe: k grows with the
    corpus; cluster size ~n/k caps the per-cluster quadratic term).
    ``k="auto"`` derives it from the corpus: ``ceil(n /
    target_cluster_size)``, keeping the expected per-cluster pair count
    ~target²/2 regardless of corpus size (one extra count job).  The
    assignment frame is checkpointed once and feeds both sides of the
    self-join plus the survivor anti-join.

    ``auto_k_cap`` bounds the driver: auto-k grows linearly with the
    corpus, and past the cap the flat centroid set would stop being
    driver metadata — so :func:`_auto_k_plan` switches to the
    TWO-LEVEL coarse→fine partition (:func:`semantic_dedup_two_level`,
    ``k_coarse = min(ceil(sqrt(k)), cap)``) whose driver state is
    bounded by the cap for ANY corpus size.  On that path the returned
    ``cluster`` is the composite ``cell * 2^32 + fine``.

    ``max_cluster_size`` is the fixed-k insurance (the MinHash
    ``max_bucket_size`` pattern, dedup.py): when k is pinned and the
    corpus grows, cluster size — and with it the within-cluster pair
    count — grows quadratically.  With a cap, only each cluster's
    ``max_cluster_size`` LOWEST ids participate in pairing (both
    sides), bounding candidates at ``k·cap²/2`` for ANY corpus; rows
    outside the cap are never dropped and never cause drops — a
    documented recall trade on oversized clusters, deterministic.  The
    capping window runs on the cluster key the self-join shuffles on.

    ``train_limit`` samples k-means training to the lowest-id rows
    (see :func:`kmeans_fit`); ``pin`` picks how the assignment frame is
    materialized before fanning out into the self-join and anti-join —
    ``"local"`` (executor-memory localCheckpoint, fast) vs
    ``"reliable"`` (checkpoint dir, survives executor loss — the right
    choice for long 100 TB runs; see
    :func:`~dataclass_array_spark.core.table.pin_materialization`).

    Returns ``(id, cluster)`` of surviving rows.
    """
    from dataclass_array_spark.operators.similarity import cosine, norm2

    # one casted vecs frame feeds the auto-k count, every Lloyd round,
    # and the final assignment — built and cached ONCE (the count job
    # doubles as the cache materialization instead of being an extra
    # full pass over the raw input).
    vecs = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    vecs = vecs.persist()
    if k == "auto":
        n = vecs.count()
        mode, sized = _auto_k_plan(n, target_cluster_size, auto_k_cap)
        if mode == "two_level":
            # the flat centroid set would exceed the driver budget:
            # switch to the coarse->fine partition (driver holds only
            # the <= auto_k_cap coarse centroids; fine centroids stay a
            # distributed frame).  Composite cluster id keeps the
            # (id, cluster) return contract: cell * 2^32 + fine.
            vecs.unpersist()
            out = semantic_dedup_two_level(
                df, id_col, vec_col, k_coarse=sized, iters=iters,
                cos_threshold=cos_threshold,
                target_cluster_size=target_cluster_size,
                max_cluster_size=max_cluster_size,
                coarse_train_limit=train_limit, pin=pin,
            )
            return out.select(
                F.col(id_col),
                (F.col("cell") * F.lit(2 ** 32) + F.col("fine"))
                .cast("long")
                .alias("cluster"),
            )
        k = sized
    centroids = kmeans_fit(
        df, id_col, vec_col, k=k, iters=iters,
        train_limit=train_limit, _vecs=vecs,
    )
    best = _argmin(F.col("v"), centroids)
    assign = vecs.select(
        F.col(id_col), best.cluster.alias("cluster"), best.dist.alias("dist"),
        F.col("v"),
    )
    assign = pin_materialization(assign.withColumn("n2", norm2(F.col("v"))), pin)
    vecs.unpersist()  # pinned assignment supersedes the training cache
    pairable = assign
    if max_cluster_size is not None:
        wclus = Window.partitionBy("cluster").orderBy(id_col)
        pairable = (
            assign.withColumn("__rn", F.row_number().over(wclus))
            .filter(F.col("__rn") <= max_cluster_size)
            .drop("__rn")
        )
    a, b = pairable.alias("a"), pairable.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cluster") == F.col("b.cluster"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"b.{id_col}").alias("_drop_id"),
        cosine(
            F.col("a.v"), F.col("b.v"), F.col("a.n2"), F.col("b.n2")
        ).alias("cos"),
    )
    drops = pairs.filter(F.col("cos") >= cos_threshold).select("_drop_id").distinct()
    return (
        assign.join(drops, assign[id_col] == drops["_drop_id"], "left_anti")
        .select(id_col, "cluster")
    )


def semantic_dedup_sql(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    k: "int | str" = 8,
    iters: int = 3,
    cos_threshold: float = 0.45,
    max_cluster_size: "int | None" = None,
    train_limit: "int | None" = None,
) -> str:
    """DuckDB oracle for :func:`semantic_dedup` (incl. the
    ``max_cluster_size`` pair cap — lowest ids per cluster pair up —
    and ``train_limit`` sampled training)."""
    dot = (
        "list_reduce(list_prepend(0.0, list_transform(list_zip(ea.v, eb.v), "
        "p -> p[1]*p[2])), (acc, x) -> acc + x)"
    )
    n2 = (
        "list_reduce(list_prepend(0.0, list_transform(list_zip(v, v), "
        "p -> p[1]*p[2])), (acc, x) -> acc + x)"
    )
    if max_cluster_size is not None:
        pairable = f"""
, pairable AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY cid ORDER BY vec_id) AS rn
    FROM afinal
  ) WHERE rn <= {int(max_cluster_size)}
)"""
    else:
        pairable = (
            "\n, pairable AS MATERIALIZED (SELECT vec_id, cid FROM afinal)"
        )
    return (
        kmeans_sql_ctes(table, id_col, vec_col, dim, k, iters, train_limit)
        + pairable
        + f"""
, n AS MATERIALIZED (SELECT {id_col} AS nid, {n2} AS n2 FROM e)
, pairs AS MATERIALIZED (
  SELECT b.vec_id AS drop_id,
         {dot} / (sqrt(na.n2) * sqrt(nb.n2)) AS cos
  FROM pairable a JOIN pairable b ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN e ea ON ea.{id_col} = a.vec_id
  JOIN e eb ON eb.{id_col} = b.vec_id
  JOIN n na ON na.nid = a.vec_id
  JOIN n nb ON nb.nid = b.vec_id
)
SELECT a.vec_id AS {id_col}, CAST(a.cid AS BIGINT) AS cluster
FROM afinal a
WHERE NOT EXISTS (
  SELECT 1 FROM pairs p WHERE p.cos >= {cos_threshold} AND p.drop_id = a.vec_id
)
ORDER BY 1"""
    )
