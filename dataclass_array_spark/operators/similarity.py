"""Similarity search over embedding columns (``array<float>``).

- ``cosine``: cross-engine-deterministic cosine via a SEQUENTIAL double
  fold (Spark's ``aggregate`` and DuckDB's ``list_reduce`` both fold
  left-to-right in index order, so the IEEE sums are bit-identical —
  verified with order-sensitive adversarial inputs).  ~10× faster than
  the decimal-accumulator alternative (no per-element BigDecimal).
- ``brute_force_topk``: broadcast the (small) query set against the full
  corpus — the exact baseline.  At 100 TB the corpus side stays
  partitioned; the only data movement is the broadcast of queries and
  the per-partition top-k combine (WindowGroupLimit / partial top-k).
- ``srp_lsh_topk``: signed-random-projection LSH — hyperplanes derived
  deterministically from md5 so results are reproducible.  Bucketing
  turns the cross join into an equi-join on the signature; the scale
  path when the query set is itself huge.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataclass_array_spark.core.schema import ArraySpec
from dataclass_array_spark.core.table import arrow_table, np_columns, np_udf, scalar_spec


def _exact_dot(a: Column, b: Column) -> Column:
    """Σ a[i]*b[i] as a sequential left-to-right double fold — identical
    in DuckDB via ``list_reduce(list_prepend(0.0, products), +)``."""
    prods = F.zip_with(
        a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm2(v: Column) -> Column:
    return _exact_dot(v, v)


def cosine(a: Column, b: Column, na2: Column, nb2: Column) -> Column:
    """cos(a,b) given precomputed squared norms."""
    return _exact_dot(a, b) / (F.sqrt(na2) * F.sqrt(nb2))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: broadcast queries × partitioned corpus.

    Norms are computed once per side before the join (column pruning
    keeps the corpus scan at two columns)."""
    q = queries.select(
        F.col(query_id).alias("qid"),
        F.col(vec_col).alias("qv"),
        norm2(F.col(vec_col)).alias("qn2"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("nid"),
        F.col(vec_col).alias("cv"),
        norm2(F.col(vec_col)).alias("cn2"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            cosine(F.col("qv"), F.col("cv"), F.col("qn2"), F.col("cn2")).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "nid", "cosine")
        .orderBy("qid", "rank")
    )


def _srp_signs(p: int, dim: int) -> list[float]:
    """±1 hyperplane components from md5 parity — computed ONCE on the
    driver (they are data-independent constants) and inlined as a
    literal array, instead of per-row md5 evaluation."""
    import hashlib

    return [
        float((ord(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0]) % 2) * 2 - 1)
        for d in range(dim)
    ]


def srp_signature(
    vec: Column, dim: int, n_planes: int = 16, planes: "list | None" = None
) -> Column:
    """Signed-random-projection signature: deterministic md5-derived
    hyperplanes, engine-portable and reproducible across runs.
    ``planes`` overrides the md5 signs with explicit hyperplane
    component lists (e.g. data-trained planes — see
    :func:`srp_lsh_topk` ``planes="kmeans"``)."""

    def plane_dot(p: int) -> Column:
        signs = F.lit(
            [float(x) for x in planes[p]] if planes is not None
            else _srp_signs(p, dim)
        )
        return F.aggregate(
            F.zip_with(vec.cast("array<double>"), signs, lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    bits = [
        F.when(plane_dot(p) > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(F.lit(0).cast("long"))
        for p in range(n_planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def srp_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    planes: str = "random",
    kmeans_iters: int = 2,
    kmeans_train_limit: "int | None" = None,
) -> DataFrame:
    """Approximate top-k: candidates share the SRP bucket (equi-join on
    the signature — a plain hash shuffle instead of a cross join).

    ``planes="random"`` (default, oracle-replayable) uses md5-derived
    ±1 hyperplanes.  ``planes="kmeans"`` trains ``n_planes + 1``
    Lloyd's centroids on the corpus (sampled via
    ``kmeans_train_limit`` — one bounded pass, see
    :func:`~dataclass_array_spark.operators.clustering.kmeans_fit`) and
    uses consecutive centroid DIFFERENCES as hyperplanes — the learned-
    LSH construction: each plane bisects a pair of real cluster
    centers, so co-cluster vectors land in the same bucket far more
    often than under data-blind random planes.  Bucketing/scoring are
    otherwise identical; deterministic given the corpus."""
    plane_list = None
    if planes == "kmeans":
        cents = _trained_cents(
            corpus, corpus_id, vec_col, n_planes + 1, kmeans_iters,
            kmeans_train_limit,
        )
        plane_list = [
            [a - b for a, b in zip(cents[p]["cent_v"], cents[p + 1]["cent_v"])]
            for p in range(n_planes)
        ]
    elif planes != "random":
        raise ValueError(f"planes must be 'random' or 'kmeans', got {planes!r}")
    q = queries.select(
        F.col(query_id).alias("qid"),
        F.col(vec_col).alias("qv"),
        norm2(F.col(vec_col)).alias("qn2"),
        srp_signature(F.col(vec_col), dim, n_planes, plane_list).alias("bucket"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("nid"),
        F.col(vec_col).alias("cv"),
        norm2(F.col(vec_col)).alias("cn2"),
        srp_signature(F.col(vec_col), dim, n_planes, plane_list).alias("bucket"),
    )
    scored = _score_pairs(
        c.join(F.broadcast(q), on="bucket").filter(F.col("qid") != F.col("nid")),
        dim,
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "nid", "cosine")
        .orderBy("qid", "rank")
    )


def _pair_cosine_arrow(dim: int):
    """Arrow-batched numpy replica of :func:`cosine` for candidate-pair
    scoring.  Bit-identical to the fold expression (and DuckDB's
    ``list_reduce`` oracle): products are computed in double and
    accumulated dim-major — the sequential left-fold order — and
    ``sqrt``/division are single IEEE ops.  A zero norm gives NULL, as
    the expression's division by zero does (a NaN would rank first in
    the descending window).  Tested against a pure-Python fold and
    against :func:`brute_force_topk` in tests/test_operators.py.

    Rationale: the HOF ``aggregate`` lambda pays per-element Catalyst
    interpretation per candidate pair; at corpus-scale candidate
    volumes (knn_join at sf1: ~1.9M pairs × dim 64) the Arrow batch
    path is ~5× cheaper."""
    vec = ArraySpec(np.float64, (dim,))

    @np_udf("double", vec, vec, ArraySpec(np.float64), ArraySpec(np.float64))
    def score(Q: np.ndarray, C: np.ndarray, qn2: np.ndarray, cn2: np.ndarray) -> np.ndarray:
        dot = np.zeros(len(Q), dtype=np.float64)
        for d in range(dim):
            dot += Q[:, d] * C[:, d]
        den = np.sqrt(qn2) * np.sqrt(cn2)
        with np.errstate(divide="ignore", invalid="ignore"):
            return pa.array(dot / den, mask=den == 0)

    return score


def _score_pairs(scored: DataFrame, dim: int) -> DataFrame:
    """Project (qid, nid, cosine) from a joined candidate frame with the
    Arrow numpy pair scorer."""
    c = _pair_cosine_arrow(dim)(
        F.col("qv").cast("array<double>"),
        F.col("cv").cast("array<double>"),
        F.col("qn2"),
        F.col("cn2"),
    )
    return scored.select("qid", "nid", c.alias("cosine"))


def _cells_udf(cents, nprobe: int):
    """Arrow-batched numpy cell ranking: returns the ``nprobe`` nearest
    cell ids per vector by cosine to each centroid.  Dot and norm
    accumulate dim-major (the sequential fold order of :func:`cosine`
    and the DuckDB oracle), ``sqrt``/division are single IEEE ops, and
    the stable argsort over descending cosine breaks ties on the lower
    centroid id."""
    C = np.asarray([list(r["cent_v"]) for r in cents], dtype=np.float64)
    cn2 = np.asarray([float(r["cent_n2"]) for r in cents], dtype=np.float64)
    cid = np.asarray([r["cent_id"] for r in cents], dtype=np.int64)
    # the stable argsort below breaks cosine ties by POSITION; sort by
    # cent_id so ties go to the lower cent_id VALUE for any input order,
    # not just the orderBy(id) convention the callers follow
    pos = np.argsort(cid, kind="stable")
    C, cn2, cid = C[pos], cn2[pos], cid[pos]

    @np_udf("array<bigint>", ArraySpec(np.float64, (C.shape[1],)))
    def probe(V: np.ndarray) -> np.ndarray:
        dot = np.zeros((V.shape[0], C.shape[0]), dtype=np.float64)
        vn2 = np.zeros(V.shape[0], dtype=np.float64)
        for d in range(C.shape[1]):
            dot += V[:, d, None] * C[None, :, d]
            vn2 += V[:, d] * V[:, d]
        cos = dot / (np.sqrt(vn2)[:, None] * np.sqrt(cn2)[None, :])
        return cid[np.argsort(-cos, axis=1, kind="stable")[:, :nprobe]]

    return probe


def assign_cells(
    df: DataFrame, id_col: str, vec_col: str, cents, nprobe: int = 1
) -> DataFrame:
    """IVF cell assignment: ``(id, v, n2, cell)`` with one row per
    probed cell (``nprobe >= 1``).  The ranking is one Arrow numpy probe
    (:func:`_cells_udf`) in the input's own scan stage: its plan size is
    O(1) in the centroid count and there is no Exchange or join
    (plan-asserted in tests/test_plans.py).  ``nprobe=1`` takes the
    probe's first cell; ``nprobe>1`` explodes the ``nprobe`` nearest."""
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    probed = _cells_udf(cents, nprobe)(F.col(vec_col).cast("array<double>"))
    return df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        norm2(F.col(vec_col)).alias("__n2"),
        (F.element_at(probed, 1) if nprobe == 1 else F.explode(probed)).alias("cell"),
    )


def _cell_block_topk(
    l_assigned: DataFrame,
    r_assigned: DataFrame,
    k: int,
    exclude_self: bool,
    max_cell_size: int | None,
    dim: int,
) -> DataFrame:
    """Per-cell blocked scoring for :func:`knn_join`: cogroup both sides
    on cell id and score each |L_c|×|R_c| block in numpy, returning only
    each left row's top-k within the cell.

    Bit-exactness contract (vs the fold expression / DuckDB oracle):
    the block product accumulates dim-major — ``dot += Q[:,d]·C[:,d]``
    — which is the sequential left-fold order per pair; norms arrive
    pre-computed by the same Spark-side fold; right rows are sorted by
    id so the stable argsort over descending cosine breaks ties on the
    lower nid, matching the global window's ``(cosine DESC, nid ASC)``.
    Self-pairs are masked to -inf (cosine is bounded by ±1, so the mask
    can't collide) and dropped after selection.  NaN cosines (zero-norm
    vectors) rank last here but FIRST in a Spark descending window —
    don't feed zero-norm vectors to the cogroup path."""
    qid_t = l_assigned.schema["qid"].dataType
    nid_t = r_assigned.schema["nid"].dataType
    out_schema = T.StructType.fromDDL(
        f"qid {qid_t.simpleString()}, nid {nid_t.simpleString()}, cosine double"
    )
    vec, n2 = ArraySpec(np.float64, (dim,)), ArraySpec(np.float64)
    l_specs = {"qid": scalar_spec(qid_t), "qv": vec, "qn2": n2}
    r_specs = {"nid": scalar_spec(nid_t), "cv": vec, "cn2": n2}

    def block(left: pa.Table, right: pa.Table) -> pa.Table:
        lc, rc = np_columns(left, l_specs), np_columns(right, r_specs)
        keep = np.argsort(rc["nid"], kind="stable")[:max_cell_size]
        Q, qids = lc["qv"], lc["qid"]
        C, nids = rc["cv"][keep], rc["nid"][keep]
        dot = np.zeros((Q.shape[0], C.shape[0]), dtype=np.float64)
        for d in range(dim):
            dot += Q[:, d, None] * C[None, :, d]
        cos = dot / (np.sqrt(lc["qn2"])[:, None] * np.sqrt(rc["cn2"][keep])[None, :])
        if exclude_self:
            cos[qids[:, None] == nids[None, :]] = -np.inf
        kk = min(k, cos.shape[1])
        order = np.argsort(-cos, axis=1, kind="stable")[:, :kk]
        out = {
            "qid": np.repeat(qids, kk),
            "nid": nids[order].ravel(),
            "cosine": np.take_along_axis(cos, order, axis=1).ravel(),
        }
        if exclude_self:
            mask = out["qid"] != out["nid"]
            out = {c: a[mask] for c, a in out.items()}
        return arrow_table(out, out_schema)

    return (
        l_assigned.groupBy("cell")
        .cogroup(r_assigned.groupBy("cell"))
        .applyInArrow(block, schema=out_schema)
    )


def _trained_cents(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    iters: int,
    train_limit: "int | None",
) -> list:
    """Lloyd's-trained IVF centroids in the ``cents`` row shape the
    cell probe consumes (``cent_id``/``cent_v``/``cent_n2``).
    ``cent_n2`` is a sequential left-fold in python — the same
    IEEE-double fold order as the Spark/DuckDB ``aggregate``/
    ``list_reduce`` norms, so the Arrow probe and the SQL oracle rank
    cells identically."""
    from dataclass_array_spark.operators.clustering import kmeans_fit

    cks = kmeans_fit(
        corpus, id_col, vec_col, k=n_centroids, iters=iters,
        train_limit=train_limit,
    )
    cents = []
    for i, cv in enumerate(cks):
        s = 0.0
        for x in cv:
            s += x * x
        cents.append({"cent_id": i, "cent_v": cv, "cent_n2": s})
    return cents


def _ivf_cents(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    centroids: str,
    iters: int,
    train_limit: "int | None",
) -> list:
    """The IVF centroid set of ``knn_join``, ``ivf_topk`` and
    ``pq.ivf_pq_topk``: ``"first"`` collects the first ``n_centroids``
    corpus vectors by id (cell ids are their ids), ``"kmeans"`` trains
    Lloyd's centroids (:func:`_trained_cents`, cell ids
    0..n_centroids-1)."""
    if centroids == "kmeans":
        return _trained_cents(corpus, id_col, vec_col, n_centroids, iters, train_limit)
    if centroids != "first":
        raise ValueError(f"centroids must be 'first' or 'kmeans', got {centroids!r}")
    return (
        corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("cent_id"),
            F.col(vec_col).cast("array<double>").alias("cent_v"),
            norm2(F.col(vec_col)).alias("cent_n2"),
        )
        .collect()
    )


def knn_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    vec_col: str,
    n_centroids: int = 64,
    nprobe: int = 2,
    k: int = 3,
    exclude_self: bool = False,
    max_cell_size: int | None = None,
    centroids: str = "first",
    kmeans_iters: int = 3,
    kmeans_train_limit: "int | None" = None,
) -> DataFrame:
    """Large × large kNN JOIN: every LEFT vector gets its cosine top-k
    among RIGHT vectors sharing an IVF cell — with NEITHER side
    broadcast.  This is the retrieval/dedup-against-reference shape
    where both sides are corpus-scale (``ivf_topk`` broadcasts the
    query side and stops scaling once the query set is itself huge).

    Scale shape: centroids (n_centroids × dim doubles) are collected
    once and shipped in the probe's closure, so BOTH sides are
    cell-assigned by an Arrow probe inside their own scans, with no
    shuffle.  Each cell's L×R block is then scored in one Arrow
    cogroup (`applyInArrow` over ``groupBy(cell).cogroup``): one
    shuffle of each side on cell id, and every vector crosses to Python
    ONCE PER CELL — Σ(|L_c|+|R_c|)·dim doubles — instead of once per
    candidate pair (Σ|L_c|·|R_c|·dim, a ~100× blow-up at sf1: 12.6M
    pairs from 40k assignments).  Only per-qid-per-cell top-k survivors
    come back, so the candidate set never materializes as rows; the
    global top-k window then merges them per qid.  The block product
    accumulates dim-major (the sequential-fold order) and right rows
    are pre-sorted by id so the stable argsort tie-break equals the
    window's ``(cosine DESC, nid ASC)``.  Candidate volume is
    Σ_cells |L_c|·|R_c|·nprobe — bounded by choosing n_centroids ∝
    √(|L|·|R|)/target just like IVF nlist sizing.

    Right rows live in exactly one cell (nprobe=1) and a left row's
    probed cells are distinct, so (left, right) pairs are unique — no
    dedup pass.

    ``max_cell_size`` caps the RIGHT side per cell (keep the
    ``max_cell_size`` lowest ids — deterministic): on degenerate
    corpora where one cell swallows most vectors, |L_c|·|R_c| goes
    quadratic; the cap bounds it at |L_c|·cap, trading recall inside
    oversized cells — the same insurance as the MinHash-LSH bucket cap.

    ``centroids``: ``"first"`` uses the first ``n_centroids`` right
    vectors by id — deterministic, zero extra jobs, the oracle-friendly
    default.  ``"kmeans"`` trains real Lloyd's centroids first
    (:func:`~dataclass_array_spark.operators.clustering.kmeans_fit`,
    ``kmeans_iters`` rounds, same deterministic init) — better-balanced
    cells on clustered corpora; cell ids are then 0..n_centroids-1.
    ``kmeans_train_limit`` bounds training to the lowest-id sample
    (kmeans_fit's sampled Lloyd's — ONE top-m pass over the right side
    learns the centroids instead of ``kmeans_iters`` full scans;
    centroids are k×dim doubles of metadata, so a bounded sample is the
    standard IVF recipe and the 100 TB path).  The centroid squared
    norm is a sequential left-fold in python — the same IEEE-double
    fold order as the Spark/DuckDB ``aggregate``/``list_reduce``
    expressions, so the probe and the SQL oracle rank cells
    identically."""
    cents = _ivf_cents(
        right, right_id, vec_col, n_centroids, centroids, kmeans_iters,
        kmeans_train_limit,
    )
    l_assigned = (
        assign_cells(left, left_id, vec_col, cents, nprobe=nprobe)
        .withColumnRenamed("__id", "qid")
        .withColumnRenamed("__v", "qv")
        .withColumnRenamed("__n2", "qn2")
    )
    r_assigned = (
        assign_cells(right, right_id, vec_col, cents, nprobe=1)
        .withColumnRenamed("__id", "nid")
        .withColumnRenamed("__v", "cv")
        .withColumnRenamed("__n2", "cn2")
    )
    scored = _cell_block_topk(
        l_assigned, r_assigned, k=k, exclude_self=exclude_self,
        max_cell_size=max_cell_size, dim=len(cents[0]["cent_v"]),
    )
    # global top-k merge: a candidate outside its cell's per-qid top-k
    # has >= k better candidates in that cell alone, so per-cell top-k
    # feeding this window is lossless
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "nid", "cosine")
        .orderBy("qid", "rank")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    n_centroids: int = 16,
    nprobe: int = 2,
    k: int = 5,
    centroids: str = "first",
    kmeans_iters: int = 3,
    kmeans_train_limit: "int | None" = None,
) -> DataFrame:
    """IVF-style ANN: deterministic centroids, every vector assigned to
    its nearest centroid, and each query probes its ``nprobe`` nearest
    cells.

    ``centroids="first"`` (the oracle-friendly default) uses the first
    ``n_centroids`` corpus vectors by id — zero extra jobs.
    ``centroids="kmeans"`` trains real Lloyd's centroids first
    (:func:`~dataclass_array_spark.operators.clustering.kmeans_fit`,
    ``kmeans_iters`` rounds over the ``kmeans_train_limit`` lowest-id
    sample — one bounded top-m pass, not full-corpus scans) for
    better-balanced cells on clustered corpora; cell ids are then
    0..n_centroids-1.  Cell ranking, scoring, and tie-breaks are
    identical in both modes — only the cell boundaries move.

    Scale shape: the centroids (n_centroids × dim doubles) are collected
    once on the driver and shipped in the probe's closure, so the
    billion-vector corpus side is assigned by an Arrow probe inside its
    own scan stage — no corpus-wide window, no cross join (that was
    this operator's weakness through round 3: a corpus×centroids cross
    join followed by a full ``Window.partitionBy(id)`` shuffle).  Search
    is then a broadcast equi-join on cell id, candidates are scored by
    the Arrow pair scorer, and the only shuffle left is the per-query
    top-k over the candidate set."""
    cents = _ivf_cents(
        corpus, corpus_id, vec_col, n_centroids, centroids, kmeans_iters,
        kmeans_train_limit,
    )
    c_assigned = (
        assign_cells(corpus, corpus_id, vec_col, cents, nprobe=1)
        .withColumnRenamed("__id", "nid")
        .withColumnRenamed("__v", "cv")
        .withColumnRenamed("__n2", "cn2")
    )
    q_assigned = (
        assign_cells(queries, query_id, vec_col, cents, nprobe=nprobe)
        .withColumnRenamed("__id", "qid")
        .withColumnRenamed("__v", "qv")
        .withColumnRenamed("__n2", "qn2")
    )
    # corpus rows live in exactly one cell and a query's probed cells are
    # distinct, so each (qid, nid) pair appears at most once — no dedup.
    scored = _score_pairs(
        c_assigned.join(F.broadcast(q_assigned), on="cell").filter(
            F.col("qid") != F.col("nid")
        ),
        len(cents[0]["cent_v"]),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "nid", "cosine")
        .orderBy("qid", "rank")
    )
