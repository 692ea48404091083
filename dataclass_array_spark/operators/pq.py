"""Product quantization (PQ) for embedding columns — the FAISS-style
compression layer of large-scale similarity search.

A ``dim``-dimensional float32 vector (``4*dim`` bytes) is split into
``m`` contiguous subvectors; each subspace gets its own k-means codebook
(``codes`` centroids of ``dim/m`` doubles) and a vector is stored as its
``m`` nearest-code ids — e.g. 64 floats (256 B) → 8 one-byte codes, a
32× compression.  At 100 TB that is the difference between an embedding
corpus that must be re-scanned from object storage per query batch and
a ~3 TB code table that stays resident in cluster memory; scoring
(asymmetric distance computation, ADC) touches only codes + the
driver-tiny codebooks.

Plan shape (mirrors `operators/clustering.py` — the scale analysis
there applies per subspace):
- **Training** (:func:`pq_fit`): ONE bounded lowest-id sample pass
  (``TakeOrderedAndProject``) materializes the training frame, then the
  ``m`` per-subspace Lloyd loops run over the cached sample — corpus
  scans are independent of both ``m`` and ``iters``.  Each subspace
  fit IS :func:`~dataclass_array_spark.operators.clustering.kmeans_fit`
  on a ``slice()`` projection, so init/tie-break/decimal-mean semantics
  are inherited, not re-implemented.
- **Encoding** (:func:`pq_encode`): zero-shuffle — ONE Arrow-batched
  kernel computes all ``m`` codes per batch (plan size O(1) in
  ``m*codes*dim``): dim-major accumulation inside each subspace and a
  first-min tie-break, the k-means argmin's semantics per subspace.
- **ADC top-k** (:func:`pq_topk`): broadcast(queries) × encoded corpus;
  the per-pair distance is ``m`` codebook lookups summed in subspace
  order, each subspace term a dim-major sequential fold — the exact
  association order the DuckDB oracle replays
  (``workload.llm3._pq_sql``).  The corpus side carries ONLY
  ``(id, codes)`` through the join: the full vectors never leave the
  training/encoding scans.

Cross-engine exactness: distances accumulate (sub0 fold + sub1 fold +
…) left-to-right; NOTE this is deliberately NOT the same float
association as one flat 64-dim fold — both engines use the blocked
order, so results agree bit-for-bit while matching how a real ADC
implementation (per-subspace lookup tables) accumulates.

Reference parity note: the reference (dataclass_array) has no ANN
layer; PQ extends the LLM-pipeline similarity family
(`similarity.py`) the task brief asks for beyond reference scope.
"""

from __future__ import annotations

from typing import List

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataclass_array_spark.core.schema import ArraySpec
from dataclass_array_spark.core.table import np_udf
from dataclass_array_spark.operators.clustering import (
    _collect_train_sample,
    _kmeans_fit_driver,
    kmeans_fit,
)

Codebooks = List[List[List[float]]]  # [subspace][code][dim/m]


def pq_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 8,
    codes: int = 16,
    iters: int = 2,
    train_limit: "int | None" = None,
) -> Codebooks:
    """Train ``m`` per-subspace codebooks of ``codes`` centroids each.

    Deterministic and oracle-replayable: subspace ``j`` trains on
    ``v[j*d : (j+1)*d]`` with :func:`kmeans_fit`'s first-``codes``-by-id
    init and fixed ``iters`` Lloyd rounds; ``train_limit`` bounds
    training to the lowest-id rows (one top-m pass, cached — the
    sampled-training recipe, see ``kmeans_fit``).
    """
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    d = dim // m
    vecs = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    # the driver-dispatch predicate + sample collection are SHARED with
    # kmeans_fit (clustering._collect_train_sample) so the condition
    # and sample semantics cannot drift; PQ's one deliberate difference
    # remains that all m subspace Lloyd loops share the single collect.
    rows = _collect_train_sample(vecs, id_col, train_limit, "pq_fit")
    if rows is not None:
        return [
            _kmeans_fit_driver(
                [row[j * d : (j + 1) * d] for row in rows], codes, iters
            )
            for j in range(m)
        ]
    train = vecs
    if train_limit is not None:
        train = vecs.orderBy(id_col).limit(int(train_limit))
    # one persist covers all m Lloyd loops (kmeans_fit skips its own
    # cache when handed a _vecs frame)
    train = train.persist()
    try:
        return [
            kmeans_fit(
                df, id_col, vec_col, k=codes, iters=iters,
                _vecs=train.select(
                    F.col(id_col), F.slice("v", j * d + 1, d).alias("v")
                ),
            )
            for j in range(m)
        ]
    finally:
        train.unpersist()


def _pq_encode_udf(codebooks: Codebooks):
    """Arrow-batched all-subspace encoder: per subspace, ``acc +=
    diff^2`` accumulates dim-major (the sequential-fold order of the
    k-means argmin and the DuckDB oracle) and ``np.argmin`` takes the
    FIRST minimum (lower code id wins ties).  Zero shuffle: an
    ArrowEvalPython node in the scan stage, codebooks ship once per
    executor in the closure."""
    CBs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]

    dim = sum(C.shape[1] for C in CBs)

    @np_udf("array<bigint>", ArraySpec(np.float64, (dim,)))
    def enc(V: np.ndarray) -> np.ndarray:
        out = np.empty((V.shape[0], len(CBs)), dtype=np.int64)
        off = 0
        for j, C in enumerate(CBs):
            acc = np.zeros((V.shape[0], C.shape[0]), dtype=np.float64)
            for dd in range(C.shape[1]):
                diff = V[:, off + dd, None] - C[None, :, dd]
                acc += diff * diff
            out[:, j] = np.argmin(acc, axis=1)
            off += C.shape[1]
        return out

    return enc


def pq_encode(
    df: DataFrame, id_col: str, vec_col: str, codebooks: Codebooks
) -> DataFrame:
    """``(id, codes array<bigint>)`` — the compressed corpus.  One
    narrow pass, no shuffle (plan-asserted in tests/test_plans.py)."""
    vec = F.col(vec_col).cast("array<double>")
    return df.select(F.col(id_col), _pq_encode_udf(codebooks)(vec).alias("codes"))


def _adc_udf(codebooks: Codebooks):
    """Arrow-batched ADC scorer: Σ_j ||q_j − CB[j][codes[j]]||².  Each
    subspace term accumulates dim-major from +0.0 (the sequential fold
    order) and terms add in subspace order (``0 + t0 + t1 + …`` equals
    ``t0 + t1 + …`` exactly — squares are non-negative, so no −0 edge)
    — the association order the DuckDB oracle replays.  O(1) plan size
    in m×codes×d (real PQ deployments use codes=256)."""
    CBs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]

    dim = sum(CB.shape[1] for CB in CBs)

    @np_udf("double", ArraySpec(np.float64, (dim,)), ArraySpec(np.int64, (len(CBs),)))
    def dist(Q: np.ndarray, C: np.ndarray) -> np.ndarray:
        total = np.zeros(len(Q), dtype=np.float64)
        off = 0
        for j, CB in enumerate(CBs):
            cent = CB[C[:, j]]
            t = np.zeros(len(Q), dtype=np.float64)
            for dd in range(CB.shape[1]):
                diff = Q[:, off + dd] - cent[:, dd]
                t += diff * diff
            total += t
            off += CB.shape[1]
        return total

    return dist


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    codebooks: Codebooks,
    k: int = 5,
    exclude_self: bool = False,
) -> DataFrame:
    """ADC top-k: each query ranks the ENCODED corpus by approximate
    squared L2 and keeps the ``k`` best (ties → lower neighbor id).

    Queries broadcast uncompressed (they are the small side); the
    corpus side of the join carries only ``(id, codes)``.  Output:
    ``(qid, rank, nid, dist)``.
    """
    enc = pq_encode(corpus, corpus_id, vec_col, codebooks).select(
        F.col(corpus_id).alias("nid"), "codes"
    )
    q = queries.select(
        F.col(query_id).alias("qid"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    scored = enc.join(F.broadcast(q), F.col("qid") != F.col("nid") if exclude_self else F.lit(True)).select(
        "qid", "nid", _adc_udf(codebooks)(F.col("qv"), F.col("codes")).alias("dist")
    )
    w = Window.partitionBy("qid").orderBy(F.asc("dist"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "nid", "dist")
        .orderBy("qid", "rank")
    )


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    codebooks: Codebooks,
    n_centroids: int = 16,
    nprobe: int = 2,
    k: int = 5,
    centroids: str = "first",
    kmeans_iters: int = 3,
    kmeans_train_limit: "int | None" = None,
) -> DataFrame:
    """IVF-PQ (the FAISS IVFADC recipe): coarse IVF cells prune the
    candidate set, ADC over PQ codes scores it.

    The corpus is read ONCE: cell assignment (the Arrow cell probe of
    :func:`~dataclass_array_spark.operators.similarity.assign_cells`)
    and PQ encoding (the Arrow encoder :func:`_pq_encode_udf`) run in
    the same scan stage with no shuffle, after which the corpus side of
    the search carries only ``(nid, cell, codes)`` — at 100 TB that is
    the entire resident index.  Queries (the small side) broadcast with
    their ``nprobe >= 1`` probed cells and the full query vector; the
    equi-join on ``cell`` bounds candidates, and the only hash shuffle
    partitions candidates by ``qid`` for the top-k window.  Ranking is approximate squared L2
    (``dist`` ASC, ties → lower ``nid``), same blocked fold order as
    :func:`pq_topk` — value-exactly replayed by the DuckDB oracle
    (``workload.llm3``).
    """
    from dataclass_array_spark.operators.similarity import _ivf_cents, assign_cells

    cents = _ivf_cents(
        corpus, corpus_id, vec_col, n_centroids, centroids, kmeans_iters,
        kmeans_train_limit,
    )
    enc = assign_cells(corpus, corpus_id, vec_col, cents, nprobe=1).select(
        F.col("__id").alias("nid"),
        "cell",
        _pq_encode_udf(codebooks)(F.col("__v").cast("array<double>")).alias("codes"),
    )
    q = assign_cells(queries, query_id, vec_col, cents, nprobe=nprobe).select(
        F.col("__id").alias("qid"),
        F.col("__v").cast("array<double>").alias("qv"),
        "cell",
    )
    # corpus rows live in one cell and probed cells are distinct →
    # each (qid, nid) pair appears at most once, no dedup needed.
    scored = (
        enc.join(F.broadcast(q), on="cell")
        .filter(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            _adc_udf(codebooks)(F.col("qv"), F.col("codes")).alias("dist"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.asc("dist"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "nid", "dist")
        .orderBy("qid", "rank")
    )


# ------------------------------------------- scalar quantization (SQ8)
def sq8_bounds(
    df: DataFrame, vec_col: str, dim: int
) -> "list[tuple[float, float]]":
    """Per-dimension (min, max) over the corpus — ONE aggregate,
    ``2·dim`` doubles of driver state (the zorder_key bounds pattern:
    persist with the index; incremental writers reuse them)."""
    v = F.col(vec_col).cast("array<double>")
    aggs = []
    for i in range(1, dim + 1):
        aggs += [F.min(F.element_at(v, i)), F.max(F.element_at(v, i))]
    row = df.agg(*aggs).collect()[0]
    if row[0] is None:
        raise ValueError("sq8_bounds: empty corpus (no vectors to bound)")
    return [(row[2 * i], row[2 * i + 1]) for i in range(dim)]


def _sq8_code(x: Column, mn: float, delta: float) -> Column:
    """floor((x - mn) * 255 / delta) clamped to [0, 255]; constant
    dimension (delta <= 0) -> 0.  Double ops in this exact order are
    mirrored verbatim by the oracle."""
    if delta <= 0.0:
        return F.lit(0).cast("long")
    raw = F.floor((x - F.lit(mn)) * F.lit(255.0) / F.lit(delta)).cast("long")
    return F.least(F.lit(255).cast("long"), F.greatest(F.lit(0).cast("long"), raw))


def sq8_encode(
    df: DataFrame, id_col: str, vec_col: str,
    bounds: "list[tuple[float, float]]",
) -> DataFrame:
    """Encode each vector as ``dim`` uint8-range codes (kept as a
    BIGINT array here for clarity; a production store packs them to a
    ``binary`` blob — 1 byte/dim, 4× smaller than float32, the form a
    100 TB embedding index keeps resident).  Deterministic: floor +
    clamp on mirrored double ops, so the oracle re-encodes
    identically."""
    v = F.col(vec_col).cast("array<double>")
    codes = F.array(
        *[
            _sq8_code(F.element_at(v, i + 1), mn, mx - mn)
            for i, (mn, mx) in enumerate(bounds)
        ]
    )
    return df.select(F.col(id_col), codes.alias("codes"))


def sq8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    bounds: "list[tuple[float, float]]",
    k: int = 5,
    exclude_self: bool = False,
) -> DataFrame:
    """SQ8 asymmetric top-k: full-precision queries rank the encoded
    corpus by squared L2 against the DEQUANTIZED codes
    (``r_i = mn_i + (code_i · delta_i) / 255``), ties → lower neighbor
    id.  Same join/window shape as :func:`pq_topk` (queries broadcast;
    corpus side carries only ``(id, codes)``).  The distance is a
    fixed ``dim``-term sum unrolled in index order — plan literals,
    fully codegen'd, and mirrored term-for-term by the oracle."""
    enc = sq8_encode(corpus, corpus_id, vec_col, bounds).select(
        F.col(corpus_id).alias("nid"), "codes"
    )
    q = queries.select(
        F.col(query_id).alias("qid"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    dist = F.lit(0.0)
    for i, (mn, mx) in enumerate(bounds):
        delta = mx - mn
        rec = F.lit(mn) + (
            F.element_at(F.col("codes"), i + 1).cast("double") * F.lit(delta)
        ) / F.lit(255.0)
        d = F.element_at(F.col("qv"), i + 1) - rec
        dist = dist + d * d
    scored = enc.join(
        F.broadcast(q),
        F.col("qid") != F.col("nid") if exclude_self else F.lit(True),
    ).select("qid", "nid", dist.alias("dist"))
    w = Window.partitionBy("qid").orderBy(F.asc("dist"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "nid", "dist")
        .orderBy("qid", "rank")
    )
