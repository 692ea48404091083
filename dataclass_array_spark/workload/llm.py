"""LLM training-data pipeline queries: dedup family, similarity search,
text analysis, multimodal columns.  Operators live in
``dataclass_array_spark.operators``; this module binds them to the
driver's ``documents``/``embeddings`` tables with DuckDB oracles.

All hashes are md5-derived (engine-portable); all float reductions go
through exact decimal accumulators — see operators.similarity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataclass_array_spark.operators import text as tx
from dataclass_array_spark.operators.dedup import (
    MINHASH_A,
    MINHASH_B,
    _MINHASH_P,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)

# inline the universal-hash minhash scheme for the oracle: per seed s,
# mh_s = MIN over shingles of (A_s*h32(sh) + B_s) mod P
_MH_EXPR = ", ".join(
    f"MIN((CAST(('0x'||substr(md5(sh),1,8)) AS BIGINT) * {MINHASH_A[s]} + {MINHASH_B[s]}) % {_MINHASH_P}) AS mh{s}"
    for s in range(16)
)
from dataclass_array_spark.operators.multimodal import attach_media, decode_media
from dataclass_array_spark.operators.similarity import brute_force_topk, srp_lsh_topk
from dataclass_array_spark.workload.base import load_tables, spread
from dataclass_array_spark.workload.catalog import Query

_SQL_TOKS = tx.SQL_TOKENS.format(t="text")


# ------------------------------------------------ exact dedup
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    return exact_dedup(d, "text", "doc_id").orderBy("fingerprint")


DEDUP_EXACT_SQL = f"""
SELECT {tx.sql_md5_fingerprint('text')} AS fingerprint,
       MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
FROM documents GROUP BY 1 ORDER BY 1
"""


# ------------------------------------------------ minhash LSH near-dup
_MH_THRESH = 0.3
# Bucket-size guard: buckets over this are dropped before the self-join
# (degenerate-corpus protection — a viral doc duplicated millions of
# times would otherwise make one bucket quadratic).  Real buckets at
# sf0.1 max out at 19, so the cap never binds on this corpus; the oracle
# applies the identical cap so the comparison is exact either way.
_MH_CAP = 64


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    return minhash_lsh_pairs(
        d, "text", "doc_id", n_hashes=16, bands=4, threshold=_MH_THRESH,
        max_bucket_size=_MH_CAP,
    )


MINHASH_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), sh AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id, unnest(CASE WHEN len(toks) >= 3 THEN
        list_transform(generate_series(1, len(toks)-2),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      ELSE [] END) AS sh
    FROM toks)
), sig AS (
  SELECT doc_id, {_MH_EXPR}
  FROM sh GROUP BY doc_id
), bands0 AS (
  SELECT doc_id, band,
         CASE band
           WHEN 0 THEN mh0||':'||mh1||':'||mh2||':'||mh3
           WHEN 1 THEN mh4||':'||mh5||':'||mh6||':'||mh7
           WHEN 2 THEN mh8||':'||mh9||':'||mh10||':'||mh11
           ELSE mh12||':'||mh13||':'||mh14||':'||mh15 END AS sig
  FROM sig, generate_series(0,3) AS g(band)
), bands AS (
  SELECT doc_id, band, sig FROM (
    SELECT doc_id, band, sig, COUNT(*) OVER (PARTITION BY band, sig) AS bn
    FROM bands0)
  WHERE bn <= {_MH_CAP}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
), counts AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS ni FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b AND sb.sh = sa.sh
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       CAST(i.ni AS DOUBLE)/(ca.n + cb.n - i.ni) AS jaccard
FROM inter i
JOIN counts ca ON ca.doc_id = i.id_a
JOIN counts cb ON cb.doc_id = i.id_b
WHERE CAST(i.ni AS DOUBLE)/(ca.n + cb.n - i.ni) >= {_MH_THRESH}
ORDER BY id_a, id_b
"""


# ------------------------------------------------ n-gram jaccard near-dup
_JC_THRESH = 0.2
_MAX_DF = 1000


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs baseline — inherently quadratic in shingle doc
    frequency, so it runs on a bounded 1000-doc slice (the scale path is
    dedup_minhash_lsh); the oracle mirrors the slice."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    d = d.filter(F.col("doc_id") < 1000)
    return ngram_jaccard_pairs(
        d, "text", "doc_id", threshold=_JC_THRESH, max_doc_freq=_MAX_DF
    )


NGRAM_JACCARD_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents WHERE doc_id < 1000
), sh0 AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id, unnest(CASE WHEN len(toks) >= 3 THEN
        list_transform(generate_series(1, len(toks)-2),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      ELSE [] END) AS sh
    FROM toks)
), freq AS (
  SELECT sh, COUNT(*) AS df_ FROM sh0 GROUP BY sh
), sh AS (
  SELECT sh0.doc_id, sh0.sh FROM sh0 JOIN freq USING (sh) WHERE df_ <= {_MAX_DF}
), counts AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, n_inter,
       CAST(n_inter AS DOUBLE)/(ca.n_sh + cb.n_sh - n_inter) AS jaccard
FROM inter
JOIN counts ca ON ca.doc_id = id_a
JOIN counts cb ON cb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE)/(ca.n_sh + cb.n_sh - n_inter) >= {_JC_THRESH}
ORDER BY id_a, id_b
"""


# ------------------------------------------------ simhash fingerprints
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    return d.select("doc_id", simhash(F.col("text"), 32).alias("simhash")).orderBy("doc_id")


SIMHASH_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
), h AS (
  SELECT doc_id, CAST(('0x'||substr(md5(tok),1,15)) AS BIGINT) AS hv FROM tok
), votes AS (
  SELECT doc_id, j,
         SUM(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h, generate_series(0,31) AS g(j) GROUP BY doc_id, j
), fp AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(fp.simhash, 0) AS simhash
FROM documents d LEFT JOIN fp ON fp.doc_id = d.doc_id
ORDER BY d.doc_id
"""


# ------------------------------------------------ text analysis
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    t = F.col("text")
    return d.select(
        "doc_id",
        F.length(t).cast("long").alias("n_chars"),
        tx.token_count(t).alias("n_tokens"),
        tx.bpe_token_count(t).alias("n_bpe_tokens"),
        tx.punct_count(t).alias("n_punct"),
        tx.quality_score(t).alias("quality"),
    ).orderBy("doc_id")


TEXT_STATS_SQL = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(lower(text), '{tx.BPE_PATTERN}')) AS BIGINT) AS n_bpe_tokens,
       CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       {tx.sql_quality('text')} AS quality
FROM documents ORDER BY doc_id
"""


def lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    return (
        d.select("doc_id", tx.lang_id(F.col("text")).alias("lang_pred"))
        .orderBy("doc_id")
    )


LANG_ID_SQL = f"""
SELECT doc_id, {tx.sql_lang_id('text')} AS lang_pred
FROM documents ORDER BY doc_id
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    t = F.col("text")
    return d.select(
        "doc_id",
        tx.md5_fingerprint(t).alias("md5_fp"),
        tx.rolling_fingerprint(t).alias("rolling_fp"),
    ).orderBy("doc_id")


FINGERPRINT_SQL = f"""
SELECT doc_id,
       {tx.sql_md5_fingerprint('text')} AS md5_fp,
       {tx.sql_rolling_fingerprint('text')} AS rolling_fp
FROM documents ORDER BY doc_id
"""


# ------------------------------------------------ similarity search
_DEC = "DECIMAL(38,25)"
_N_QUERIES = 10


def embedding_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine reported as integer nanos (floor(cos*1e9)) — Spark's
    double→decimal cast goes through the shortest string repr, so raw
    cosines can differ from the oracle by 1 ulp; the integer scaling
    absorbs that while keeping 9 significant digits."""
    e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    q = e.filter(F.col("vec_id") < _N_QUERIES)
    out = brute_force_topk(q, e, "vec_id", "vec_id", "embedding", k=5)
    return out.select(
        "qid",
        F.col("rank").cast("long").alias("rnk"),
        "nid",
        F.floor(F.col("cosine") * 1e9).cast("long").alias("cos_e9"),
    )


COSINE_SQL = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
  SELECT vec_id,
         list_reduce(list_prepend(0.0, list_transform(list_zip(v, v),
              p -> p[1]*p[2])), (acc, x) -> acc + x) AS n2
  FROM e
), q AS (
  SELECT e.vec_id AS qid, v AS qv, n2 AS qn2 FROM e JOIN n USING (vec_id)
  WHERE vec_id < {_N_QUERIES}
), scored AS (
  SELECT qid, e.vec_id AS nid,
         list_reduce(list_prepend(0.0, list_transform(list_zip(qv, v),
              p -> p[1]*p[2])), (acc, x) -> acc + x)
           / (sqrt(qn2) * sqrt(n2)) AS cosine
  FROM q, e JOIN n USING (vec_id)
  WHERE e.vec_id != qid
), r AS (
  SELECT qid, nid, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
  FROM scored
)
SELECT qid, rnk, nid, CAST(FLOOR(cosine * 1e9) AS BIGINT) AS cos_e9
FROM r WHERE rnk <= 5 ORDER BY qid, rnk
"""


def embedding_ann_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via SRP-LSH buckets — the scale path.  The
    hyperplane signs are md5-derived driver constants, so the oracle
    replays the identical bucketing with literal sign arrays and the
    gate is EXACT (bucket assignment + per-bucket cosine top-k)."""
    e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    q = e.filter(F.col("vec_id") < _N_QUERIES)
    out = srp_lsh_topk(q, e, "vec_id", "vec_id", "embedding", dim=64, k=5, n_planes=8)
    return out.select(
        "qid",
        F.col("rank").cast("long").alias("rnk"),
        "nid",
        F.floor(F.col("cosine") * 1e9).cast("long").alias("cos_e9"),
    )


def _srp_plane_dot_sql(p: int, dim: int) -> str:
    """DuckDB replica of similarity.srp_signature's plane-p dot: the
    same md5-derived ±1 signs, inlined as a literal array, folded
    left-to-right exactly like the Spark side."""
    from dataclass_array_spark.operators.similarity import _srp_signs

    arr = "[" + ", ".join("1.0" if s > 0 else "-1.0" for s in _srp_signs(p, dim)) + "]"
    return (
        f"list_reduce(list_prepend(0.0, list_transform(list_zip(v, {arr}), "
        "p -> p[1]*p[2])), (acc, x) -> acc + x)"
    )


_SRP_BUCKET = " + ".join(
    f"(CASE WHEN {_srp_plane_dot_sql(p, 64)} > 0 THEN {1 << p} ELSE 0 END)"
    for p in range(8)
)

SRP_SQL = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), s AS (
  SELECT vec_id, v,
         list_reduce(list_prepend(0.0, list_transform(list_zip(v, v),
              p -> p[1]*p[2])), (acc, x) -> acc + x) AS n2,
         CAST({_SRP_BUCKET} AS BIGINT) AS bucket
  FROM e
), q AS (
  SELECT vec_id AS qid, v AS qv, n2 AS qn2, bucket FROM s
  WHERE vec_id < {_N_QUERIES}
), scored AS (
  SELECT q.qid, s.vec_id AS nid,
         list_reduce(list_prepend(0.0, list_transform(list_zip(qv, s.v),
              p -> p[1]*p[2])), (acc, x) -> acc + x)
           / (sqrt(qn2) * sqrt(s.n2)) AS cosine
  FROM q JOIN s USING (bucket) WHERE s.vec_id != q.qid
), r AS (
  SELECT qid, nid, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
  FROM scored
)
SELECT qid, rnk, nid, CAST(FLOOR(cosine * 1e9) AS BIGINT) AS cos_e9
FROM r WHERE rnk <= 5 ORDER BY qid, rnk
"""


# ------------------------------------------------ multimodal
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    m = attach_media(d, "doc_id", "text")
    return m.select(
        "doc_id",
        F.col("meta.media_type").alias("media_type"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.content_md5").alias("content_md5"),
    ).orderBy("doc_id")


MULTIMODAL_META_SQL = """
SELECT doc_id,
       ['image/png','audio/wav','video/mp4'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents ORDER BY doc_id
"""


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stub decoder over Arrow batches (mapInArrow) — the oracle
    recomputes the same md5-derived fake dimensions in SQL, which
    cross-checks the whole Python-worker plumbing."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    m = attach_media(d, "doc_id", "text")
    return decode_media(m).orderBy("doc_id")


MULTIMODAL_DECODE_SQL = """
SELECT doc_id,
       CAST(1 + CAST(('0x'||substr(md5(text),1,2)) AS INT) % 512 AS INT) AS width,
       CAST(1 + CAST(('0x'||substr(md5(text),3,2)) AS INT) % 512 AS INT) AS height,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents ORDER BY doc_id
"""


QUERIES = {
    "dedup_exact_docs": Query(dedup_exact_docs, DEDUP_EXACT_SQL, tags=("dedup",)),
    "dedup_minhash_lsh": Query(dedup_minhash_lsh, MINHASH_SQL, tags=("dedup", "lsh")),
    "dedup_ngram_jaccard": Query(dedup_ngram_jaccard, NGRAM_JACCARD_SQL, tags=("dedup",)),
    "simhash_fingerprints": Query(simhash_fingerprints, SIMHASH_SQL, tags=("dedup",)),
    "text_stats": Query(text_stats, TEXT_STATS_SQL, tags=("text",)),
    "lang_id_docs": Query(lang_id_docs, LANG_ID_SQL, tags=("text",)),
    "doc_fingerprints": Query(doc_fingerprints, FINGERPRINT_SQL, tags=("text",)),
    "embedding_topk_cosine": Query(embedding_topk_cosine, COSINE_SQL, tags=("similarity",)),
    "embedding_ann_srp": Query(embedding_ann_srp, SRP_SQL, tags=("similarity", "lsh")),
    "multimodal_metadata": Query(multimodal_metadata, MULTIMODAL_META_SQL, tags=("multimodal",)),
    "multimodal_decode": Query(multimodal_decode, MULTIMODAL_DECODE_SQL, tags=("multimodal",)),
}


# ------------------------------------------------ dedup apply + IVF ANN
def dedup_apply_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup: MinHash-LSH pairs → drop higher-id member of
    every pair → surviving corpus (keep-lowest policy needs no
    transitive closure)."""
    from dataclass_array_spark.operators.dedup import drop_near_duplicates

    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    pairs = minhash_lsh_pairs(
        d, "text", "doc_id", n_hashes=16, bands=4, threshold=_MH_THRESH,
        max_bucket_size=_MH_CAP,
    )
    kept = drop_near_duplicates(d, pairs, "doc_id")
    return kept.select("doc_id", "source", "lang").orderBy("doc_id")


DEDUP_APPLY_SQL = f"""
WITH pairs AS ({MINHASH_SQL.replace('ORDER BY id_a, id_b', '')})
SELECT doc_id, source, lang FROM documents
WHERE doc_id NOT IN (SELECT DISTINCT id_b FROM pairs)
ORDER BY doc_id
"""


def embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell ANN (deterministic centroids) — second ANN strategy
    beside SRP-LSH.  Centroids and cell assignments are deterministic
    cosine folds, so the oracle replays assignment + per-cell search
    exactly (full CTE replica below) and the gate is EXACT."""
    from dataclass_array_spark.operators.similarity import ivf_topk

    e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    q = e.filter(F.col("vec_id") < _N_QUERIES)
    out = ivf_topk(q, e, "vec_id", "vec_id", "embedding", n_centroids=16, nprobe=4, k=5)
    return out.select(
        "qid",
        F.col("rank").cast("long").alias("rnk"),
        "nid",
        F.floor(F.col("cosine") * 1e9).cast("long").alias("cos_e9"),
    )


# Oracle replica of ivf_topk(n_centroids=16, nprobe=4, k=5): centroids =
# first 16 corpus vectors; every vector ranks cells by cosine (ties ->
# lower centroid id, as the Spark probe's stable argsort by cent_id);
# corpus keeps rn=1, queries probe rn<=4; per-cell exact cosine
# top-5 with (cosine DESC, nid) ordering matching the Spark window.
_IVF_CELL_DOT = (
    "list_reduce(list_prepend(0.0, list_transform(list_zip(e.v, c.cv), "
    "p -> p[1]*p[2])), (acc, x) -> acc + x)"
)

IVF_SQL = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
  SELECT vec_id,
         list_reduce(list_prepend(0.0, list_transform(list_zip(v, v),
              p -> p[1]*p[2])), (acc, x) -> acc + x) AS n2
  FROM e
), c AS (
  SELECT e.vec_id AS cent_id, e.v AS cv, n.n2 AS cn2
  FROM e JOIN n USING (vec_id) ORDER BY vec_id LIMIT 16
), cells AS (
  SELECT vec_id, cell, rn FROM (
    SELECT e.vec_id, c.cent_id AS cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             {_IVF_CELL_DOT} / (sqrt(n.n2) * sqrt(c.cn2)) DESC, c.cent_id) AS rn
    FROM e JOIN n USING (vec_id) CROSS JOIN c
  )
), ca AS (
  SELECT vec_id AS nid, cell FROM cells WHERE rn = 1
), qa AS (
  SELECT vec_id AS qid, cell FROM cells WHERE rn <= 4 AND vec_id < {_N_QUERIES}
), scored AS (
  SELECT qa.qid, ca.nid,
         list_reduce(list_prepend(0.0, list_transform(list_zip(eq.v, ec.v),
              p -> p[1]*p[2])), (acc, x) -> acc + x)
           / (sqrt(nq.n2) * sqrt(nc.n2)) AS cosine
  FROM qa JOIN ca USING (cell)
  JOIN e eq ON eq.vec_id = qa.qid JOIN n nq ON nq.vec_id = qa.qid
  JOIN e ec ON ec.vec_id = ca.nid JOIN n nc ON nc.vec_id = ca.nid
  WHERE qa.qid != ca.nid
), r AS (
  SELECT qid, nid, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
  FROM scored
)
SELECT qid, rnk, nid, CAST(FLOOR(cosine * 1e9) AS BIGINT) AS cos_e9
FROM r WHERE rnk <= 5 ORDER BY qid, rnk
"""


def embedding_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large × large kNN join: EVERY embedding retrieves its cosine
    top-3 among vectors sharing an IVF cell, with neither side broadcast
    (partitioned equi-join on cell — the retrieval shape where the
    "query" set is itself corpus-scale; ``embedding_ann_ivf`` covers the
    small-query broadcast shape).  Deterministic centroids + fold-exact
    cosines make the oracle an exact CTE replay."""
    from dataclass_array_spark.operators.similarity import knn_join

    e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    out = knn_join(
        e, e, "vec_id", "vec_id", "embedding",
        n_centroids=64, nprobe=2, k=3, exclude_self=True,
    )
    return out.select(
        "qid",
        F.col("rank").cast("long").alias("rnk"),
        "nid",
        F.floor(F.col("cosine") * 1e9).cast("long").alias("cos_e9"),
    )


# Oracle replica of knn_join(n_centroids=64, nprobe=2, k=3,
# exclude_self): centroids = first 64 corpus vectors; cells ranked by
# (cosine DESC, cent_id) — left keeps rn<=2, right keeps rn=1.
KNN_JOIN_SQL = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
  SELECT vec_id,
         list_reduce(list_prepend(0.0, list_transform(list_zip(v, v),
              p -> p[1]*p[2])), (acc, x) -> acc + x) AS n2
  FROM e
), c AS (
  SELECT e.vec_id AS cent_id, e.v AS cv, n.n2 AS cn2
  FROM e JOIN n USING (vec_id) ORDER BY vec_id LIMIT 64
), cells AS (
  SELECT vec_id, cell, rn FROM (
    SELECT e.vec_id, c.cent_id AS cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             {_IVF_CELL_DOT} / (sqrt(n.n2) * sqrt(c.cn2)) DESC, c.cent_id) AS rn
    FROM e JOIN n USING (vec_id) CROSS JOIN c
  )
), la AS (
  SELECT vec_id AS qid, cell FROM cells WHERE rn <= 2
), ra AS (
  SELECT vec_id AS nid, cell FROM cells WHERE rn = 1
), scored AS (
  SELECT la.qid, ra.nid,
         list_reduce(list_prepend(0.0, list_transform(list_zip(eq.v, ec.v),
              p -> p[1]*p[2])), (acc, x) -> acc + x)
           / (sqrt(nq.n2) * sqrt(nc.n2)) AS cosine
  FROM la JOIN ra USING (cell)
  JOIN e eq ON eq.vec_id = la.qid JOIN n nq ON nq.vec_id = la.qid
  JOIN e ec ON ec.vec_id = ra.nid JOIN n nc ON nc.vec_id = ra.nid
  WHERE la.qid != ra.nid
), r AS (
  SELECT qid, nid, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
  FROM scored
)
SELECT qid, rnk, nid, CAST(FLOOR(cosine * 1e9) AS BIGINT) AS cos_e9
FROM r WHERE rnk <= 3 ORDER BY qid, rnk
"""


_KNN_TRAIN_LIMIT = 256  # sampled Lloyd's: train on the 256 lowest ids
# 64 cells — SAME cell count as the first-n embedding_knn_join gate, so
# the two gates differ only in how centroids are chosen and their
# per-cell block sizes stay bounded alike (8 cells at sf1 meant ~2.5k
# rows/cell → 100M block cosines; 64 keeps it ~300/cell).
_KNN_KM_CELLS = 64


def embedding_knn_join_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN join over TRAINED cells: the same large×large retrieval join
    as ``embedding_knn_join`` but with Lloyd's k-means centroids
    (``centroids="kmeans"`` — the composition the knn_join docstring
    promises) instead of the first-n-by-id stand-in.  Training is
    SAMPLED (``kmeans_train_limit`` lowest-id rows, one bounded
    top-m pass instead of ``iters`` full-corpus scans — the 100 TB
    recipe: centroids are metadata, the corpus is not); the limit binds
    even at sf0.01 (256 < 500 rows), so the oracle replays the
    identical sampled training (``et`` CTE), then the identical
    cell-cosine CTEs — the gate stays value-exact AND exercises the
    sampling."""
    from dataclass_array_spark.operators.similarity import knn_join

    e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    out = knn_join(
        e, e, "vec_id", "vec_id", "embedding",
        n_centroids=_KNN_KM_CELLS, nprobe=2, k=3, exclude_self=True,
        centroids="kmeans", kmeans_iters=2,
        kmeans_train_limit=_KNN_TRAIN_LIMIT,
    )
    return out.select(
        "qid",
        F.col("rank").cast("long").alias("rnk"),
        "nid",
        F.floor(F.col("cosine") * 1e9).cast("long").alias("cos_e9"),
    )


def _knn_join_kmeans_sql() -> str:
    """Oracle: unrolled k-means (kmeans_sql_ctes, ending at c2 =
    trained centroids) + the knn_join cell-assignment/scoring CTEs of
    KNN_JOIN_SQL with c replaced by the trained centroids (cn2 is the
    same sequential fold the operator computes driver-side)."""
    from dataclass_array_spark.operators.clustering import kmeans_sql_ctes

    base = kmeans_sql_ctes(
        "embeddings", "vec_id", "embedding", dim=64, k=_KNN_KM_CELLS, iters=2,
        train_limit=_KNN_TRAIN_LIMIT,
    )
    return base + f""", n AS (
  SELECT vec_id,
         list_reduce(list_prepend(0.0, list_transform(list_zip(v, v),
              p -> p[1]*p[2])), (acc, x) -> acc + x) AS n2
  FROM e
), cents AS (
  SELECT cid AS cent_id, cv,
         list_reduce(list_prepend(0.0, list_transform(list_zip(cv, cv),
              p -> p[1]*p[2])), (acc, x) -> acc + x) AS cn2
  FROM c2
), cells AS (
  SELECT vec_id, cell, rn FROM (
    SELECT e.vec_id, c.cent_id AS cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             {_IVF_CELL_DOT} / (sqrt(n.n2) * sqrt(c.cn2)) DESC, c.cent_id) AS rn
    FROM e JOIN n USING (vec_id) CROSS JOIN cents c
  )
), la AS (
  SELECT vec_id AS qid, cell FROM cells WHERE rn <= 2
), ra AS (
  SELECT vec_id AS nid, cell FROM cells WHERE rn = 1
), scored AS (
  SELECT la.qid, ra.nid,
         list_reduce(list_prepend(0.0, list_transform(list_zip(eq.v, ec.v),
              p -> p[1]*p[2])), (acc, x) -> acc + x)
           / (sqrt(nq.n2) * sqrt(nc.n2)) AS cosine
  FROM la JOIN ra USING (cell)
  JOIN e eq ON eq.vec_id = la.qid JOIN n nq ON nq.vec_id = la.qid
  JOIN e ec ON ec.vec_id = ra.nid JOIN n nc ON nc.vec_id = ra.nid
  WHERE la.qid != ra.nid
), r AS (
  SELECT qid, nid, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
  FROM scored
)
SELECT qid, rnk, nid, CAST(FLOOR(cosine * 1e9) AS BIGINT) AS cos_e9
FROM r WHERE rnk <= 3 ORDER BY qid, rnk
"""


def embedding_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over TRAINED cells: ``ivf_topk(centroids="kmeans")``
    with sampled Lloyd's training (one bounded top-m pass — the
    production IVF recipe the plain gate's docstring concedes).  The
    oracle replays the identical sampled k-means (``et`` CTE,
    decimal-exact means) and then the identical cell-cosine CTEs, so
    the trained path is value-exact under the driver gate, not just
    recall-floor tested."""
    from dataclass_array_spark.operators.similarity import ivf_topk

    e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    q = e.filter(F.col("vec_id") < _N_QUERIES)
    out = ivf_topk(
        q, e, "vec_id", "vec_id", "embedding", n_centroids=16, nprobe=4, k=5,
        centroids="kmeans", kmeans_iters=2, kmeans_train_limit=_KNN_TRAIN_LIMIT,
    )
    return out.select(
        "qid",
        F.col("rank").cast("long").alias("rnk"),
        "nid",
        F.floor(F.col("cosine") * 1e9).cast("long").alias("cos_e9"),
    )


def _ivf_kmeans_sql() -> str:
    """Oracle: sampled unrolled k-means (ending at c2 = trained
    centroids) + the IVF_SQL cell/scoring CTEs against them."""
    from dataclass_array_spark.operators.clustering import kmeans_sql_ctes

    base = kmeans_sql_ctes(
        "embeddings", "vec_id", "embedding", dim=64, k=16, iters=2,
        train_limit=_KNN_TRAIN_LIMIT,
    )
    return base + f""", n AS (
  SELECT vec_id,
         list_reduce(list_prepend(0.0, list_transform(list_zip(v, v),
              p -> p[1]*p[2])), (acc, x) -> acc + x) AS n2
  FROM e
), cents AS (
  SELECT cid AS cent_id, cv,
         list_reduce(list_prepend(0.0, list_transform(list_zip(cv, cv),
              p -> p[1]*p[2])), (acc, x) -> acc + x) AS cn2
  FROM c2
), cells AS (
  SELECT vec_id, cell, rn FROM (
    SELECT e.vec_id, c.cent_id AS cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             {_IVF_CELL_DOT} / (sqrt(n.n2) * sqrt(c.cn2)) DESC, c.cent_id) AS rn
    FROM e JOIN n USING (vec_id) CROSS JOIN cents c
  )
), ca AS (
  SELECT vec_id AS nid, cell FROM cells WHERE rn = 1
), qa AS (
  SELECT vec_id AS qid, cell FROM cells WHERE rn <= 4 AND vec_id < {_N_QUERIES}
), scored AS (
  SELECT qa.qid, ca.nid,
         list_reduce(list_prepend(0.0, list_transform(list_zip(eq.v, ec.v),
              p -> p[1]*p[2])), (acc, x) -> acc + x)
           / (sqrt(nq.n2) * sqrt(nc.n2)) AS cosine
  FROM qa JOIN ca USING (cell)
  JOIN e eq ON eq.vec_id = qa.qid JOIN n nq ON nq.vec_id = qa.qid
  JOIN e ec ON ec.vec_id = ca.nid JOIN n nc ON nc.vec_id = ca.nid
  WHERE qa.qid != ca.nid
), r AS (
  SELECT qid, nid, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
  FROM scored
)
SELECT qid, rnk, nid, CAST(FLOOR(cosine * 1e9) AS BIGINT) AS cos_e9
FROM r WHERE rnk <= 5 ORDER BY qid, rnk
"""


QUERIES["dedup_apply_minhash"] = Query(dedup_apply_minhash, DEDUP_APPLY_SQL, tags=("dedup",))
QUERIES["embedding_ann_ivf_kmeans"] = Query(
    embedding_ann_ivf_kmeans, _ivf_kmeans_sql(), tags=("similarity", "ann")
)
QUERIES["embedding_ann_ivf"] = Query(embedding_ann_ivf, IVF_SQL, tags=("similarity", "ann"))
QUERIES["embedding_knn_join"] = Query(embedding_knn_join, KNN_JOIN_SQL, tags=("similarity", "knn"))
QUERIES["embedding_knn_join_kmeans"] = Query(
    embedding_knn_join_kmeans, _knn_join_kmeans_sql(), tags=("similarity", "knn")
)


# ------------------------------------------------ end-to-end pipeline
def pipeline_quality_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-star composition in one DAG: text analysis (lang-ID +
    quality + token count) → quality/language filter → exact dedup →
    per-source corpus stats.  Single pass over documents: the analysis
    columns are narrow in-scan expressions; the only shuffles are the
    dedup groupBy and the final rollup."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    t = F.col("text")
    enriched = d.select(
        "doc_id",
        "source",
        tx.lang_id(t).alias("lang_pred"),
        tx.quality_score(t).alias("quality"),
        tx.token_count(t).alias("n_tokens"),
        tx.md5_fingerprint(t).alias("fp"),
    )
    kept = enriched.filter(
        (F.col("lang_pred") == "en") & (F.col("quality") >= 1.0) & (F.col("n_tokens") >= 20)
    )
    canonical = (
        kept.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    )
    final = kept.join(canonical, on=["fp", "doc_id"], how="inner")
    return (
        final.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(F.col("quality").cast("decimal(25,6)")).cast("double").alias("sum_quality"),
        )
        .orderBy("source")
    )


PIPELINE_SQL = f"""
WITH enriched AS (
  SELECT doc_id, source,
         {tx.sql_lang_id('text')} AS lang_pred,
         {tx.sql_quality('text')} AS quality,
         CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
         {tx.sql_md5_fingerprint('text')} AS fp
  FROM documents
), kept AS (
  SELECT * FROM enriched
  WHERE lang_pred = 'en' AND quality >= 1.0 AND n_tokens >= 20
), canonical AS (
  SELECT fp, MIN(doc_id) AS doc_id FROM kept GROUP BY fp
)
SELECT k.source, COUNT(*) AS n_docs,
       CAST(SUM(k.n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(CAST(k.quality AS DECIMAL(25,6))) AS DOUBLE) AS sum_quality
FROM kept k JOIN canonical c ON k.fp = c.fp AND k.doc_id = c.doc_id
GROUP BY k.source ORDER BY k.source
"""

QUERIES["pipeline_quality_corpus"] = Query(
    pipeline_quality_corpus, PIPELINE_SQL, tags=("pipeline", "text", "dedup")
)


# ------------------------------------------------ chunking + vocabulary
_CHUNK, _OVERLAP = 40, 10


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (40-token chunks, 10 overlap) —
    the standard pre-training segmentation, as one explode over an
    in-scan chunk array."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    ch = tx.chunk_tokens(F.col("text"), _CHUNK, _OVERLAP)
    return (
        d.select("doc_id", F.explode(ch).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_id").cast("long").alias("chunk_id"),
            F.col("c.n_tokens").alias("n_tokens"),
            F.md5(F.col("c.chunk_text")).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_id")
    )


CHUNK_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), ch AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, CAST(floor((len(toks)-1)/30) AS INT))) AS chunk_id
  FROM toks WHERE len(toks) > 0
)
SELECT doc_id, chunk_id,
       CAST(LEAST(len(toks) - chunk_id*30, 40) AS BIGINT) AS n_tokens,
       md5(array_to_string(toks[(chunk_id*30+1):(chunk_id*30+40)], ' ')) AS chunk_md5
FROM ch ORDER BY doc_id, chunk_id
"""


def vocab_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: word frequencies + document frequencies,
    top-100 by count (tie-broken by word)."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    w = d.select("doc_id", F.explode(tx.tokens(F.col("text"))).alias("word"))
    return (
        w.groupBy("word")
        .agg(F.count("*").alias("tf"), F.countDistinct("doc_id").alias("df"))
        .orderBy(F.desc("tf"), "word")
        .limit(100)
    )


VOCAB_SQL = f"""
SELECT word, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
FROM (SELECT doc_id, unnest({_SQL_TOKS}) AS word FROM documents)
GROUP BY word ORDER BY tf DESC, word LIMIT 100
"""

QUERIES["chunk_documents"] = Query(chunk_documents, CHUNK_SQL, tags=("text", "chunking"))
QUERIES["vocab_top_words"] = Query(vocab_top_words, VOCAB_SQL, tags=("text",))


# ------------------------------------------------ TF-IDF top terms
_TFIDF_DOCS = 200


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 TF-IDF terms (bounded doc slice).  IDF uses the
    full corpus; ln over identical doubles is identical cross-engine, and
    the score is floor-scaled for hash-safety at ranking boundaries."""
    from pyspark.sql import Window

    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    words = d.select("doc_id", F.explode(tx.tokens(F.col("text"))).alias("word"))
    n_docs = d.count()
    df_ = words.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    tf = (
        words.filter(F.col("doc_id") < _TFIDF_DOCS)
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    scored = tf.join(F.broadcast(df_), "word").select(
        "doc_id",
        "word",
        (
            F.col("tf").cast("double")
            * F.log(F.lit(float(n_docs)) / F.col("df").cast("double"))
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "word")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select("doc_id", "rnk", "word", F.floor(F.col("tfidf") * 1e9).cast("long").alias("tfidf_e9"))
        .orderBy("doc_id", "rnk")
    )


TFIDF_SQL = f"""
WITH words AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS word FROM documents
), df_ AS (
  SELECT word, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY word
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM words
  WHERE doc_id < {_TFIDF_DOCS} GROUP BY doc_id, word
), scored AS (
  SELECT doc_id, word,
         CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS tfidf
  FROM tf JOIN df_ USING (word), n
), r AS (
  SELECT doc_id, word, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rnk
  FROM scored
)
SELECT doc_id, rnk, word, CAST(FLOOR(tfidf * 1e9) AS BIGINT) AS tfidf_e9
FROM r WHERE rnk <= 5 ORDER BY doc_id, rnk
"""

QUERIES["tfidf_top_terms"] = Query(tfidf_top_terms, TFIDF_SQL, tags=("text", "ranking"))


# ------------------------------------------------ dup clusters (components)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate CLUSTERS via iterative min-label
    propagation (transitive closure); oracle recomputes reachability
    with a recursive CTE."""
    from dataclass_array_spark.operators.graph import connected_components

    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    pairs = minhash_lsh_pairs(
        d, "text", "doc_id", n_hashes=16, bands=4, threshold=_MH_THRESH,
        max_bucket_size=_MH_CAP,
    )
    cc = connected_components(pairs.select("id_a", "id_b"))
    return cc.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("comp").cast("long").alias("cluster_id"),
    ).orderBy("doc_id")


COMPONENTS_SQL = f"""
WITH RECURSIVE pairs AS ({MINHASH_SQL.replace('ORDER BY id_a, id_b', '')}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b AS u, id_a AS v FROM pairs
),
reach AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
SELECT u AS doc_id,
       LEAST(u, MIN(v)) AS cluster_id
FROM reach GROUP BY u ORDER BY doc_id
"""

QUERIES["dedup_components"] = Query(dedup_components, COMPONENTS_SQL, tags=("dedup", "graph"))


# ------------------------------------------------ deterministic splits
from dataclass_array_spark.operators.sampling import (  # noqa: E402
    hash_split,
    sql_hash_split,
    sql_stratified_sample_pred,
    stratified_sample,
)

_SPLIT_W = {"train": 0.9, "val": 0.05, "test": 0.05}


def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-keyed train/val/test assignment (re-run-stable; keyed on
    doc_id so derived chunks inherit the split — the leakage guard).
    Output = per-(split, lang) counts + id ranges."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    s = hash_split(d, "doc_id", _SPLIT_W)
    return (
        s.groupBy("split", "lang")
        .agg(
            F.count("*").alias("n"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("split", "lang")
    )


SPLIT_SQL = f"""
SELECT {sql_hash_split('doc_id', _SPLIT_W)} AS split, lang, COUNT(*) AS n,
       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
FROM documents GROUP BY 1, 2 ORDER BY split, lang
"""


_STRATA = {"en": 0.5, "de": 0.25, "fr": 0.1}


def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling (sampleBy analog, but
    hash-threshold so re-runs keep identical rows)."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    s = stratified_sample(d, "lang", _STRATA, "doc_id", default_fraction=0.05)
    return (
        s.groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("lang")
    )


STRATIFIED_SQL = f"""
SELECT lang, COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
FROM documents
WHERE {sql_stratified_sample_pred('lang', _STRATA, 'doc_id', default_fraction=0.05)}
GROUP BY lang ORDER BY lang
"""


# ------------------------------------------------ sequence packing
_BLOCK = 2048


def pack_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chop packing of the whole corpus into 2048-token
    context windows via the two-phase global cumsum (no single-partition
    sort); per-doc placement emitted for a bounded id slice."""
    from dataclass_array_spark.operators.packing import pack_sequences

    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    sized = d.select("doc_id", tx.token_count(F.col("text")).alias("n_toks"))
    packed = pack_sequences(sized, "doc_id", "n_toks", _BLOCK)
    return (
        packed.filter(F.col("doc_id") < 500)
        .select(
            "doc_id", "n_toks", "start_tok", "start_block",
            "start_off", "end_block", "n_blocks",
        )
        .orderBy("doc_id")
    )


PACK_SQL = f"""
WITH sized AS (
  SELECT doc_id, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_toks FROM documents
), cum AS (
  SELECT doc_id, n_toks,
         CAST(SUM(n_toks) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c
  FROM sized
)
SELECT doc_id, n_toks,
       c - n_toks AS start_tok,
       (c - n_toks) // {_BLOCK} AS start_block,
       (c - n_toks) % {_BLOCK} AS start_off,
       CASE WHEN n_toks > 0 THEN (c - 1) // {_BLOCK}
            ELSE (c - n_toks) // {_BLOCK} END AS end_block,
       CASE WHEN n_toks > 0 THEN (c - 1) // {_BLOCK}
            ELSE (c - n_toks) // {_BLOCK} END - (c - n_toks) // {_BLOCK} + 1 AS n_blocks
FROM cum WHERE doc_id < 500 ORDER BY doc_id
"""


# ------------------------------------------------ BM25 ranking
_BM25_TERMS = ("join", "hash", "scan")
_BM25_K1 = 1.2
_BM25_B = 0.75


def bm25_doc_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 documents by BM25 over a fixed term set.  Exactness: doc
    lengths and term frequencies are integers; avgdl = long-sum/count is
    one exact double division; per-term scores are pure rational double
    arithmetic + one ln (bit-identical across engines, as in TF-IDF);
    the cross-term sum goes through the decimal accumulator so addition
    order cannot flip ranking boundaries."""
    from dataclass_array_spark.workload.base import dsum

    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    words = d.select("doc_id", F.explode(tx.tokens(F.col("text"))).alias("word"))
    lens = words.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = lens.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("tot")
    ).collect()[0]
    n_docs, avgdl = stats["n_docs"], stats["tot"] / float(stats["n_docs"])
    tf = (
        words.filter(F.col("word").isin(*_BM25_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = F.lit(_BM25_K1) * (
        F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * F.col("dl").cast("double") / F.lit(avgdl)
    )
    term_score = idf * (
        F.col("tf").cast("double") * F.lit(_BM25_K1 + 1.0)
    ) / (F.col("tf").cast("double") + norm)
    scored = (
        tf.join(F.broadcast(df_), "word")
        .join(lens, "doc_id")
        .select("doc_id", term_score.alias("s"))
        .groupBy("doc_id")
        .agg(dsum(F.col("s"), "score"))
    )
    return (
        scored.select("doc_id", F.floor(F.col("score") * 1e6).cast("long").alias("score_e6"))
        .orderBy(F.desc("score_e6"), "doc_id")
        .limit(50)
    )


BM25_SQL = f"""
WITH words AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS word FROM documents
), lens AS (
  SELECT doc_id, COUNT(*) AS dl FROM words GROUP BY doc_id
), stats AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS tot FROM lens
), tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM words
  WHERE word IN ('join', 'hash', 'scan') GROUP BY doc_id, word
), df_ AS (
  SELECT word, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY word
), scored AS (
  SELECT t.doc_id,
         ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
         * (CAST(tf AS DOUBLE) * {_BM25_K1 + 1.0})
         / (CAST(tf AS DOUBLE) + {_BM25_K1} * ({1.0 - _BM25_B} + {_BM25_B}
            * CAST(dl AS DOUBLE) / (CAST(tot AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS s
  FROM tf t JOIN df_ USING (word) JOIN lens l ON l.doc_id = t.doc_id, stats
), agg AS (
  SELECT doc_id, (CAST(FLOOR(SUM(CAST(s AS DECIMAL(25,6)))) AS DOUBLE)
                  + CAST(SUM(CAST(s AS DECIMAL(25,6))) - FLOOR(SUM(CAST(s AS DECIMAL(25,6)))) AS DOUBLE)) AS score
  FROM scored GROUP BY doc_id
)
SELECT doc_id, CAST(FLOOR(score * 1e6) AS BIGINT) AS score_e6
FROM agg ORDER BY score_e6 DESC, doc_id LIMIT 50
"""

QUERIES["split_train_val_test"] = Query(split_train_val_test, SPLIT_SQL, tags=("sampling",))
QUERIES["stratified_sample_docs"] = Query(stratified_sample_docs, STRATIFIED_SQL, tags=("sampling",))
QUERIES["pack_context_windows"] = Query(pack_context_windows, PACK_SQL, tags=("packing",))
QUERIES["bm25_doc_ranking"] = Query(bm25_doc_ranking, BM25_SQL, tags=("text", "ranking"))


def dedup_keep_best_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters keep the BEST-QUALITY member instead of the
    lowest id — the production dedup policy (dropping the highest-
    quality copy of a duplicated page wastes signal).  Composition of
    three audited operators: MinHash-LSH pairs → min-label connected
    components (singletons keep their own id) → per-cluster argmax of
    the portable quality score (ties broken by doc_id).  Output keeps
    EVERY doc with its cluster and a ``kept`` flag so the oracle
    checks the selection itself, not just the survivor set."""
    from dataclass_array_spark.operators.graph import connected_components

    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    pairs = minhash_lsh_pairs(
        d, "text", "doc_id", n_hashes=16, bands=4, threshold=_MH_THRESH,
        max_bucket_size=_MH_CAP,
    )
    cc = connected_components(pairs.select("id_a", "id_b"))
    q = d.select("doc_id", tx.quality_score(F.col("text")).alias("quality"))
    j = q.join(cc, q["doc_id"] == cc["node"], "left").select(
        "doc_id",
        F.coalesce(F.col("comp"), F.col("doc_id")).cast("long").alias(
            "cluster_id"
        ),
        "quality",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality"), "doc_id")
    return (
        j.withColumn("__rn", F.row_number().over(w))
        .select(
            "doc_id", "cluster_id", "quality",
            (F.col("__rn") == 1).alias("kept"),
        )
        .orderBy("doc_id")
    )


KEEP_BEST_SQL = f"""
WITH RECURSIVE pairs AS ({MINHASH_SQL.replace('ORDER BY id_a, id_b', '')}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b AS u, id_a AS v FROM pairs
),
reach AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
cc AS (
  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
  FROM reach GROUP BY u
),
q AS (SELECT doc_id, {{QUALITY}} AS quality FROM documents),
j AS (
  SELECT q.doc_id, COALESCE(cc.cluster_id, q.doc_id) AS cluster_id, q.quality
  FROM q LEFT JOIN cc USING (doc_id)
)
SELECT doc_id, cluster_id, quality,
       (ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY quality DESC, doc_id) = 1)
         AS kept
FROM j ORDER BY doc_id
"""


QUERIES["dedup_keep_best_docs"] = Query(
    dedup_keep_best_docs,
    KEEP_BEST_SQL.replace("{QUALITY}", tx.sql_quality("text")),
    tags=("dedup", "graph", "quality"),
)
