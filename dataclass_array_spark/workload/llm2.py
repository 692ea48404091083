"""Training-data pipeline queries, part 2: benchmark decontamination,
Gopher-style repetition filters, embedding k-means clustering,
domain-mixture sampling.

Same contract as :mod:`workload.llm`: every query binds an operator to
the driver tables and carries a DuckDB oracle (md5-portable hashes,
decimal-exact float reductions) unless genuinely non-SQL-expressible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataclass_array_spark.operators import text as tx
from dataclass_array_spark.operators.decontam import ngram_overlap_vs_eval
from dataclass_array_spark.operators.quality import repetition_metrics
from dataclass_array_spark.workload.base import load_tables, spread
from dataclass_array_spark.workload.catalog import Query

_SQL_TOKS = tx.SQL_TOKENS.format(t="text")


# ------------------------------------------------ decontamination
_EVAL_MOD = 23  # doc_id % 23 == 0 stands in for the benchmark set
_DECONTAM_K = 5
_DECONTAM_THRESH = 0.5


def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-gram overlap of every training doc against the eval subset; the
    eval n-gram set is broadcast (benchmarks are tiny next to a 100 TB
    corpus) so the corpus side joins map-side."""
    d = spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    ev = d.filter(F.col("doc_id") % _EVAL_MOD == 0)
    corpus = d.filter(F.col("doc_id") % _EVAL_MOD != 0)
    return ngram_overlap_vs_eval(
        corpus, ev, "text", "doc_id", k=_DECONTAM_K, threshold=_DECONTAM_THRESH
    ).orderBy("doc_id")


_SQL_5GRAMS = """list_transform(generate_series(1, len(toks)-4),
          i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4])"""

DECONTAM_SQL = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, CAST(('0x'||substr(md5(sh_str),1,15)) AS BIGINT) AS sh FROM (
    SELECT DISTINCT doc_id, sh_str FROM (
      SELECT doc_id, unnest(CASE WHEN len(toks) >= {_DECONTAM_K} THEN {_SQL_5GRAMS}
        ELSE [] END) AS sh_str
      FROM toks))
),
ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % {_EVAL_MOD} = 0),
agg AS (
  SELECT c.doc_id, COUNT(*) AS n_grams, COUNT(ev.sh) AS n_hit
  FROM (SELECT * FROM sh WHERE doc_id % {_EVAL_MOD} != 0) c
  LEFT JOIN ev ON ev.sh = c.sh
  GROUP BY c.doc_id
)
SELECT d.doc_id,
       COALESCE(a.n_grams, 0) AS n_grams,
       COALESCE(a.n_hit, 0) AS n_hit,
       CASE WHEN COALESCE(a.n_grams, 0) > 0
            THEN CAST(a.n_hit AS DOUBLE) / a.n_grams ELSE 0.0 END AS overlap_frac,
       CASE WHEN COALESCE(a.n_grams, 0) > 0
            THEN CAST(a.n_hit AS DOUBLE) / a.n_grams ELSE 0.0 END
         >= {_DECONTAM_THRESH} AS contaminated
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
WHERE d.doc_id % {_EVAL_MOD} != 0
ORDER BY d.doc_id
"""


# ------------------------------------------------ repetition filters
_DUP_WORD_MAX = 0.3
_TOP_BIGRAM_MAX = 0.18


def repetition_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule repetition metrics — all in-scan expressions, zero
    shuffles (top bigram = run-length fold over the sorted bigram array)."""
    d = spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    return repetition_metrics(
        d, "text", "doc_id",
        max_dup_word_frac=_DUP_WORD_MAX,
        max_top_bigram_frac=_TOP_BIGRAM_MAX,
    ).orderBy("doc_id")


REPETITION_SQL = f"""
WITH toks AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents),
base AS (
  SELECT doc_id, text, CAST(len(toks) AS BIGINT) AS n_tokens,
    CASE WHEN len(toks) > 0
         THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
         ELSE 0.0 END AS dup_word_frac,
    CASE WHEN len(toks) >= 3 THEN
      1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3)
      ELSE 0.0 END AS dup_3gram_frac
  FROM (SELECT *, CASE WHEN len(toks) >= 3 THEN
          list_transform(generate_series(1, len(toks)-2),
                         i -> toks[i]||' '||toks[i+1]||' '||toks[i+2])
        ELSE [] END AS g3 FROM toks)
),
g2 AS (
  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN
      list_transform(generate_series(1, len(toks)-1), i -> toks[i]||' '||toks[i+1])
    ELSE [] END) AS gram
  FROM toks
),
cnt AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g2 GROUP BY doc_id, gram),
top AS (
  SELECT doc_id, gram, cnt,
         row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn
  FROM cnt
)
SELECT b.doc_id, b.n_tokens, b.dup_word_frac, b.dup_3gram_frac,
       t.gram AS top_bigram,
       COALESCE(t.cnt, 0) AS top_bigram_count,
       CASE WHEN length(b.text) > 0
            THEN CAST(COALESCE(t.cnt, 0) * length(COALESCE(t.gram, '')) AS DOUBLE)
                   / length(b.text)
            ELSE 0.0 END AS top_bigram_char_frac,
       (b.dup_word_frac > {_DUP_WORD_MAX}
        OR CASE WHEN length(b.text) > 0
                THEN CAST(COALESCE(t.cnt, 0) * length(COALESCE(t.gram, '')) AS DOUBLE)
                       / length(b.text)
                ELSE 0.0 END > {_TOP_BIGRAM_MAX}) AS flagged
FROM base b LEFT JOIN top t ON t.doc_id = b.doc_id AND t.rn = 1
ORDER BY b.doc_id
"""


# ------------------------------------------------ embedding k-means
_KM_K = 8
_KM_ITERS = 3
_KM_DIM = 64


def embedding_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-stage clustering: 3 Lloyd iterations, first-8 init.
    Assignment is shuffle-free (literal centroids in the scan stage);
    only the per-iteration (cluster, dim) mean aggregation shuffles."""
    from dataclass_array_spark.operators.clustering import kmeans_assign

    e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    out, _ = kmeans_assign(spread(e), "vec_id", "embedding", k=_KM_K, iters=_KM_ITERS)
    return out.select(
        "vec_id",
        "cluster",
        F.floor(F.col("dist") * 1e9).cast("long").alias("dist_e9"),
    ).orderBy("vec_id")


def _kmeans_oracle() -> str:
    from dataclass_array_spark.operators.clustering import kmeans_sql

    return kmeans_sql(
        "embeddings", "vec_id", "embedding", dim=_KM_DIM, k=_KM_K, iters=_KM_ITERS
    )


QUERIES = {
    "decontam_ngram_overlap": Query(
        decontam_ngram_overlap, DECONTAM_SQL, tags=("decontam", "text")
    ),
    "repetition_filter_docs": Query(
        repetition_filter_docs, REPETITION_SQL, tags=("quality", "text")
    ),
    "embedding_kmeans_clusters": Query(
        embedding_kmeans_clusters, _kmeans_oracle(), tags=("clustering", "similarity")
    ),
}


# ------------------------------------------------ domain mixture
_MIX_TARGET = 200.0


def domain_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted (alpha=0.5) domain mixing over ``source``:
    rates derive from per-domain counts, selection is a deterministic
    md5-bucket threshold — broadcast rates, map-side filter, no corpus
    shuffle."""
    from dataclass_array_spark.operators.sampling import (
        temperature_mixture_rates,
        temperature_sample,
    )

    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    rates = temperature_mixture_rates(d, "source", target_rows=_MIX_TARGET)
    return (
        temperature_sample(d, rates, "source", "doc_id")
        .select("doc_id", "source", "rate_ppm")
        .orderBy("doc_id")
    )


def _mixture_oracle() -> str:
    from dataclass_array_spark.operators.sampling import sql_temperature_sample

    return sql_temperature_sample("documents", "source", "doc_id", _MIX_TARGET)


QUERIES["domain_mixture_sample"] = Query(
    domain_mixture_sample, _mixture_oracle(), tags=("sampling", "mixture")
)


# ------------------------------------------------ multimodal frames
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling through mapInArrow with 1->N output — the
    media-type filter prunes before the Python worker.  The stub frame
    ids are md5-derived, so the oracle reproduces them in SQL."""
    from dataclass_array_spark.operators.multimodal import attach_media, sample_frames

    d = spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    m = attach_media(d, "doc_id", "text")
    return sample_frames(m).orderBy("doc_id", "frame_idx")


FRAMES_SQL = """
WITH v AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 = 2
)
SELECT doc_id, CAST(gs.i AS INTEGER) AS frame_idx,
       md5(h || ':' || CAST(gs.i AS VARCHAR)) AS frame_md5
FROM v, generate_series(0, 3) gs(i)
WHERE gs.i <= CAST(('0x'||substr(h,5,2)) AS BIGINT) % 4
ORDER BY doc_id, frame_idx
"""

QUERIES["multimodal_frames"] = Query(
    multimodal_frames, FRAMES_SQL, tags=("multimodal",)
)


# ------------------------------------------------ end-to-end pipeline
# Thresholds sit inside this corpus's metric distributions (median
# dup_word_frac ~0.54, max ~0.72; median top-bigram char frac ~0.055,
# max ~0.33) so every stage filters a real, nonzero slice.
_PL_DUP_WORD = 0.65
_PL_TOP_BIGRAM = 0.18
_PL_TARGET = 100.0


def pipeline_pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pre-training data path over the new round-2 operators:
    repetition filter -> benchmark decontamination -> exact dedup ->
    temperature-weighted domain mixing.  Filters are expression- or
    broadcast-side; the dedup is one window over the content hash; the
    mixture rates derive from the SURVIVING corpus."""
    from pyspark.sql import Window

    from dataclass_array_spark.operators.sampling import (
        temperature_mixture_rates,
        temperature_sample,
    )

    d = spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    ev = d.filter(F.col("doc_id") % _EVAL_MOD == 0)
    corpus = d.filter(F.col("doc_id") % _EVAL_MOD != 0)

    from dataclass_array_spark.operators.quality import repetition_flag

    # repetition filter is a pure expression — no join, no second pass
    reps = corpus.filter(
        ~repetition_flag(
            F.col("text"),
            max_dup_word_frac=_PL_DUP_WORD,
            max_top_bigram_frac=_PL_TOP_BIGRAM,
        )
    )
    dec_keep = (
        ngram_overlap_vs_eval(
            corpus, ev, "text", "doc_id", k=_DECONTAM_K, threshold=_DECONTAM_THRESH
        )
        .filter(~F.col("contaminated"))
        .select("doc_id")
    )
    from dataclass_array_spark.core.table import pin_materialization

    surv = reps.join(dec_keep, "doc_id")
    w = Window.partitionBy(tx.md5_fingerprint(F.col("text")))
    ded = pin_materialization(
        surv.withColumn("_mn", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("_mn"))
        .select("doc_id", "text", "source"),
        # the survivor corpus is consumed twice (rate derivation + the
        # final sample join); pin it so the filter/dedup subtree
        # executes once instead of once per consumer
        "local",
    )
    rates = temperature_mixture_rates(ded, "source", target_rows=_PL_TARGET)
    return (
        temperature_sample(ded, rates, "source", "doc_id")
        .select("doc_id", "source", "rate_ppm")
        .orderBy("doc_id")
    )


def _pipeline_oracle() -> str:
    from dataclass_array_spark.operators.sampling import PPM, sql_hash_bucket

    fp = tx.sql_md5_fingerprint("text")
    bucket = sql_hash_bucket("dd.doc_id", "mix")
    return f"""
WITH toksc AS (
  SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents
  WHERE doc_id % {_EVAL_MOD} != 0
),
base AS (
  SELECT doc_id, text,
    CASE WHEN len(toks) > 0
         THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
         ELSE 0.0 END AS dwf
  FROM toksc
),
g2 AS (
  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN
      list_transform(generate_series(1, len(toks)-1), i -> toks[i]||' '||toks[i+1])
    ELSE [] END) AS gram
  FROM toksc
),
cntg AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g2 GROUP BY doc_id, gram),
topg AS (
  SELECT doc_id, gram, cnt FROM (
    SELECT doc_id, gram, cnt,
           row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn
    FROM cntg) WHERE rn = 1
),
repk AS (
  SELECT b.doc_id FROM base b LEFT JOIN topg t ON t.doc_id = b.doc_id
  WHERE NOT (b.dwf > {_PL_DUP_WORD}
    OR (CASE WHEN length(b.text) > 0
             THEN CAST(COALESCE(t.cnt, 0) * length(COALESCE(t.gram, '')) AS DOUBLE)
                    / length(b.text)
             ELSE 0.0 END) > {_PL_TOP_BIGRAM})
),
toksall AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, CAST(('0x'||substr(md5(sh_str),1,15)) AS BIGINT) AS sh FROM (
    SELECT DISTINCT doc_id, sh_str FROM (
      SELECT doc_id, unnest(CASE WHEN len(toks) >= {_DECONTAM_K} THEN {_SQL_5GRAMS}
        ELSE [] END) AS sh_str
      FROM toksall))
),
ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % {_EVAL_MOD} = 0),
agg AS (
  SELECT c.doc_id, COUNT(*) AS n_grams, COUNT(ev.sh) AS n_hit
  FROM (SELECT * FROM sh WHERE doc_id % {_EVAL_MOD} != 0) c
  LEFT JOIN ev ON ev.sh = c.sh
  GROUP BY c.doc_id
),
deck AS (
  SELECT t.doc_id FROM toksc t LEFT JOIN agg a USING (doc_id)
  WHERE (CASE WHEN COALESCE(a.n_grams, 0) > 0
              THEN CAST(a.n_hit AS DOUBLE) / a.n_grams ELSE 0.0 END)
        < {_DECONTAM_THRESH}
),
surv AS (
  SELECT d.doc_id, d.text, d.source FROM documents d
  JOIN repk USING (doc_id) JOIN deck USING (doc_id)
),
ded AS (
  SELECT doc_id, source FROM (
    SELECT s.*, MIN(doc_id) OVER (PARTITION BY {fp}) AS mn FROM surv s
  ) WHERE doc_id = mn
),
cnt2 AS (SELECT source, COUNT(*) AS n_docs FROM ded GROUP BY source),
w2 AS (SELECT source, n_docs, sqrt(CAST(n_docs AS DOUBLE)) AS wt FROM cnt2),
tot2 AS (SELECT CAST(SUM(CAST(wt AS DECIMAL(25,6))) AS DOUBLE) AS tot FROM w2),
r2 AS (SELECT source, n_docs,
         least(1.0, {_PL_TARGET} * (wt / tot) / n_docs) AS rate FROM w2, tot2)
SELECT dd.doc_id, dd.source, CAST(FLOOR(rate * {PPM}) AS BIGINT) AS rate_ppm
FROM ded dd JOIN r2 USING (source)
WHERE ({bucket}) < CAST(FLOOR(rate * {PPM}) AS BIGINT)
ORDER BY dd.doc_id
"""


QUERIES["pipeline_pretrain_corpus"] = Query(
    pipeline_pretrain_corpus, _pipeline_oracle(), tags=("pipeline", "dedup", "sampling")
)


# ------------------------------------------------ semantic dedup
_SD_THRESH = 0.45
# fixed-k insurance: with k pinned at 8, cluster size grows with the
# corpus and the within-cluster pair count goes quadratic (sf1: ~2500
# rows/cluster → ~25M pairs).  The cap bounds pairing to each cluster's
# 256 lowest ids — k·cap²/2 ≈ 262k pairs at ANY corpus size — mirrored
# exactly in the oracle.  Inactive below ~2k rows (sf0.01 gate results
# are unchanged); the k="auto" gate remains the uncapped scale path.
_SD_CAP = 256
# sampled Lloyd's for the fixed-k gate: 256 lowest ids (binds at
# sf0.01, so sampling itself is driver-verified; 32×k for k=8 — ample).
# Training runs on the driver (clustering._DRIVER_TRAIN_LIMIT), so
# SemDeDup's cluster step costs ONE TakeOrdered job + one corpus-wide
# assignment instead of iters full passes.  The k="auto" gate keeps
# FULL distributed training — auto-k can exceed any fixed sample and
# that path needs recurring driver coverage too.
_SD_TRAIN = 256


def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: k-means partition (sampled
    driver-side Lloyd training) + within-cluster cosine pruning (keep
    lowest vec_id); fixed k with the max_cluster_size pair cap."""
    from dataclass_array_spark.operators.clustering import semantic_dedup

    e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    return semantic_dedup(
        spread(e), "vec_id", "embedding",
        k=_KM_K, iters=_KM_ITERS, cos_threshold=_SD_THRESH,
        max_cluster_size=_SD_CAP, train_limit=_SD_TRAIN,
    ).orderBy("vec_id")


def _semantic_dedup_oracle() -> str:
    from dataclass_array_spark.operators.clustering import semantic_dedup_sql

    return semantic_dedup_sql(
        "embeddings", "vec_id", "embedding",
        dim=_KM_DIM, k=_KM_K, iters=_KM_ITERS, cos_threshold=_SD_THRESH,
        max_cluster_size=_SD_CAP, train_limit=_SD_TRAIN,
    )


QUERIES["semantic_dedup_embeddings"] = Query(
    semantic_dedup_embeddings, _semantic_dedup_oracle(), tags=("dedup", "clustering")
)


# k="auto" path — what a real user calls: k derived from corpus size as
# ceil(n / target_cluster_size).  The oracle derives the SAME k with a
# scalar-subquery LIMIT, so the gate covers the data-dependent sizing
# logic, not just a fixed k.
_SD_TARGET = 64


def semantic_dedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataclass_array_spark.operators.clustering import semantic_dedup

    e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    return semantic_dedup(
        spread(e), "vec_id", "embedding",
        k="auto", iters=_KM_ITERS, cos_threshold=_SD_THRESH,
        target_cluster_size=_SD_TARGET,
    ).orderBy("vec_id")


def _semantic_dedup_auto_oracle() -> str:
    from dataclass_array_spark.operators.clustering import semantic_dedup_sql

    k_expr = f"(SELECT (COUNT(*) + {_SD_TARGET - 1}) // {_SD_TARGET} FROM embeddings)"
    return semantic_dedup_sql(
        "embeddings", "vec_id", "embedding",
        dim=_KM_DIM, k=k_expr, iters=_KM_ITERS, cos_threshold=_SD_THRESH,
    )


QUERIES["semantic_dedup_auto"] = Query(
    semantic_dedup_auto, _semantic_dedup_auto_oracle(), tags=("dedup", "clustering")
)


# Two-level (coarse -> fine) clustering — the 100 TB auto-k path: the
# driver holds only the k_coarse coarse centroids; each cell trains its
# own ceil(n_cell/target) fine centroids inside applyInArrow and rows
# join their cell's centroid matrix for the final Arrow argmin.  Gate
# constants are sized so every stage BINDS at sf0.01 (500 rows): cells
# ~167 rows > fine_train_limit=64 (sampling exercised), fine k ~6.
_TL_KC = 3
_TL_ITERS = 2
_TL_TARGET = 32
_TL_CTL = 128   # coarse_train_limit (binds: 128 < 500)
_TL_FTL = 64    # fine_train_limit  (binds: 64 < ~167 rows/cell)


def embedding_kmeans_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level k-means assignment over the embeddings table — coarse
    sampled training + per-cell fine training (applyInArrow Lloyd
    replica) + matrix-argmin fine assignment, all value-exact vs the
    per-cell unrolled decimal CTE chains."""
    from dataclass_array_spark.operators.clustering import kmeans_assign_two_level

    e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    out = kmeans_assign_two_level(
        spread(e), "vec_id", "embedding", k_coarse=_TL_KC, iters=_TL_ITERS,
        target_cluster_size=_TL_TARGET, coarse_train_limit=_TL_CTL,
        fine_train_limit=_TL_FTL,
    )
    return out.select(
        "vec_id", "cell", "fine",
        F.floor(F.col("dist") * 1e9).cast("long").alias("dist_e9"),
    ).orderBy("vec_id")


def _kmeans_two_level_oracle() -> str:
    from dataclass_array_spark.operators.clustering import kmeans_two_level_sql_ctes

    return kmeans_two_level_sql_ctes(
        "embeddings", "vec_id", "embedding", dim=_KM_DIM, k_coarse=_TL_KC,
        iters=_TL_ITERS, target_cluster_size=_TL_TARGET,
        coarse_train_limit=_TL_CTL, fine_train_limit=_TL_FTL,
    ) + """
SELECT vec_id, cell, fine, CAST(FLOOR(dist * 1e9) AS BIGINT) AS dist_e9
FROM tl_afinal ORDER BY vec_id"""


QUERIES["embedding_kmeans_two_level"] = Query(
    embedding_kmeans_two_level, _kmeans_two_level_oracle(),
    tags=("clustering", "two-level"),
)


def semantic_dedup_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the two-level partition: within-(cell, fine)
    cosine pruning, keep-lowest-id — the bounded-driver shape
    semantic_dedup(k="auto") switches to past auto_k_cap."""
    from dataclass_array_spark.operators import clustering

    e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    return clustering.semantic_dedup_two_level(
        spread(e), "vec_id", "embedding", k_coarse=_TL_KC, iters=_TL_ITERS,
        cos_threshold=_SD_THRESH, target_cluster_size=_TL_TARGET,
        coarse_train_limit=_TL_CTL, fine_train_limit=_TL_FTL,
    ).orderBy("vec_id")


def _semantic_dedup_two_level_oracle() -> str:
    from dataclass_array_spark.operators.clustering import (
        semantic_dedup_two_level_sql,
    )

    return semantic_dedup_two_level_sql(
        "embeddings", "vec_id", "embedding", dim=_KM_DIM, k_coarse=_TL_KC,
        iters=_TL_ITERS, cos_threshold=_SD_THRESH,
        target_cluster_size=_TL_TARGET, coarse_train_limit=_TL_CTL,
        fine_train_limit=_TL_FTL,
    )


QUERIES["semantic_dedup_two_level"] = Query(
    semantic_dedup_two_level, _semantic_dedup_two_level_oracle(),
    tags=("dedup", "clustering", "two-level"),
)


# ------------------------------------------------ LM quality (perplexity-style)
def lm_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc unigram-LM cross-entropy (nats/token) — the
    perplexity-style quality score (perplexity = exp(xent), monotone).
    Exact gate: ln is computed with a fixed-order IEEE series in BOTH
    engines (operators/text.py::ln_exact / sql_ln_exact_ctes), so the
    doubles hash-match bit-for-bit."""
    from dataclass_array_spark.operators.text import unigram_xent_scores

    d = spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    return unigram_xent_scores(d, "text", "doc_id").orderBy("doc_id")


def _lm_quality_oracle() -> str:
    from dataclass_array_spark.operators.text import sql_ln_exact_ctes

    return f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
guard AS (
  SELECT CASE WHEN COALESCE(MAX(len(toks)), 0) > 4096
              THEN error('LM_QUALITY_SQL: document exceeds 4096-token oracle cap')
              ELSE 1 END AS ok
  FROM toks
),
pos AS (
  SELECT doc_id, gs.i AS pos, toks[gs.i] AS t
  FROM toks, generate_series(1, 4096) gs(i)
  WHERE gs.i <= len(toks)
),
freq AS (SELECT t, COUNT(*) AS c FROM pos GROUP BY t),
totn AS (SELECT CAST(SUM(c) AS BIGINT) AS c FROM freq),
{sql_ln_exact_ctes("freq", "t", "c", "lnc_t")},
{sql_ln_exact_ctes("totn", "c", "c", "lnt_t")},
perdoc AS (
  SELECT p.doc_id, COUNT(*) AS n,
         list_reduce(list_prepend(0.0, list(l.ln ORDER BY p.pos)),
                     (a, x) -> a + (g.lnT - x)) AS s
  FROM pos p JOIN lnc_t l USING (t)
  CROSS JOIN (SELECT ln AS lnT FROM lnt_t) g
  GROUP BY p.doc_id, g.lnT
)
SELECT d.doc_id, COALESCE(pd.n, 0) AS n_tokens,
       COALESCE(pd.s / CAST(pd.n AS DOUBLE), 0.0) AS xent_nats
FROM documents d LEFT JOIN perdoc pd USING (doc_id)
CROSS JOIN guard
WHERE guard.ok = 1
ORDER BY d.doc_id
"""


QUERIES["lm_quality_docs"] = Query(
    lm_quality_docs, _lm_quality_oracle(), tags=("text", "quality")
)


def bigram_lm_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc CONDITIONAL cross-entropy (nats/bigram) under the
    corpus's own add-one-smoothed bigram LM — the next-token-prediction
    quality score (CCNet-style filtering).  Exact gate: both ln
    arguments are positive integers, so the fixed-order IEEE ln series
    (text.py::ln_exact) makes the doubles hash-match bit-for-bit."""
    from dataclass_array_spark.operators.text import bigram_xent_scores

    d = spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    return bigram_xent_scores(d, "text", "doc_id").orderBy("doc_id")


def _bigram_lm_oracle() -> str:
    from dataclass_array_spark.operators.text import sql_ln_exact_ctes

    return f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
guard AS (
  SELECT CASE WHEN COALESCE(MAX(len(toks)), 0) > 4096
              THEN error('BIGRAM_LM_SQL: document exceeds 4096-token oracle cap')
              ELSE 1 END AS ok
  FROM toks
),
pos AS (
  SELECT doc_id, gs.i AS pos, toks[gs.i] AS t
  FROM toks, generate_series(1, 4096) gs(i)
  WHERE gs.i <= len(toks)
),
big AS (
  SELECT doc_id, gs.i AS pos, toks[gs.i] AS w1, toks[gs.i + 1] AS w2
  FROM toks, generate_series(1, 4095) gs(i)
  WHERE gs.i <= len(toks) - 1
),
cb AS (SELECT w1, w2, COUNT(*) AS c FROM big GROUP BY w1, w2),
cbp AS (SELECT w1, w2, c + 1 AS c FROM cb),
cu AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cu FROM cb GROUP BY w1),
vv AS (SELECT COUNT(DISTINCT t) AS v FROM pos),
den AS (SELECT w1, cu + (SELECT v FROM vv) AS c FROM cu),
{sql_ln_exact_ctes("cbp", "w1, w2", "c", "lnnum_t")},
{sql_ln_exact_ctes("den", "w1", "c", "lnden_t")},
perdoc AS (
  SELECT b.doc_id, COUNT(*) AS m,
         list_reduce(list_prepend(0.0, list((d.ln - n.ln) ORDER BY b.pos)),
                     (a, x) -> a + x) AS s
  FROM big b
  JOIN lnnum_t n ON n.w1 = b.w1 AND n.w2 = b.w2
  JOIN lnden_t d ON d.w1 = b.w1
  GROUP BY b.doc_id
)
SELECT d.doc_id, COALESCE(pd.m, 0) AS n_bigrams,
       COALESCE(pd.s / CAST(pd.m AS DOUBLE), 0.0) AS xent_nats
FROM documents d LEFT JOIN perdoc pd USING (doc_id)
CROSS JOIN guard
WHERE guard.ok = 1
ORDER BY d.doc_id
"""


QUERIES["bigram_lm_docs"] = Query(
    bigram_lm_docs, _bigram_lm_oracle(), tags=("text", "quality", "lm")
)


def bigram_lm_heldout_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELD-OUT bigram-LM scoring — train the LM on the English docs,
    score the WHOLE corpus (the production filter shape: trusted
    reference corpus → crawl).  Non-English docs hit the OOV branches
    (unseen bigram → ln_num = ln 1 = 0; unseen prefix → ln V), so this
    gate exercises the smoothing paths bigram_lm_docs (self-scoring)
    structurally cannot."""
    from dataclass_array_spark.operators.text import bigram_xent_scores_heldout

    d = spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    return bigram_xent_scores_heldout(
        d.filter(F.col("lang") == "en"), d, "text", "doc_id"
    ).orderBy("doc_id")


def _bigram_lm_heldout_oracle() -> str:
    from dataclass_array_spark.operators.text import sql_ln_exact_ctes

    return f"""
WITH toks AS (SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents),
guard AS (
  SELECT CASE WHEN COALESCE(MAX(len(toks)), 0) > 4096
              THEN error('BIGRAM_LM_HELDOUT_SQL: document exceeds 4096-token oracle cap')
              ELSE 1 END AS ok
  FROM toks
),
post AS (
  SELECT doc_id, gs.i AS pos, toks[gs.i] AS t
  FROM toks, generate_series(1, 4096) gs(i)
  WHERE gs.i <= len(toks) AND lang = 'en'
),
bigt AS (
  SELECT doc_id, gs.i AS pos, toks[gs.i] AS w1, toks[gs.i + 1] AS w2
  FROM toks, generate_series(1, 4095) gs(i)
  WHERE gs.i <= len(toks) - 1 AND lang = 'en'
),
bigs AS (
  SELECT doc_id, gs.i AS pos, toks[gs.i] AS w1, toks[gs.i + 1] AS w2
  FROM toks, generate_series(1, 4095) gs(i)
  WHERE gs.i <= len(toks) - 1
),
cb AS (SELECT w1, w2, COUNT(*) AS c FROM bigt GROUP BY w1, w2),
cbp AS (SELECT w1, w2, c + 1 AS c FROM cb),
cu AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cu FROM cb GROUP BY w1),
vv AS (SELECT COUNT(DISTINCT t) AS v FROM post),
den AS (SELECT w1, cu + (SELECT v FROM vv) AS c FROM cu),
{sql_ln_exact_ctes("cbp", "w1, w2", "c", "lnnum_t")},
{sql_ln_exact_ctes("den", "w1", "c", "lnden_t")},
{sql_ln_exact_ctes("vv", "v", "v", "lnv_t")},
perdoc AS (
  SELECT b.doc_id, COUNT(*) AS m,
         list_reduce(
           list_prepend(0.0,
             list((COALESCE(d.ln, g.lnv) - COALESCE(n.ln, 0.0)) ORDER BY b.pos)),
           (a, x) -> a + x) AS s
  FROM bigs b
  LEFT JOIN lnnum_t n ON n.w1 = b.w1 AND n.w2 = b.w2
  LEFT JOIN lnden_t d ON d.w1 = b.w1
  CROSS JOIN (SELECT ln AS lnv FROM lnv_t) g
  GROUP BY b.doc_id
)
SELECT d.doc_id, COALESCE(pd.m, 0) AS n_bigrams,
       COALESCE(pd.s / CAST(pd.m AS DOUBLE), 0.0) AS xent_nats
FROM documents d LEFT JOIN perdoc pd USING (doc_id)
CROSS JOIN guard
WHERE guard.ok = 1
ORDER BY d.doc_id
"""


QUERIES["bigram_lm_heldout_docs"] = Query(
    bigram_lm_heldout_docs, _bigram_lm_heldout_oracle(),
    tags=("text", "quality", "lm", "heldout"),
)


# ------------------------------------------------ tokenization
_VOCAB_SIZE = 500


def tokenize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-derived frequency vocab (fully tie-broken ids) + token->id
    mapping per document; id sequences serialized to JSON for the
    comparator."""
    from dataclass_array_spark.operators.text import build_vocab, tokenize_with_vocab

    d = spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    vocab = build_vocab(d, "text", size=_VOCAB_SIZE)
    return tokenize_with_vocab(d, "text", "doc_id", vocab).orderBy("doc_id")


TOKENIZE_SQL = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS t FROM toks),
vc AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
vocab AS (
  SELECT t, CAST(row_number() OVER (ORDER BY c DESC, t) - 1 AS BIGINT) AS tid
  FROM vc ORDER BY c DESC, t LIMIT {_VOCAB_SIZE}
),
guard AS (
  -- FAIL LOUDLY instead of silently truncating: the Spark side is
  -- unbounded, so a doc over the cap would otherwise mismatch the
  -- gate confusingly instead of erroring here.
  SELECT CASE WHEN COALESCE(MAX(len(toks)), 0) > 4096
              THEN error('TOKENIZE_SQL: document exceeds 4096-token oracle cap')
              ELSE 1 END AS ok
  FROM toks
),
pos AS (
  -- DuckDB's generate_series cannot take a lateral column bound;
  -- over-generate to a fixed cap and filter (docs are < 4096 tokens,
  -- enforced by the guard CTE above)
  SELECT doc_id, gs.i AS pos, toks[gs.i] AS t
  FROM toks, generate_series(1, 4096) gs(i)
  WHERE gs.i <= len(toks)
),
ids AS (
  SELECT p.doc_id, p.pos, COALESCE(v.tid, -1) AS tid,
         CASE WHEN v.tid IS NULL THEN 1 ELSE 0 END AS unk
  FROM pos p LEFT JOIN vocab v USING (t)
),
agg AS (
  SELECT doc_id, to_json(list(tid ORDER BY pos)) AS ids_json,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(unk) AS BIGINT) AS n_unk
  FROM ids GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(a.ids_json, '[]') AS ids_json,
       COALESCE(a.n_tokens, 0) AS n_tokens, COALESCE(a.n_unk, 0) AS n_unk
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
CROSS JOIN guard
WHERE guard.ok = 1
ORDER BY d.doc_id
"""

QUERIES["tokenize_docs"] = Query(
    tokenize_docs, TOKENIZE_SQL, tags=("text", "tokenization")
)


# ------------------------------------------------ token rarity
def token_rarity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequency-rarity quality scores (integer log2 buckets — no
    libm log in either engine)."""
    from dataclass_array_spark.operators.text import token_rarity_scores

    d = spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    return token_rarity_scores(d, "text", "doc_id").orderBy("doc_id")


RARITY_SQL = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS t FROM toks),
freq AS (
  SELECT t, CAST(length(bin(COUNT(*))) - 1 AS BIGINT) AS lb
  FROM tok GROUP BY t
),
agg AS (
  SELECT tok.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(lb) AS BIGINT) AS lb_sum
  FROM tok JOIN freq USING (t)
  GROUP BY tok.doc_id
)
SELECT d.doc_id,
       COALESCE(a.n_tokens, 0) AS n_tokens,
       COALESCE(a.lb_sum, 0) AS lb_sum,
       CASE WHEN COALESCE(a.n_tokens, 0) > 0
            THEN CAST(a.lb_sum AS DOUBLE) / a.n_tokens ELSE 0.0 END AS rarity_score
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
ORDER BY d.doc_id
"""

QUERIES["token_rarity_docs"] = Query(
    token_rarity_docs, RARITY_SQL, tags=("quality", "text")
)


# ------------------------------------------------ auto-capped MinHash
def dedup_minhash_lsh_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash gate run through max_bucket_size='auto': the cap is
    derived from the corpus's bucket-size histogram (cumulative pair
    budget of 8 per banded row, floor 16) instead of a fixed constant —
    this gate verifies the scaling POLICY itself, with the oracle
    replicating the derivation in SQL."""
    from dataclass_array_spark.operators.dedup import minhash_lsh_pairs
    from dataclass_array_spark.workload.llm import _MH_THRESH

    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    return minhash_lsh_pairs(
        d, "text", "doc_id", threshold=_MH_THRESH, max_bucket_size="auto"
    )


def _minhash_auto_oracle() -> str:
    from dataclass_array_spark.workload.llm import MINHASH_SQL, _MH_CAP

    cap_ctes = """hist AS (
  SELECT cnt AS bsize, COUNT(*) AS nb FROM (
    SELECT band, sig, COUNT(*) AS cnt FROM bands0 GROUP BY band, sig)
  GROUP BY cnt
), capv AS (
  SELECT GREATEST(16, COALESCE(MAX(bsize), 16)) AS cap
  FROM (SELECT bsize,
               SUM(bsize * bsize * nb) OVER (ORDER BY bsize
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM hist),
       (SELECT SUM(bsize * nb) AS nrows FROM hist)
  WHERE cum <= 8 * nrows
), bands AS ("""
    old = f"), bands AS (\n  SELECT doc_id, band, sig FROM (\n    SELECT doc_id, band, sig, COUNT(*) OVER (PARTITION BY band, sig) AS bn\n    FROM bands0)\n  WHERE bn <= {_MH_CAP}\n)"
    new = (
        "), " + cap_ctes
        + "\n  SELECT doc_id, band, sig FROM (\n    SELECT doc_id, band, sig, COUNT(*) OVER (PARTITION BY band, sig) AS bn\n    FROM bands0)\n  WHERE bn <= (SELECT cap FROM capv)\n)"
    )
    assert old in MINHASH_SQL, "minhash oracle structure changed"
    return MINHASH_SQL.replace(old, new, 1)


QUERIES["dedup_minhash_lsh_auto"] = Query(
    dedup_minhash_lsh_auto, _minhash_auto_oracle(), tags=("dedup", "lsh")
)


# ------------------------------------------------ streaming quality filter
def streaming_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless streaming ETL: a document stream filtered by the
    in-scan repetition flag (the most common production streaming job —
    a pure-expression filter needs no state, no watermark, and scales
    to any micro-batch rate).  Driven to completion over the file
    source; the oracle is the equivalent batch filter."""
    from dataclass_array_spark.operators.quality import repetition_flag
    from dataclass_array_spark.streaming.core import (
        documents_stream,
        run_stream_to_memory,
    )

    # documents_stream routes through _parquet_stream, which handles
    # BOTH testdata shapes: a single documents.parquet FILE (driver
    # testdata) and a Spark-written documents.parquet DIRECTORY (the
    # generated sf1 set).  The previous hand-rolled
    # pathGlobFilter-on-parent reader matched zero files inside a
    # directory-shaped table and the stream completed with silently
    # EMPTY results — caught by the round-9 sf1 oracle replay (the
    # gate had only ever been driver-verified on file-shaped sf0.01).
    s = documents_stream(spark, f"{sf_dir}/documents.parquet")
    kept = s.filter(
        ~repetition_flag(
            F.col("text"),
            max_dup_word_frac=_PL_DUP_WORD,
            max_top_bigram_frac=_PL_TOP_BIGRAM,
        )
    ).select("doc_id", "source", tx.token_count(F.col("text")).alias("n_tokens"))
    out, _ = run_stream_to_memory(kept, mode="append")
    return out.orderBy("doc_id")


STREAM_QUALITY_SQL = f"""
WITH toks AS (SELECT doc_id, text, source, {_SQL_TOKS} AS toks FROM documents),
base AS (
  SELECT doc_id, text, source, toks,
    CASE WHEN len(toks) > 0
         THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
         ELSE 0.0 END AS dwf
  FROM toks
),
g2 AS (
  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN
      list_transform(generate_series(1, len(toks)-1), i -> toks[i]||' '||toks[i+1])
    ELSE [] END) AS gram
  FROM toks
),
cntg AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g2 GROUP BY doc_id, gram),
topg AS (
  SELECT doc_id, gram, cnt FROM (
    SELECT doc_id, gram, cnt,
           row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn
    FROM cntg) WHERE rn = 1
)
SELECT b.doc_id, b.source, CAST(len(b.toks) AS BIGINT) AS n_tokens
FROM base b LEFT JOIN topg t ON t.doc_id = b.doc_id
WHERE NOT (b.dwf > {_PL_DUP_WORD}
  OR (CASE WHEN length(b.text) > 0
           THEN CAST(COALESCE(t.cnt, 0) * length(COALESCE(t.gram, '')) AS DOUBLE)
                  / length(b.text)
           ELSE 0.0 END) > {_PL_TOP_BIGRAM})
ORDER BY b.doc_id
"""

QUERIES["streaming_quality_filter"] = Query(
    streaming_quality_filter, STREAM_QUALITY_SQL, tags=("streaming", "quality")
)


# ------------------------------------------------ count-min sketch
def countmin_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over all document tokens (depth 4 × width
    2048), point-estimating the 30 most frequent tokens — gated
    EXACTLY: the md5-universal bucket hashes are deterministic, so the
    oracle replays the sketch CELL-FOR-CELL and the estimates (and the
    ``overcount`` column, which the count-min bound keeps >= 0)
    hash-match.  The 100 TB counting path where an exact
    groupBy(token) would shuffle a vocabulary-sized table: the sketch
    shuffle is <= depth*width rows per task (map-side combined), the
    finished sketch is broadcastable by construction, and sketches of
    shards MERGE by cell-summing."""
    from dataclass_array_spark.operators.sketch import (
        countmin_build,
        countmin_lookup,
    )

    d = spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    tok = d.select(F.explode(tx.tokens(F.col("text"))).alias("t"))
    exact = tok.groupBy("t").agg(F.count("*").cast("long").alias("c_exact"))
    top = exact.orderBy(F.desc("c_exact"), "t").limit(30)
    sk = countmin_build(tok, "t", depth=4, width=2048)
    est = countmin_lookup(sk, top.select("t"), "t", depth=4, width=2048)
    return (
        top.join(est, "t")
        .select(
            "t",
            "c_exact",
            F.col("est").alias("c_est"),
            (F.col("est") - F.col("c_exact")).cast("long").alias("overcount"),
        )
        .orderBy("t")
    )


def _countmin_oracle() -> str:
    from dataclass_array_spark.operators.sketch import _CM_P, countmin_sql_ctes

    w = 2048
    return f"""
WITH tok AS (SELECT unnest({_SQL_TOKS}) AS t FROM documents),
exact AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c_exact FROM tok GROUP BY t),
top AS (SELECT t, c_exact FROM exact ORDER BY c_exact DESC, t LIMIT 30),
{countmin_sql_ctes("tok", "t", 4, w)},
cmh AS (SELECT t, CAST(('0x'||substr(md5(t),1,8)) AS BIGINT) AS hv FROM top),
est AS (
  SELECT cmh.t, CAST(MIN(COALESCE(s.cnt, 0)) AS BIGINT) AS c_est
  FROM cmh CROSS JOIN cmcons c
  LEFT JOIN cmsketch s
    ON s.j = c.j AND s.bucket = ((cmh.hv * c.a + c.b) % {_CM_P}) % {w}
  GROUP BY cmh.t
)
SELECT top.t, top.c_exact, est.c_est, est.c_est - top.c_exact AS overcount
FROM top JOIN est USING (t)
ORDER BY t
"""


QUERIES["countmin_token_freq"] = Query(
    countmin_token_freq, _countmin_oracle(), tags=("sketch", "approx")
)


# ------------------------------------------------ token entropy
def token_entropy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon entropy of the doc's own token distribution —
    the distribution-level repetition/gibberish filter (Gopher
    fractions threshold specific patterns; entropy summarizes all of
    them).  Hash-exact doubles via the integer-only ln series and
    token-ordered folds."""
    from dataclass_array_spark.operators.text import token_entropy_scores

    d = spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    return token_entropy_scores(d, "text", "doc_id").orderBy("doc_id")


def _token_entropy_oracle() -> str:
    from dataclass_array_spark.operators.text import sql_ln_exact_ctes

    return f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
guard AS (
  SELECT CASE WHEN COALESCE(MAX(len(toks)), 0) > 4096
              THEN error('TOKEN_ENTROPY_SQL: document exceeds 4096-token oracle cap')
              ELSE 1 END AS ok
  FROM toks
),
pos AS (
  SELECT doc_id, gs.i AS pos, toks[gs.i] AS t
  FROM toks, generate_series(1, 4096) gs(i)
  WHERE gs.i <= len(toks)
),
cnt AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS c FROM pos GROUP BY doc_id, t),
{sql_ln_exact_ctes("cnt", "doc_id, t, c", "c", "lnc_t")},
perdoc AS (
  SELECT c.doc_id, CAST(SUM(c.c) AS BIGINT) AS n,
         list_reduce(
           list_prepend(0.0, list(CAST(c.c AS DOUBLE) * l.ln ORDER BY c.t)),
           (a, x) -> a + x) AS s
  FROM cnt c JOIN lnc_t l ON l.doc_id = c.doc_id AND l.t = c.t AND l.c = c.c
  GROUP BY c.doc_id
),
{sql_ln_exact_ctes("perdoc", "doc_id, s", "n", "lnn_t")}
SELECT d.doc_id,
       COALESCE(p.n, 0) AS n_tokens,
       COALESCE(ln.ln - p.s / CAST(p.n AS DOUBLE), 0.0) AS entropy_nats
FROM documents d
LEFT JOIN perdoc p USING (doc_id)
LEFT JOIN lnn_t ln ON ln.doc_id = p.doc_id
CROSS JOIN guard
WHERE guard.ok = 1
ORDER BY d.doc_id
"""


QUERIES["token_entropy_docs"] = Query(
    token_entropy_docs, _token_entropy_oracle(), tags=("text", "quality")
)
