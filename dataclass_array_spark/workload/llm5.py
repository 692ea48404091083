"""Round-13 second-wave query extensions: C4-style blocklist phrase
filtering, per-domain document quotas (cap-per-key sampling), trigram
Kneser-Ney LM scoring on the decimal(38)-wide exact-ln, and tokenizer
fertility stats.

Same contract as :mod:`workload.llm`: every query binds an operator to
the driver tables and carries a value-exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataclass_array_spark.operators import text as tx
from dataclass_array_spark.workload.base import (
    fresh_stream_tmpdir,
    load_tables,
    spread,
)
from dataclass_array_spark.workload.catalog import Query
from dataclass_array_spark.workload.llm4 import _URL_EXPR_SQL, _url_expr_spark

_SQL_TOKS = tx.SQL_TOKENS.format(t="text")

QUERIES: "dict[str, Query]" = {}

# ------------------------------------------------ blocklist filtering
# Mixed lengths (1/2/3 words), mixed hit rates: the singleton "dup" is
# rare in the corpus, "sort merge join" never occurs (exercises the
# zero-hit phrase path), the bigrams occur organically.
_BLOCK_PHRASES = (
    "hash join",
    "slow query",
    "big scan",
    "dup",
    "filter the row",
    "sort merge join",
)


def blocklist_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blocklist gate over the documents corpus: per doc the
    phrase-occurrence count, distinct phrases hit, and the keep/block
    flag.  Phrase list is bounded by construction → broadcast lookup;
    one explode + one map-side-combined per-doc aggregation."""
    from dataclass_array_spark.operators.blocklist import blocklist_matches

    d = spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    return blocklist_matches(d, "text", "doc_id", _BLOCK_PHRASES).orderBy(
        "doc_id"
    )


def _blocklist_oracle() -> str:
    from dataclass_array_spark.operators.blocklist import sql_blocklist_ctes

    return f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
guard AS (
  SELECT CASE WHEN COALESCE(MAX(len(toks)), 0) > 4096
              THEN error('BLOCKLIST_SQL: document exceeds 4096-token oracle cap')
              ELSE 1 END AS ok
  FROM toks
),
{sql_blocklist_ctes("toks", "doc_id", _BLOCK_PHRASES)}
SELECT b.doc_id, b.n_tokens, b.n_matches, b.n_phrases, b.blocked
FROM bl_out b CROSS JOIN guard
WHERE guard.ok = 1
ORDER BY b.doc_id
"""


QUERIES["blocklist_filter_docs"] = Query(
    blocklist_filter_docs, _blocklist_oracle(), tags=("text", "quality")
)


# ------------------------------------------------ per-domain quotas
_DOMAIN_CAP = 3


def domain_cap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host document quota over the derived URL fixture — the
    crawl pipeline's "at most N pages per site" budget.  Deterministic
    md5-priority survivors (re-run stable), WindowGroupLimit pushes
    the cap below the shuffle (plan-asserted in tests)."""
    from dataclass_array_spark.operators.sampling import cap_per_key
    from dataclass_array_spark.operators.url import url_host

    d = spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    u = d.select(
        F.col("doc_id"), url_host(_url_expr_spark()).alias("host")
    )
    kept = cap_per_key(u, ["host"], _DOMAIN_CAP, ["doc_id"])
    return kept.select("host", "doc_id").orderBy("host", "doc_id")


def _domain_cap_oracle() -> str:
    from dataclass_array_spark.operators.sampling import sql_cap_per_key_pred
    from dataclass_array_spark.operators.url import host_sql

    pred = sql_cap_per_key_pred(["host"], _DOMAIN_CAP, ["doc_id"])
    return f"""
WITH u AS (SELECT doc_id, {_URL_EXPR_SQL} AS url FROM documents),
h AS (SELECT doc_id, {host_sql('url')} AS host FROM u)
SELECT host, doc_id FROM h
QUALIFY {pred}
ORDER BY host, doc_id
"""


QUERIES["domain_cap_docs"] = Query(
    domain_cap_docs, _domain_cap_oracle(), tags=("sampling", "url")
)


# ------------------------------------------------ trigram Kneser-Ney
def kneser_ney3_lm_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc conditional cross-entropy under the corpus's own
    INTERPOLATED KNESER-NEY TRIGRAM LM (D = 3/4 at both levels) — the
    production n-gram order, completing the LM-quality ladder
    (unigram → Laplace bigram → KN bigram → KN trigram).  Probabilities
    are ratios of integers that exceed BIGINT, so the gate runs on the
    decimal(38)-wide exact ln (``text.ln_exact_dec``) and stays
    hash-exact."""
    from dataclass_array_spark.operators.text import kneser_ney3_xent_scores

    d = spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    return kneser_ney3_xent_scores(d, "text", "doc_id").orderBy("doc_id")


def _kn3_oracle() -> str:
    from dataclass_array_spark.operators.text import sql_ln_exact_dec_ctes

    return f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
guard AS (
  SELECT CASE WHEN COALESCE(MAX(len(toks)), 0) > 4096
              THEN error('KN3_SQL: document exceeds 4096-token oracle cap')
              ELSE 1 END AS ok
  FROM toks
),
tri AS (
  SELECT doc_id, gs.i AS pos,
         toks[gs.i] AS w1, toks[gs.i + 1] AS w2, toks[gs.i + 2] AS w3
  FROM toks, generate_series(1, 4094) gs(i)
  WHERE gs.i <= len(toks) - 2
),
t3 AS (SELECT w1, w2, w3, CAST(COUNT(*) AS HUGEINT) AS c FROM tri GROUP BY 1, 2, 3),
b12 AS (
  SELECT w1, w2, CAST(SUM(c) AS HUGEINT) AS bb, CAST(COUNT(*) AS HUGEINT) AS n1
  FROM t3 GROUP BY 1, 2
),
t23 AS (SELECT w2, w3, CAST(COUNT(*) AS HUGEINT) AS n23 FROM t3 GROUP BY 1, 2),
e2 AS (SELECT w2, CAST(COUNT(*) AS HUGEINT) AS ee FROM t3 GROUP BY 1),
n2t AS (SELECT w2, CAST(COUNT(*) AS HUGEINT) AS nn2 FROM t23 GROUP BY 1),
m3 AS (SELECT w3, CAST(COUNT(*) AS HUGEINT) AS mm FROM t23 GROUP BY 1),
tt AS (SELECT CAST(COUNT(*) AS HUGEINT) AS t FROM t23),
numt AS (
  SELECT t3.w1, t3.w2, t3.w3,
         (4*t3.c - 3) * 4 * e2.ee * (SELECT t FROM tt)
         + 3*b12.n1 * ((4*t23.n23 - 3) * (SELECT t FROM tt) + 3*n2t.nn2*m3.mm) AS nn
  FROM t3
  JOIN t23 USING (w2, w3)
  JOIN b12 USING (w1, w2)
  JOIN e2 USING (w2)
  JOIN n2t USING (w2)
  JOIN m3 USING (w3)
),
dent AS (
  SELECT b12.w1, b12.w2, 16 * b12.bb * e2.ee * (SELECT t FROM tt) AS nn
  FROM b12 JOIN e2 USING (w2)
),
{sql_ln_exact_dec_ctes("numt", "w1, w2, w3", "nn", "lnnum_t")},
{sql_ln_exact_dec_ctes("dent", "w1, w2", "nn", "lnden_t")},
perdoc AS (
  SELECT tr.doc_id, COUNT(*) AS m,
         list_reduce(list_prepend(0.0, list((d.ln - n.ln) ORDER BY tr.pos)),
                     (a, x) -> a + x) AS s
  FROM tri tr
  JOIN lnnum_t n ON n.w1 = tr.w1 AND n.w2 = tr.w2 AND n.w3 = tr.w3
  JOIN lnden_t d ON d.w1 = tr.w1 AND d.w2 = tr.w2
  GROUP BY tr.doc_id
)
SELECT d.doc_id, COALESCE(pd.m, 0) AS n_trigrams,
       COALESCE(pd.s / CAST(pd.m AS DOUBLE), 0.0) AS xent_nats
FROM documents d LEFT JOIN perdoc pd USING (doc_id)
CROSS JOIN guard
WHERE guard.ok = 1
ORDER BY d.doc_id
"""


QUERIES["kneser_ney3_lm_docs"] = Query(
    kneser_ney3_lm_docs, _kn3_oracle(), tags=("text", "quality", "lm")
)


# ------------------------------------------------ tokenizer fertility
_FERT_MERGES = 16
_FERT_MIN_COUNT = 2


def bpe_fertility_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: chars-per-BPE-token over the
    corpus's own trained tokenizer — the standard tokenizer-fairness
    diagnostic (a vocab trained on skewed data segments some languages
    into many more tokens per character, inflating their training and
    inference cost; fertility tables are how that bias is measured).
    Composes bpe_train(batched) → bpe_encode → one dimension-sized
    per-language aggregation; the ratio is a single integer÷integer
    double division, so the gate stays hash-exact."""
    from dataclass_array_spark.operators.bpe import bpe_encode, bpe_train

    d = spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    merges = bpe_train(
        d, "text", _FERT_MERGES, min_count=_FERT_MIN_COUNT, batch_pairs=16
    )
    enc = bpe_encode(d, "text", "doc_id", merges)
    j = enc.join(d.select("doc_id", "lang", "n_chars"), "doc_id")
    agg = j.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_bpe_tokens").cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_tokens",
        "n_chars",
        F.when(
            F.col("n_tokens") > 0,
            F.col("n_chars").cast("double") / F.col("n_tokens").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("chars_per_token"),
    ).orderBy("lang")


def _fertility_oracle() -> str:
    from dataclass_array_spark.operators.bpe import bpe_encode_sql_ctes

    ctes = bpe_encode_sql_ctes(_SQL_TOKS, _FERT_MERGES, _FERT_MIN_COUNT)
    return f"""
WITH {ctes},
agg AS (
  SELECT d.lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(e.n_bpe_tokens) AS BIGINT) AS n_tokens,
         CAST(SUM(d.n_chars) AS BIGINT) AS n_chars
  FROM encoded e JOIN documents d USING (doc_id)
  GROUP BY d.lang
)
SELECT lang, n_docs, n_tokens, n_chars,
       CASE WHEN n_tokens > 0
            THEN CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE)
            ELSE 0.0 END AS chars_per_token
FROM agg
ORDER BY lang
"""


QUERIES["bpe_fertility_langs"] = Query(
    bpe_fertility_langs, _fertility_oracle(), tags=("text", "tokenizer")
)


# ------------------------------------------------ held-out trigram KN
def kneser_ney3_heldout_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELD-OUT trigram Kneser-Ney — train the trigram KN LM on the
    English docs, score the WHOLE corpus (the production filter at the
    production n-gram order).  Non-English docs exercise all the OOV
    branches (unseen trigram → interpolation mass; unseen prefix →
    continuation LM; unseen w2 → pure continuation distribution; OOV
    w3 → one-context floor) that self-scoring structurally cannot
    reach."""
    from dataclass_array_spark.operators.text import (
        kneser_ney3_xent_scores_heldout,
    )

    d = spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    return kneser_ney3_xent_scores_heldout(
        d.filter(F.col("lang") == "en"), d, "text", "doc_id"
    ).orderBy("doc_id")


def _kn3_heldout_oracle() -> str:
    from dataclass_array_spark.operators.text import sql_ln_exact_dec_ctes

    return f"""
WITH toks AS (SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents),
guard AS (
  SELECT CASE WHEN COALESCE(MAX(len(toks)), 0) > 4096
              THEN error('KN3_HELDOUT_SQL: document exceeds 4096-token oracle cap')
              ELSE 1 END AS ok
  FROM toks
),
tri_t AS (
  SELECT doc_id, gs.i AS pos,
         toks[gs.i] AS w1, toks[gs.i + 1] AS w2, toks[gs.i + 2] AS w3
  FROM toks, generate_series(1, 4094) gs(i)
  WHERE gs.i <= len(toks) - 2 AND lang = 'en'
),
tri_s AS (
  SELECT doc_id, gs.i AS pos,
         toks[gs.i] AS w1, toks[gs.i + 1] AS w2, toks[gs.i + 2] AS w3
  FROM toks, generate_series(1, 4094) gs(i)
  WHERE gs.i <= len(toks) - 2
),
t3 AS (SELECT w1, w2, w3, CAST(COUNT(*) AS HUGEINT) AS c FROM tri_t GROUP BY 1, 2, 3),
b12 AS (
  SELECT w1, w2, CAST(SUM(c) AS HUGEINT) AS bb, CAST(COUNT(*) AS HUGEINT) AS n1
  FROM t3 GROUP BY 1, 2
),
t23 AS (SELECT w2, w3, CAST(COUNT(*) AS HUGEINT) AS n23 FROM t3 GROUP BY 1, 2),
e2 AS (SELECT w2, CAST(COUNT(*) AS HUGEINT) AS ee FROM t3 GROUP BY 1),
n2t AS (SELECT w2, CAST(COUNT(*) AS HUGEINT) AS nn2 FROM t23 GROUP BY 1),
m3 AS (SELECT w3, CAST(COUNT(*) AS HUGEINT) AS mm FROM t23 GROUP BY 1),
tt AS (
  SELECT CASE WHEN COUNT(*) = 0
              THEN error('KN3_HELDOUT_SQL: empty training corpus (T = 0)')
              ELSE CAST(COUNT(*) AS HUGEINT) END AS t
  FROM t23
),
num1a_t AS (
  SELECT t3.w1, t3.w2, t3.w3,
         (4*t3.c - 3) * 4 * e2.ee * (SELECT t FROM tt)
         + 3*b12.n1 * ((4*t23.n23 - 3) * (SELECT t FROM tt) + 3*n2t.nn2*m3.mm) AS nn
  FROM t3
  JOIN t23 USING (w2, w3)
  JOIN b12 USING (w1, w2)
  JOIN e2 USING (w2)
  JOIN n2t USING (w2)
  JOIN m3 USING (w3)
),
d3_t AS (
  SELECT b12.w1, b12.w2, 16 * b12.bb * e2.ee * (SELECT t FROM tt) AS nn
  FROM b12 JOIN e2 USING (w2)
),
b4_t AS (SELECT w1, w2, 4 * bb AS nn FROM b12),
n31_t AS (SELECT w1, w2, 3 * n1 AS nn FROM b12),
c2a_t AS (
  SELECT t23.w2, t23.w3,
         (4*t23.n23 - 3) * (SELECT t FROM tt) + 3*n2t.nn2*m3.mm AS nn
  FROM t23 JOIN n2t USING (w2) JOIN m3 USING (w3)
),
d2_t AS (
  SELECT e2.w2, 4 * e2.ee * (SELECT t FROM tt) AS nn FROM e2
),
n32_t AS (SELECT w2, 3 * nn2 AS nn FROM n2t),
m_t AS (SELECT w3, mm AS nn FROM m3),
{sql_ln_exact_dec_ctes("num1a_t", "w1, w2, w3", "nn", "ln_num1a")},
{sql_ln_exact_dec_ctes("d3_t", "w1, w2", "nn", "ln_d3")},
{sql_ln_exact_dec_ctes("b4_t", "w1, w2", "nn", "ln_4b")},
{sql_ln_exact_dec_ctes("n31_t", "w1, w2", "nn", "ln_3n1")},
{sql_ln_exact_dec_ctes("c2a_t", "w2, w3", "nn", "ln_2a")},
{sql_ln_exact_dec_ctes("d2_t", "w2", "nn", "ln_d2")},
{sql_ln_exact_dec_ctes("n32_t", "w2", "nn", "ln_3n2")},
{sql_ln_exact_dec_ctes("m_t", "w3", "nn", "ln_m")},
{sql_ln_exact_dec_ctes("tt", "t", "t", "ln_t")},
perdoc AS (
  SELECT s.doc_id, COUNT(*) AS m,
         list_reduce(list_prepend(0.0, list(
           (CASE
              WHEN n1a.ln IS NOT NULL THEN d3.ln - n1a.ln
              WHEN b4.ln IS NOT NULL AND c2a.ln IS NOT NULL
                THEN (b4.ln + d2.ln) - (n31.ln + c2a.ln)
              WHEN b4.ln IS NOT NULL
                THEN (b4.ln + d2.ln) - (n31.ln + n32.ln + COALESCE(lm.ln, 0.0))
              WHEN c2a.ln IS NOT NULL THEN d2.ln - c2a.ln
              WHEN d2.ln IS NOT NULL
                THEN d2.ln - (n32.ln + COALESCE(lm.ln, 0.0))
              ELSE g.lnt - COALESCE(lm.ln, 0.0)
            END) ORDER BY s.pos)),
                     (a, x) -> a + x) AS s
  FROM tri_s s
  LEFT JOIN ln_num1a n1a ON n1a.w1 = s.w1 AND n1a.w2 = s.w2 AND n1a.w3 = s.w3
  LEFT JOIN ln_d3 d3 ON d3.w1 = s.w1 AND d3.w2 = s.w2
  LEFT JOIN ln_4b b4 ON b4.w1 = s.w1 AND b4.w2 = s.w2
  LEFT JOIN ln_3n1 n31 ON n31.w1 = s.w1 AND n31.w2 = s.w2
  LEFT JOIN ln_2a c2a ON c2a.w2 = s.w2 AND c2a.w3 = s.w3
  LEFT JOIN ln_d2 d2 ON d2.w2 = s.w2
  LEFT JOIN ln_3n2 n32 ON n32.w2 = s.w2
  LEFT JOIN ln_m lm ON lm.w3 = s.w3
  CROSS JOIN (SELECT ln AS lnt FROM ln_t) g
  GROUP BY s.doc_id
)
SELECT d.doc_id, COALESCE(pd.m, 0) AS n_trigrams,
       COALESCE(pd.s / CAST(pd.m AS DOUBLE), 0.0) AS xent_nats
FROM documents d LEFT JOIN perdoc pd USING (doc_id)
CROSS JOIN guard
WHERE guard.ok = 1
ORDER BY d.doc_id
"""


QUERIES["kneser_ney3_heldout_docs"] = Query(
    kneser_ney3_heldout_docs, _kn3_heldout_oracle(),
    tags=("text", "quality", "lm", "heldout"),
)


# ------------------------------------------------ exact perplexity
def kn_perplexity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc PERPLEXITY (not just nats) under the corpus's own KN
    bigram LM — the first gate to emit exp() as a hash-exact VALUE:
    ``text.exp_exact`` reduces x = k·ln2 + r and evaluates a
    fixed-order Taylor series, so both engines round identically and
    the 'exp is not bit-portable, left to caller' caveat is gone."""
    from dataclass_array_spark.operators.text import (
        exp_exact,
        kneser_ney_xent_scores,
    )

    d = spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    kn = kneser_ney_xent_scores(d, "text", "doc_id")
    return kn.select(
        "doc_id",
        "n_bigrams",
        "xent_nats",
        exp_exact(F.col("xent_nats")).alias("ppl"),
    ).orderBy("doc_id")


def _kn_ppl_oracle() -> str:
    from dataclass_array_spark.operators.text import sql_exp_exact_ctes
    from dataclass_array_spark.workload.llm4 import _kn_lm_oracle

    return f"""
WITH base AS ({_kn_lm_oracle()}),
{sql_exp_exact_ctes("base", "doc_id", "xent_nats", "expd")}
SELECT b.doc_id, b.n_bigrams, b.xent_nats, e.ex AS ppl
FROM base b JOIN expd e USING (doc_id)
ORDER BY b.doc_id
"""


QUERIES["kn_perplexity_docs"] = Query(
    kn_perplexity_docs, _kn_ppl_oracle(), tags=("text", "quality", "lm")
)


# ------------------------------------------------ exact logistic
def classifier_sigmoid_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashed-n-gram classifier with its LOGISTIC PROBABILITY
    materialized: p = 1/(1 + exp(−margin)) via ``text.exp_exact`` —
    the inference output a production quality filter thresholds on,
    now a hash-exact value instead of a caller-side step."""
    from dataclass_array_spark.operators.classifier import (
        classifier_score,
        hash_weights,
    )
    from dataclass_array_spark.operators.text import exp_exact
    from dataclass_array_spark.workload.llm4 import _CLF_BUCKETS

    d = spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    scored = classifier_score(
        d, hash_weights(spark, _CLF_BUCKETS), "text", "doc_id", _CLF_BUCKETS
    )
    return scored.select(
        "doc_id",
        "n_features",
        "margin",
        (F.lit(1.0) / (F.lit(1.0) + exp_exact(-F.col("margin")))).alias(
            "prob"
        ),
    ).orderBy("doc_id")


def _clf_sigmoid_oracle() -> str:
    from dataclass_array_spark.operators.text import sql_exp_exact_ctes
    from dataclass_array_spark.workload.llm4 import _clf_oracle

    return f"""
WITH base AS ({_clf_oracle()}),
{sql_exp_exact_ctes("base", "doc_id", "-margin", "expd")}
SELECT b.doc_id, b.n_features, b.margin,
       1.0 / (1.0 + e.ex) AS prob
FROM base b JOIN expd e USING (doc_id)
ORDER BY b.doc_id
"""


QUERIES["classifier_sigmoid_docs"] = Query(
    classifier_sigmoid_docs, _clf_sigmoid_oracle(),
    tags=("text", "quality", "classifier"),
)


# ------------------------------------------------ streaming LM counts
def streaming_trigram_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trigram-count accumulation over the documents stream —
    the ingest half of the KN pipeline: per-batch LM-sized partials
    through the replay-safe batch-partitioned sink, SUM-merged on read;
    equals the one-shot batch counts exactly for any micro-batch
    boundaries.  Oracle = the plain batch trigram aggregation."""
    from dataclass_array_spark.streaming import ngram_counts_stream
    from dataclass_array_spark.streaming.core import documents_stream

    s = documents_stream(spark, f"{sf_dir}/documents.parquet")
    tmp = fresh_stream_tmpdir("ngram", sf_dir)
    merged = ngram_counts_stream(
        s, "text",
        output_dir=f"{tmp}/out", checkpoint_dir=f"{tmp}/ckpt", n=3,
    )
    return merged.orderBy("w1", "w2", "w3")


def _streaming_trigram_oracle() -> str:
    return f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
guard AS (
  SELECT CASE WHEN COALESCE(MAX(len(toks)), 0) > 4096
              THEN error('STREAM_TRI_SQL: document exceeds 4096-token oracle cap')
              ELSE 1 END AS ok
  FROM toks
),
tri AS (
  SELECT toks[gs.i] AS w1, toks[gs.i + 1] AS w2, toks[gs.i + 2] AS w3
  FROM toks, generate_series(1, 4094) gs(i)
  WHERE gs.i <= len(toks) - 2
)
SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c
FROM tri CROSS JOIN guard
WHERE guard.ok = 1
GROUP BY w1, w2, w3
ORDER BY w1, w2, w3
"""


QUERIES["streaming_trigram_counts_docs"] = Query(
    streaming_trigram_counts_docs, _streaming_trigram_oracle(),
    tags=("streaming", "text", "lm"),
)


# ------------------------------------------------ arbitrary-alpha mixing
_ALPHA_TARGET = 300.0
_ALPHA = 0.25


def temperature_mixture_alpha_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted domain mixing at an ARBITRARY temperature
    (alpha=0.25): weights are ``exp_exact(alpha * ln_exact(n))`` — the
    fixed-order series pair — so any temperature is now gate-exact
    (previously only alpha=0.5's IEEE sqrt was; libm pow is not
    bit-portable).  Same broadcast-rates / map-side-filter shape as
    ``domain_mixture_sample``."""
    from dataclass_array_spark.operators.sampling import (
        temperature_mixture_rates,
        temperature_sample,
    )

    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    rates = temperature_mixture_rates(
        d, "source", target_rows=_ALPHA_TARGET, alpha=_ALPHA
    )
    return (
        temperature_sample(d, rates, "source", "doc_id")
        .select("doc_id", "source", "rate_ppm")
        .orderBy("doc_id")
    )


def _mixture_alpha_oracle() -> str:
    from dataclass_array_spark.operators.sampling import (
        sql_temperature_sample_alpha,
    )

    return sql_temperature_sample_alpha(
        "documents", "source", "doc_id", _ALPHA_TARGET, _ALPHA
    )


QUERIES["temperature_mixture_alpha_docs"] = Query(
    temperature_mixture_alpha_docs, _mixture_alpha_oracle(),
    tags=("sampling", "mixture"),
)


# ------------------------------------------------ in-engine training
_FIT_BUCKETS = 256
_FIT_LR = 0.5
_FIT_ITERS = 3


def classifier_train_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-ENGINE classifier training (round-14 VERDICT item 3):
    deterministic full-batch logistic regression over the hashed
    uni+bigram features, labels = (lang == 'en') — the wiki-vs-crawl
    style in-pipeline label a production quality filter trains on.
    Output = the trained weight table after exactly 3 steps (bucket,
    ws scaled-integer, w double).  The DuckDB oracle unrolls the
    identical three iterations (the k-means/PageRank discipline), so
    the learned weights themselves are hash-exact."""
    from dataclass_array_spark.operators.classifier import classifier_fit

    d = spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    d = d.withColumn(
        "__y", (F.col("lang") == "en").cast("long")
    )
    fit = classifier_fit(
        d, "text", "doc_id", "__y", _FIT_BUCKETS,
        lr=_FIT_LR, n_iters=_FIT_ITERS,
    )
    return fit.select("bucket", "ws", "w").orderBy("bucket")


def _clf_train_oracle() -> str:
    from dataclass_array_spark.operators.classifier import (
        W_SCALE,
        sql_classifier_fit_ctes,
        sql_feature_bucket,
        sql_ngram_feats,
    )

    return f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
guard AS (
  SELECT CASE WHEN COALESCE(MAX(len(toks)), 0) > 4096
              THEN error('CLF_FIT_SQL: document exceeds 4096-token oracle cap')
              ELSE 1 END AS ok
  FROM toks
),
feats AS (
  {sql_ngram_feats("toks")}
),
fb AS (
  SELECT doc_id, {sql_feature_bucket("f", _FIT_BUCKETS)} AS bucket FROM feats
),
lab AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM documents
),
{sql_classifier_fit_ctes("fb", "lab", _FIT_BUCKETS, _FIT_LR, _FIT_ITERS)}
SELECT bucket, ws, CAST(ws AS DOUBLE) / {float(W_SCALE)!r} AS w
FROM wfit
CROSS JOIN guard
WHERE guard.ok = 1
ORDER BY bucket
"""


QUERIES["classifier_train_docs"] = Query(
    classifier_train_docs, _clf_train_oracle(),
    tags=("text", "quality", "classifier", "training"),
)


# ------------------------------------------------ FFD context packing
_FFD_BLOCK = 256
_FFD_BUCKETS = 32


def pack_ffd_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NO-SPLIT context-window packing (round-14 VERDICT item 4):
    first-fit-decreasing per hash bucket — each document placed WHOLE
    into a 256-token bin (vs ``pack_context_windows``' concat-and-chop,
    which splits documents across windows).  All-integer fold, so the
    recursive-CTE oracle replays every placement exactly."""
    from dataclass_array_spark.operators.packing import pack_sequences_ffd

    d = spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    sized = d.select(
        "doc_id", tx.token_count(F.col("text")).alias("n_tokens")
    )
    return (
        pack_sequences_ffd(
            sized, "doc_id", "n_tokens", _FFD_BLOCK, nbuckets=_FFD_BUCKETS
        )
        .orderBy("doc_id")
    )


def _pack_ffd_oracle() -> str:
    from dataclass_array_spark.operators.packing import sql_pack_ffd

    inner = sql_pack_ffd(
        "(SELECT doc_id, len({toks}) AS n_tokens FROM documents)".format(
            toks=_SQL_TOKS
        ),
        "doc_id",
        "n_tokens",
        _FFD_BLOCK,
        nbuckets=_FFD_BUCKETS,
    )
    # re-wrap: the driver compare sorts rows itself, but column names
    # must match the Spark side (id col stays doc_id, size n_tokens)
    return f"""
SELECT id AS doc_id, size AS n_tokens, bucket, bin, bin_off
FROM ({inner})
ORDER BY doc_id
"""


QUERIES["pack_ffd_docs"] = Query(
    pack_ffd_docs, _pack_ffd_oracle(), tags=("packing", "layout")
)


# ------------------------------------------------ streaming KN scoring
def streaming_kn_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Kneser-Ney END-TO-END (round-14 VERDICT item 8): the
    documents corpus streams through the replay-safe trigram-count
    sink (micro-batched ingest), and the SUM-merged counts drive the
    batch KN scorer over the same corpus.  Counts are additive and
    every KN statistic derives from the one count table, so the result
    EQUALS the one-shot batch self-scoring gate — the oracle is
    ``kneser_ney3_lm_docs``'s batch oracle VERBATIM."""
    from dataclass_array_spark.streaming import kn3_stream_score
    from dataclass_array_spark.streaming.core import documents_stream

    s = documents_stream(spark, f"{sf_dir}/documents.parquet")
    d = spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    tmp = fresh_stream_tmpdir("knstream", sf_dir)
    return kn3_stream_score(
        s, d, "text", "doc_id",
        output_dir=f"{tmp}/out", checkpoint_dir=f"{tmp}/ckpt",
    ).orderBy("doc_id")


QUERIES["streaming_kn_score_docs"] = Query(
    streaming_kn_score_docs, _kn3_oracle(),
    tags=("streaming", "text", "lm"),
)


# ------------------------------------------------ train -> score -> AUC
def classifier_auc_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classifier loop CLOSED end-to-end in one gate: train
    (``classifier_fit``, 3 deterministic steps) → score every doc with
    the trained weights (``classifier_score`` via the exact-decimal
    handoff) → evaluate with the exact Mann-Whitney AUC
    (``metrics.auc_exact`` — a ratio of integers, ties half-credited
    exactly).  One row: (n_pos, n_neg, u2, auc), all hash-exact
    including the learned-model-dependent AUC itself."""
    from dataclass_array_spark.operators.classifier import (
        classifier_fit,
        classifier_score,
        fit_weights_for_scoring,
    )
    from dataclass_array_spark.operators.metrics import auc_exact
    from dataclass_array_spark.operators.text import checked_i64

    d = spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    d = d.withColumn("__y", (F.col("lang") == "en").cast("long"))
    # Round 16 tried sharing ONE pinned featurize pass between fit and
    # score (VERDICT r15 item 3) and REVERTED it on the sf1 sweep:
    # localCheckpoint keeps ROW-format blocks, so the 3 fit iterations
    # each deserialize full instance rows where fit's own columnar
    # persist() prunes to (__id, __y, bucket) — sf1 9.6→13.4 s on this
    # gate (0.72×) against a ~0.9 s sf0.1 win.  Re-tokenizing for the
    # score pass is the cheaper trade at scale (the round-7 minhash
    # keep-recomputing lesson).
    fit = classifier_fit(
        d, "text", "doc_id", "__y", _FIT_BUCKETS,
        lr=_FIT_LR, n_iters=_FIT_ITERS,
    )
    scored = classifier_score(
        d, fit_weights_for_scoring(fit), "text", "doc_id", _FIT_BUCKETS,
    )
    labeled = scored.join(d.select("doc_id", "__y"), "doc_id")
    out = auc_exact(labeled, "__y", "margin")
    return out.select(
        "n_pos",
        "n_neg",
        checked_i64(F.col("u2"), "classifier_auc u2").alias("u2"),
        "auc",
    )


def _clf_trained_marg_ctes() -> str:
    """Shared oracle prefix for the trained-classifier evaluation
    gates: the full unrolled training CTE chain ending in
    ``marg(doc_id, source, y, margin)`` — the global AUC gate and the
    per-source fairness gate differ only in the AUC CTEs appended."""
    from dataclass_array_spark.operators.classifier import (
        sql_classifier_fit_ctes,
        sql_feature_bucket,
        sql_ngram_feats,
    )

    return f"""toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
guard AS (
  SELECT CASE WHEN COALESCE(MAX(len(toks)), 0) > 4096
              THEN error('CLF_AUC_SQL: document exceeds 4096-token oracle cap')
              ELSE 1 END AS ok
  FROM toks
),
feats AS (
  {sql_ngram_feats("toks")}
),
fb AS (
  SELECT doc_id, {sql_feature_bucket("f", _FIT_BUCKETS)} AS bucket FROM feats
),
lab AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM documents
),
{sql_classifier_fit_ctes("fb", "lab", _FIT_BUCKETS, _FIT_LR, _FIT_ITERS)},
wdec AS (
  SELECT bucket,
         CAST(CAST(ws AS DECIMAL(19,0))
              * CAST('0.000000001' AS DECIMAL(10,9)) AS DECIMAL(20,9)) AS w
  FROM wfit
),
spd AS (
  SELECT fb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_features,
         CAST(SUM(CAST(COALESCE(w.w, 0) AS DECIMAL(20,9))) AS DECIMAL(38,9)) AS s
  FROM fb LEFT JOIN wdec w USING (bucket)
  GROUP BY fb.doc_id
),
marg AS (
  SELECT d.doc_id, d.source,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
         CASE WHEN COALESCE(pd.n_features, 0) > 0
              THEN CAST(pd.s AS DOUBLE) / CAST(pd.n_features AS DOUBLE)
              ELSE 0.0 END AS margin
  FROM documents d LEFT JOIN spd pd USING (doc_id)
)"""


def _clf_auc_oracle() -> str:
    from dataclass_array_spark.operators.metrics import sql_auc_ctes

    return f"""
WITH {_clf_trained_marg_ctes()},
{sql_auc_ctes("marg", "y", "margin")}
SELECT n_pos, n_neg, CAST(u2 AS BIGINT) AS u2, auc
FROM auc
CROSS JOIN guard
WHERE guard.ok = 1
"""


QUERIES["classifier_auc_docs"] = Query(
    classifier_auc_docs, _clf_auc_oracle(),
    tags=("text", "quality", "classifier", "metrics"),
)


# ------------------------------------------------ PR curve
def classifier_pr_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact precision/recall/F1 at every distinct classifier-margin
    threshold (labels = lang == 'en', fixture-weight model — the
    operating-point table a production filter reads to pick its
    cutoff).  Counts are exact integers; every ratio is one division;
    same two-phase no-global-sort shape as the AUC gate."""
    from dataclass_array_spark.operators.metrics import pr_curve_exact

    labeled = _clf_margin_frame(spark, sf_dir)
    return pr_curve_exact(labeled, "__y", "margin").orderBy("threshold")


def _clf_pr_oracle() -> str:
    from dataclass_array_spark.operators.metrics import sql_pr_curve_ctes
    from dataclass_array_spark.workload.llm4 import _clf_oracle

    return f"""
WITH base AS ({_clf_oracle()}),
lab AS (
  SELECT b.doc_id,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
         b.margin
  FROM base b JOIN documents d USING (doc_id)
),
{sql_pr_curve_ctes("lab", "y", "margin")}
SELECT threshold, tp, fp, fn, precision, recall, f1
FROM pr
ORDER BY threshold
"""


QUERIES["classifier_pr_docs"] = Query(
    classifier_pr_docs, _clf_pr_oracle(),
    tags=("text", "quality", "classifier", "metrics"),
)


# ------------------------------------------------ ANN recall eval
def ann_recall_ivf_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF ANN index against the exact brute-force
    top-5, per query — the similarity-search family's "measure, don't
    guess" closer: IVF trades recall for scan fraction (nprobe=4 of 16
    cells ≈ 25% of the corpus scanned), and this gate pins the
    resulting recall as an exact, reproducible number.  Both result
    sets are deterministic, so hits are exact set intersections and
    the oracle composes the two existing ANN oracles verbatim."""
    from dataclass_array_spark.operators.metrics import ann_recall
    from dataclass_array_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    from dataclass_array_spark.workload.llm import _N_QUERIES

    q = e.filter(F.col("vec_id") < _N_QUERIES)
    approx = ivf_topk(
        q, e, "vec_id", "vec_id", "embedding",
        n_centroids=16, nprobe=4, k=5,
    )
    truth = brute_force_topk(q, e, "vec_id", "vec_id", "embedding", k=5)
    return ann_recall(approx, truth).orderBy("qid")


def _ann_recall_oracle() -> str:
    from dataclass_array_spark.workload.llm import COSINE_SQL, IVF_SQL

    return f"""
WITH a AS (SELECT DISTINCT qid, nid FROM ({IVF_SQL})),
t AS (SELECT DISTINCT qid, nid FROM ({COSINE_SQL})),
h AS (SELECT a.qid, CAST(COUNT(*) AS BIGINT) AS hits
      FROM a JOIN t USING (qid, nid) GROUP BY a.qid),
b AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS k FROM t GROUP BY qid)
SELECT b.qid, COALESCE(h.hits, 0) AS hits, b.k,
       CAST(COALESCE(h.hits, 0) AS DOUBLE) / CAST(b.k AS DOUBLE) AS recall
FROM b LEFT JOIN h ON h.qid = b.qid
ORDER BY b.qid
"""


QUERIES["ann_recall_ivf_docs"] = Query(
    ann_recall_ivf_docs, _ann_recall_oracle(),
    tags=("embedding", "ann", "metrics"),
)


# ------------------------------------------------ calibration bins
_CAL_BINS = 10


def _clf_margin_frame(
    spark: SparkSession, sf_dir: str, with_source: bool = False
) -> DataFrame:
    """Shared scaffold for the fixture-weight classifier evaluation
    gates (PR / KS / best-F1): hash-weight margins joined to the
    en/non-en label as ``__y`` (plus the ``source`` slice column when
    asked) — ONE definition so the scoring/label recipe cannot drift
    between gates (round-15 review: it used to be inlined per gate;
    the SQL side already had this via ``_clf_oracle()``)."""
    from dataclass_array_spark.operators.classifier import (
        classifier_score,
        hash_weights,
    )
    from dataclass_array_spark.workload.llm4 import _CLF_BUCKETS

    d = spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    scored = classifier_score(
        d, hash_weights(spark, _CLF_BUCKETS), "text", "doc_id", _CLF_BUCKETS
    )
    cols = ["doc_id", "source"] if with_source else ["doc_id"]
    return scored.join(
        d.select(*cols, (F.col("lang") == "en").cast("long").alias("__y")),
        "doc_id",
    )


def _clf_prob_frame(
    spark: SparkSession, sf_dir: str, with_source: bool = False
) -> DataFrame:
    """The probability variant (calibration / ECE / Brier gates):
    ``prob = 1/(1 + exp_exact(-40·margin))`` — temperature 40 spreads
    the near-zero fixture margins across the bin grid; the exact-exp
    fixed-IEEE op sequence is what the oracles mirror via
    ``sql_exp_exact_ctes``."""
    from dataclass_array_spark.operators.text import exp_exact

    m = _clf_margin_frame(spark, sf_dir, with_source=with_source)
    cols = ["doc_id", "source"] if with_source else ["doc_id"]
    return m.select(
        *cols,
        "__y",
        (
            F.lit(1.0)
            / (F.lit(1.0) + exp_exact(F.lit(-40.0) * F.col("margin")))
        ).alias("prob"),
    )


def classifier_calibration_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins for the classifier's exact logistic
    probabilities vs the lang=='en' label — the third leg of the
    evaluation family (AUC ranks, PR picks the cutoff, calibration
    says whether the probabilities MEAN anything).  Floor-grid bins +
    quantized-probability sums keep the whole table engine-exact."""
    from dataclass_array_spark.operators.metrics import calibration_bins

    labeled = _clf_prob_frame(spark, sf_dir)
    return calibration_bins(labeled, "__y", "prob", _CAL_BINS).orderBy("bin")


def _clf_cal_oracle() -> str:
    from dataclass_array_spark.operators.metrics import sql_calibration_ctes
    from dataclass_array_spark.operators.text import sql_exp_exact_ctes
    from dataclass_array_spark.workload.llm4 import _clf_oracle

    return f"""
WITH mbase AS ({_clf_oracle()}),
{sql_exp_exact_ctes("mbase", "doc_id", "CAST('-40.0' AS DOUBLE) * margin", "expd")},
base AS (
  SELECT doc_id, 1.0 / (1.0 + ex) AS prob FROM expd
),
lab AS (
  SELECT b.doc_id,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
         b.prob
  FROM base b JOIN documents d USING (doc_id)
),
{sql_calibration_ctes("lab", "y", "prob", _CAL_BINS)}
SELECT bin, n, n_pos, mean_pred, frac_pos
FROM calib
ORDER BY bin
"""


QUERIES["classifier_calibration_docs"] = Query(
    classifier_calibration_docs, _clf_cal_oracle(),
    tags=("text", "quality", "classifier", "metrics"),
)


# ------------------------------------------------ per-source AUC (fairness)
def classifier_auc_by_source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production FAIRNESS TABLE (round-15 VERDICT item 5): the
    trained classifier's exact AUC per evaluation slice — train once
    (``classifier_fit``, the same 3 deterministic steps as
    ``classifier_auc_docs``), score every doc, then
    ``auc_exact(group_cols=["source"])`` for one (n_pos, n_neg, u2,
    auc) row per source.  Slicing by ``source`` rather than ``lang``
    because the label IS lang=='en' — every lang slice would be
    single-class by construction; source slices carry both classes at
    every SF.  The grouped running count goes through
    ``grouped_cumsum`` (two-phase, partitioned by slice — never a
    single-task sort of a slice's distinct scores)."""
    from dataclass_array_spark.operators.classifier import (
        classifier_fit,
        classifier_score,
        fit_weights_for_scoring,
    )
    from dataclass_array_spark.operators.metrics import auc_exact
    from dataclass_array_spark.operators.text import checked_i64

    d = spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    d = d.withColumn("__y", (F.col("lang") == "en").cast("long"))
    # Shared pinned featurize tried and REVERTED on the sf1 sweep —
    # see classifier_auc_docs.
    fit = classifier_fit(
        d, "text", "doc_id", "__y", _FIT_BUCKETS,
        lr=_FIT_LR, n_iters=_FIT_ITERS,
    )
    scored = classifier_score(
        d, fit_weights_for_scoring(fit), "text", "doc_id", _FIT_BUCKETS,
    )
    labeled = scored.join(d.select("doc_id", "source", "__y"), "doc_id")
    out = auc_exact(labeled, "__y", "margin", group_cols=["source"])
    return out.select(
        "source",
        "n_pos",
        "n_neg",
        checked_i64(F.col("u2"), "classifier_auc_by_source u2").alias("u2"),
        "auc",
    ).orderBy("source")


def _clf_auc_by_source_oracle() -> str:
    from dataclass_array_spark.operators.metrics import sql_auc_ctes

    return f"""
WITH {_clf_trained_marg_ctes()},
{sql_auc_ctes("marg", "y", "margin", group_exprs=["source"])}
SELECT source, n_pos, n_neg, CAST(u2 AS BIGINT) AS u2, auc
FROM auc
CROSS JOIN guard
WHERE guard.ok = 1
ORDER BY source
"""


QUERIES["classifier_auc_by_source_docs"] = Query(
    classifier_auc_by_source_docs, _clf_auc_by_source_oracle(),
    tags=("text", "quality", "classifier", "metrics", "fairness"),
)


# ------------------------------------------------ expected calibration error
def classifier_ece_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Calibration Error of the classifier's exact logistic
    probabilities (round-15 VERDICT item 7 — the one-number closer the
    calibration gate's docstring promised): the same scaled-logistic
    probabilities as ``classifier_calibration_docs``, folded to one
    (n, ece) row via ``metrics.ece_exact`` — per-bin terms over exact
    bin statistics, summed by the SAME sequential bin-order fold on
    both engines (``F.aggregate`` ≡ ``list_reduce``)."""
    from dataclass_array_spark.operators.metrics import ece_exact

    labeled = _clf_prob_frame(spark, sf_dir)
    return ece_exact(labeled, "__y", "prob", _CAL_BINS)


def _clf_ece_oracle() -> str:
    from dataclass_array_spark.operators.metrics import sql_ece_ctes
    from dataclass_array_spark.operators.text import sql_exp_exact_ctes
    from dataclass_array_spark.workload.llm4 import _clf_oracle

    return f"""
WITH mbase AS ({_clf_oracle()}),
{sql_exp_exact_ctes("mbase", "doc_id", "CAST('-40.0' AS DOUBLE) * margin", "expd")},
base AS (
  SELECT doc_id, 1.0 / (1.0 + ex) AS prob FROM expd
),
lab AS (
  SELECT b.doc_id,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
         b.prob
  FROM base b JOIN documents d USING (doc_id)
),
{sql_ece_ctes("lab", "y", "prob", _CAL_BINS)}
SELECT n, ece FROM ece
"""


QUERIES["classifier_ece_docs"] = Query(
    classifier_ece_docs, _clf_ece_oracle(),
    tags=("text", "quality", "classifier", "metrics"),
)


# ------------------------------------------------ per-source ECE (fairness)
def classifier_ece_by_source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The calibration half of the fairness table (round 15, companion
    to ``classifier_auc_by_source_docs``): Expected Calibration Error
    of the classifier's exact logistic probabilities PER SOURCE slice —
    ``ece_exact(group_cols=["source"])``, per-slice N and per-slice
    sequential bin-order fold, one (source, n, ece) row per source."""
    from dataclass_array_spark.operators.metrics import ece_exact

    labeled = _clf_prob_frame(spark, sf_dir, with_source=True)
    return ece_exact(
        labeled, "__y", "prob", _CAL_BINS, group_cols=["source"]
    ).orderBy("source")


def _clf_ece_by_source_oracle() -> str:
    from dataclass_array_spark.operators.metrics import sql_ece_ctes
    from dataclass_array_spark.operators.text import sql_exp_exact_ctes
    from dataclass_array_spark.workload.llm4 import _clf_oracle

    return f"""
WITH mbase AS ({_clf_oracle()}),
{sql_exp_exact_ctes("mbase", "doc_id", "CAST('-40.0' AS DOUBLE) * margin", "expd")},
base AS (
  SELECT doc_id, 1.0 / (1.0 + ex) AS prob FROM expd
),
lab AS (
  SELECT b.doc_id, d.source,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
         b.prob
  FROM base b JOIN documents d USING (doc_id)
),
{sql_ece_ctes("lab", "y", "prob", _CAL_BINS, group_exprs=["source"])}
SELECT source, n, ece FROM ece
ORDER BY source
"""


QUERIES["classifier_ece_by_source_docs"] = Query(
    classifier_ece_by_source_docs, _clf_ece_by_source_oracle(),
    tags=("text", "quality", "classifier", "metrics", "fairness"),
)


# ------------------------------------------------ Brier score
def classifier_brier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the classifier's exact logistic probabilities
    (round 15 — the overall proper-scoring-rule closer: AUC ranks, ECE
    calibrates, Brier scores both at once), computed on the 10⁻⁹
    quantized grid so the one squared-error sum is an order-free exact
    decimal aggregation instead of a float fold.  One (n, brier) row."""
    from dataclass_array_spark.operators.metrics import brier_exact

    labeled = _clf_prob_frame(spark, sf_dir)
    return brier_exact(labeled, "__y", "prob")


def _clf_brier_oracle() -> str:
    from dataclass_array_spark.operators.metrics import sql_brier_ctes
    from dataclass_array_spark.operators.text import sql_exp_exact_ctes
    from dataclass_array_spark.workload.llm4 import _clf_oracle

    return f"""
WITH mbase AS ({_clf_oracle()}),
{sql_exp_exact_ctes("mbase", "doc_id", "CAST('-40.0' AS DOUBLE) * margin", "expd")},
base AS (
  SELECT doc_id, 1.0 / (1.0 + ex) AS prob FROM expd
),
lab AS (
  SELECT b.doc_id,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
         b.prob
  FROM base b JOIN documents d USING (doc_id)
),
{sql_brier_ctes("lab", "y", "prob")}
SELECT n, brier FROM brier
"""


QUERIES["classifier_brier_docs"] = Query(
    classifier_brier_docs, _clf_brier_oracle(),
    tags=("text", "quality", "classifier", "metrics"),
)


# ------------------------------------------------ KS separation
def classifier_ks_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov separation of the classifier margin between
    en and non-en documents (round 15 — AUC integrates the class-
    separation gap, KS reports its worst point: the number a filter
    review quotes as "KS").  ``metrics.ks_exact``: every candidate
    |cumpos·N − cumneg·P| is an exact integer, the max is order-free,
    and the statistic is one division — same two-phase no-global-sort
    skeleton as the AUC gate.  One (n_pos, n_neg, d_num, ks) row."""
    from dataclass_array_spark.operators.metrics import ks_exact
    from dataclass_array_spark.operators.text import checked_i64

    labeled = _clf_margin_frame(spark, sf_dir)
    out = ks_exact(labeled, "__y", "margin")
    return out.select(
        "n_pos",
        "n_neg",
        checked_i64(F.col("d_num"), "classifier_ks d_num").alias("d_num"),
        "ks",
    )


def _clf_ks_oracle() -> str:
    from dataclass_array_spark.operators.metrics import sql_ks_ctes
    from dataclass_array_spark.workload.llm4 import _clf_oracle

    return f"""
WITH base AS ({_clf_oracle()}),
lab AS (
  SELECT b.doc_id,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
         b.margin
  FROM base b JOIN documents d USING (doc_id)
),
{sql_ks_ctes("lab", "y", "margin")}
SELECT n_pos, n_neg, CAST(d_num AS BIGINT) AS d_num, ks FROM ks
"""


QUERIES["classifier_ks_docs"] = Query(
    classifier_ks_docs, _clf_ks_oracle(),
    tags=("text", "quality", "classifier", "metrics"),
)


# ------------------------------------------------ best-F1 operating point
def classifier_f1_best_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operating point a deployed quality filter actually picks
    (round 15): the max-F1 row of the exact PR curve over classifier-
    margin thresholds — ``metrics.f1_best``, argmax DEFINED on the
    10⁻¹⁸ integer F1 key with highest-threshold tie-break so both
    engines select the identical row.  One (threshold, tp, fp, fn,
    precision, recall, f1) row — what ``classifier_pr_docs`` publishes
    as a table, this gate consumes the way a filter-tuning job does."""
    from dataclass_array_spark.operators.metrics import f1_best

    labeled = _clf_margin_frame(spark, sf_dir)
    return f1_best(labeled, "__y", "margin")


def _clf_f1_best_oracle() -> str:
    from dataclass_array_spark.operators.metrics import sql_f1_best_ctes
    from dataclass_array_spark.workload.llm4 import _clf_oracle

    return f"""
WITH base AS ({_clf_oracle()}),
lab AS (
  SELECT b.doc_id,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
         b.margin
  FROM base b JOIN documents d USING (doc_id)
),
{sql_f1_best_ctes("lab", "y", "margin")}
SELECT threshold, tp, fp, fn, precision, recall, f1 FROM f1b
"""


QUERIES["classifier_f1_best_docs"] = Query(
    classifier_f1_best_docs, _clf_f1_best_oracle(),
    tags=("text", "quality", "classifier", "metrics"),
)


# ------------------------------------------------ per-source Brier (fairness)
def classifier_brier_by_source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The proper-scoring third of the fairness table (round 15 —
    per-source AUC ranks, per-source ECE calibrates, this scores both
    at once per slice): Brier on the 10⁻⁹ quantized grid PER SOURCE —
    ``brier_exact(group_cols=["source"])``, one exact order-free
    decimal aggregation per slice.  One (source, n, brier) row per
    source."""
    from dataclass_array_spark.operators.metrics import brier_exact

    labeled = _clf_prob_frame(spark, sf_dir, with_source=True)
    return brier_exact(
        labeled, "__y", "prob", group_cols=["source"]
    ).orderBy("source")


def _clf_brier_by_source_oracle() -> str:
    from dataclass_array_spark.operators.metrics import sql_brier_ctes
    from dataclass_array_spark.operators.text import sql_exp_exact_ctes
    from dataclass_array_spark.workload.llm4 import _clf_oracle

    return f"""
WITH mbase AS ({_clf_oracle()}),
{sql_exp_exact_ctes("mbase", "doc_id", "CAST('-40.0' AS DOUBLE) * margin", "expd")},
base AS (
  SELECT doc_id, 1.0 / (1.0 + ex) AS prob FROM expd
),
lab AS (
  SELECT b.doc_id, d.source,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
         b.prob
  FROM base b JOIN documents d USING (doc_id)
),
{sql_brier_ctes("lab", "y", "prob", group_exprs=["source"])}
SELECT source, n, brier FROM brier
ORDER BY source
"""


QUERIES["classifier_brier_by_source_docs"] = Query(
    classifier_brier_by_source_docs, _clf_brier_by_source_oracle(),
    tags=("text", "quality", "classifier", "metrics", "fairness"),
)
