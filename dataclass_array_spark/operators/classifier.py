"""Hashed-n-gram LINEAR quality classifier — the trained-filter half of
a production quality pipeline (CCNet / fastText style: a perplexity
score from the LM family PLUS a linear classifier over hashed n-gram
features).  Round-13 VERDICT item 4.

Model: a document's features are its word UNIGRAMS and word BIGRAMS
(fastText's default ``wordNgrams=2``), each hashed into one of
``nbuckets`` buckets; the score is the dot product of the document's
feature-instance multiset with a bucket→weight table:

    score(d)  = Σ_{f ∈ features(d)} w[bucket(f)]      (with multiplicity)
    margin(d) = score(d) / n_features(d)              (fastText's mean)

The logistic squash ``1/(1+e^-margin)`` is not computed here —
thresholding the margin is equivalent (monotone).  For the actual
probability, compose with ``text.exp_exact`` (the fixed-order exp;
libm exp is not bit-portable, exp_exact is — see the
``classifier_sigmoid_docs`` gate).

Exactness: bucket = md5-derived (the house ``sampling.py`` hash —
the only hash portable bit-for-bit across Spark and DuckDB); weights
are cast to decimal(20,9) and summed as decimals (associative,
order-free), so the dot product is EXACT; one final decimal→double
cast is correctly rounded and identical in both engines while the
scaled sum stays under 2^53 (|w| ≤ ~10^6 at 4096-token docs — far
beyond any real model's weight range; the gate keeps |w| ≤ 1).

Plan shape / 100 TB story: feature extraction is IN-SCAN (token
array → unigram+bigram array, one explode); the weight lookup is a
join against a MODEL-SIZED table — bounded by construction at
``nbuckets`` rows (the user declared the model size), so the
``F.broadcast`` hint is legal under the round-12 rule (corpus-derived
tables must stay unhinted; model/sketch-sized tables may hint).  One
map-side-combinable per-doc aggregation after the broadcast join —
the whole op is scan + broadcast-join + one shuffle on the doc key.
Inference cost is linear in tokens, independent of model size.

Reference parity: the reference repo is an array library with no text
classifier; this extends SURVEY.md §2.B's training-data-pipeline rows
alongside the LM-quality family (``text.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataclass_array_spark.operators.text import let, tokens

__all__ = [
    "ngram_features",
    "feature_bucket",
    "classifier_score",
    "classifier_fit",
    "fit_weights_for_scoring",
    "dsir_log_weights",
    "hash_weights",
    "sql_ngram_feats",
    "sql_ngram_feats_pos",
    "sql_feature_bucket",
    "sql_hash_weights",
    "sql_classifier_fit_ctes",
    "W_SCALE",
    "R_SCALE",
]


def ngram_features(text: Column, n_max: int = 2) -> Column:
    """array<string> of word n-gram features (n = 1..n_max, space-
    joined, with multiplicity) of lowercased whitespace tokens — the
    fastText feature set.  Pure column expression; the token array is
    let-bound so the regex split runs once per row."""
    if not 1 <= int(n_max) <= 3:
        raise ValueError("ngram_features: n_max must be in 1..3")

    def _gram_at(toks: Column, n: int):
        # NB: the transform lambda must be UNARY — pyspark passes the
        # element index to a second parameter, clobbering defaults
        return lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + F.lit(j)) for j in range(n)]
        )

    def build(toks: Column) -> Column:
        parts = [toks]
        for n in range(2, int(n_max) + 1):
            gram = F.when(
                F.size(toks) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                    _gram_at(toks, n),
                ),
            ).otherwise(F.array().cast("array<string>"))
            parts.append(gram)
        return F.concat(*parts)

    return let(tokens(text), build)


def feature_bucket(feat: Column, nbuckets: int, salt: str = "clf") -> Column:
    """Feature string → bucket in [0, nbuckets): the house md5 hash
    (``sampling.py`` style — 15 hex digits fit a long exactly, and
    md5 is the only hash both engines compute bit-identically)."""
    h = F.md5(F.concat(F.lit(salt + "|"), feat))
    return (F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % int(nbuckets)).cast(
        "long"
    )


def hash_weights(spark, nbuckets: int) -> DataFrame:
    """A deterministic synthetic weight table (bucket, w decimal(12,6))
    with |w| ≤ 1 — a Knuth-multiplicative mix of the bucket id.  Used
    by the gate (no model file to ship); a real model would supply its
    own (bucket, w) table of the same shape."""
    return spark.range(int(nbuckets)).select(
        F.col("id").alias("bucket"),
        (
            ((F.col("id") * F.lit(2654435761) + F.lit(12345)) % F.lit(2000001)
             - F.lit(1000000)).cast("decimal(12,0)")
            * F.lit("0.000001").cast("decimal(7,6)")
        ).cast("decimal(12,6)").alias("w"),
    )


def classifier_score(
    df: DataFrame,
    weights_df: DataFrame,
    text_col: str,
    id_col: str,
    nbuckets: int,
    salt: str = "clf",
    n_max: int = 2,
    weight_col: str = "w",
) -> DataFrame:
    """Score every document with a hashed-n-gram linear model:
    → (id, n_features, score, margin).  ``weights_df(bucket, w)`` is
    the model (≤ nbuckets rows — BOUNDED by construction, hence the
    broadcast hint).  Missing buckets weigh 0.  ``score`` is the exact
    decimal dot product cast to double; ``margin`` its per-feature
    mean (0.0 for featureless docs); apply the logistic caller-side."""
    if int(nbuckets) < 1:
        raise ValueError("classifier_score: nbuckets must be >= 1")
    feats = df.select(
        F.col(id_col),
        F.posexplode_outer(ngram_features(F.col(text_col), n_max)).alias(
            "__fpos", "__f"
        ),
    ).select(
        id_col,
        "__fpos",
        F.when(
            F.col("__f").isNotNull(),
            feature_bucket(F.col("__f"), nbuckets, salt),
        ).alias("bucket"),
    )
    w = F.broadcast(
        weights_df.select(
            F.col("bucket").cast("long").alias("bucket"),
            F.col(weight_col).cast("decimal(20,9)").alias("__w"),
        )
    )
    per_doc = (
        feats.join(w, "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count("__fpos").cast("long").alias("n_features"),
            F.sum(
                F.when(F.col("__fpos").isNotNull(), F.coalesce(F.col("__w"), F.lit(0)))
            )
            .cast("decimal(38,9)")
            .alias("__s"),
        )
    )
    score = F.coalesce(F.col("__s"), F.lit(0).cast("decimal(38,9)")).cast(
        "double"
    )
    return per_doc.select(
        F.col(id_col),
        F.col("n_features"),
        score.alias("score"),
        F.when(
            F.col("n_features") > 0,
            score / F.col("n_features").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("margin"),
    )


# ---- SQL (DuckDB) mirrors ----


def sql_ngram_feats(toks_cte: str, cap: int = 4096, n_max: int = 2) -> str:
    """CTE body producing (doc_id, f) feature instances from
    ``{toks_cte}(doc_id, toks)`` — unigrams + n-grams up to n_max,
    mirroring :func:`ngram_features` (requires the standard ≤``cap``
    token oracle guard upstream)."""
    parts = [
        f"""SELECT doc_id, toks[gs.i] AS f
  FROM {toks_cte}, generate_series(1, {cap}) gs(i)
  WHERE gs.i <= len(toks)"""
    ]
    for n in range(2, int(n_max) + 1):
        joined = " || ' ' || ".join(f"toks[gs.i + {j}]" for j in range(n))
        joined = joined.replace("toks[gs.i + 0]", "toks[gs.i]")
        parts.append(
            f"""SELECT doc_id, {joined} AS f
  FROM {toks_cte}, generate_series(1, {cap - 1}) gs(i)
  WHERE gs.i <= len(toks) - {n - 1}"""
        )
    return "\n  UNION ALL\n  ".join(parts)


def sql_feature_bucket(f_expr: str, nbuckets: int, salt: str = "clf") -> str:
    return (
        f"CAST(('0x' || substr(md5('{salt}|' || ({f_expr})), 1, 15)) AS BIGINT)"
        f" % {int(nbuckets)}"
    )


def sql_hash_weights(nbuckets: int) -> str:
    """CTE body mirroring :func:`hash_weights`."""
    return f"""SELECT gs.i AS bucket,
         CAST(CAST((gs.i * 2654435761 + 12345) % 2000001 - 1000000
                   AS DECIMAL(12,0)) * CAST('0.000001' AS DECIMAL(7,6))
              AS DECIMAL(12,6)) AS w
  FROM generate_series(0, {int(nbuckets) - 1}) gs(i)"""


def dsir_log_weights(
    target_df: DataFrame,
    source_df: DataFrame,
    score_df: DataFrame,
    text_col: str,
    id_col: str,
    nbuckets: int,
    salt: str = "dsir",
    n_max: int = 2,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    per-document log importance weight of a hashed-n-gram bag-of-
    features model of the TARGET distribution over the SOURCE
    distribution —

        ln w(d) = Σ_{f ∈ d} [ ln p̂_t(b(f)) − ln p̂_s(b(f)) ]
        p̂(b)   = (count(b) + 1) / (N + nbuckets)     (Laplace)

    Resampling/top-k selection by ``log_weight`` is the caller's move
    (as with the classifier's logistic: the sort key is what matters).
    → (id, n_features, log_weight); featureless docs score 0.0.

    Exactness: every ln is :func:`~dataclass_array_spark.operators.
    text.ln_exact` of a POSITIVE INTEGER (count+1, N+nbuckets), the
    per-doc sum folds in feature-position order (the house IEEE-sum
    recipe), and the closed form groups per-instance terms as
    ``Σ (ln(ct+1) − ln(cs+1)) + n·(ln(Ns+nb) − ln(Nt+nb))`` — the
    DuckDB oracle mirrors that grouping token-for-token, so the gate
    is hash-exact.

    Plan shape / 100 TB story: the target/source corpora each take ONE
    in-scan featurize + map-side-combined bucket aggregation whose
    output is CAPPED at ``nbuckets`` rows (bounded by construction →
    the per-bucket delta table broadcasts legally, as do the 1-row
    totals); the scored corpus streams through one broadcast lookup +
    one per-doc aggregation.  No corpus-sized table is ever joined
    against another."""
    from dataclass_array_spark.operators.text import ln_exact

    spark = score_df.sparkSession
    nb = int(nbuckets)
    if nb < 1:
        raise ValueError("dsir_log_weights: nbuckets must be >= 1")

    def corpus_buckets(df: DataFrame, alias: str) -> DataFrame:
        return (
            df.select(
                F.explode(ngram_features(F.col(text_col), n_max)).alias("__f")
            )
            .select(feature_bucket(F.col("__f"), nb, salt).alias("bucket"))
            .groupBy("bucket")
            .agg(F.count("*").cast("long").alias(alias))
        )

    # Pin the two ≤nbuckets-row count tables (round-15): each was
    # referenced twice (the per-bucket delta AND the 1-row totals), so
    # both corpora were featurized + aggregated twice per run.  The pin
    # is bounded (nbuckets rows) and halves the corpus passes.
    from dataclass_array_spark.core.table import pin_materialization

    ct = pin_materialization(corpus_buckets(target_df, "ct"), "local")
    cs = pin_materialization(corpus_buckets(source_df, "cs"), "local")
    delta = (
        spark.range(nb)
        .select(F.col("id").alias("bucket"))
        .join(ct, "bucket", "left")
        .join(cs, "bucket", "left")
        .select(
            "bucket",
            (
                ln_exact(F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1))
                - ln_exact(F.coalesce(F.col("cs"), F.lit(0)) + F.lit(1))
            ).alias("__d"),
        )
    )
    scal = (
        ct.agg(F.coalesce(F.sum("ct"), F.lit(0)).cast("long").alias("nt"))
        .crossJoin(
            cs.agg(F.coalesce(F.sum("cs"), F.lit(0)).cast("long").alias("ns"))
        )
        .select(
            (
                ln_exact(F.col("ns") + F.lit(nb))
                - ln_exact(F.col("nt") + F.lit(nb))
            ).alias("__scal")
        )
    )
    feats = score_df.select(
        F.col(id_col),
        F.posexplode_outer(ngram_features(F.col(text_col), n_max)).alias(
            "__fpos", "__f"
        ),
    ).select(
        id_col,
        "__fpos",
        F.when(
            F.col("__f").isNotNull(), feature_bucket(F.col("__f"), nb, salt)
        ).alias("bucket"),
    )
    entry = F.when(
        F.col("__fpos").isNotNull(),
        F.struct(F.col("__fpos"), F.col("__d").alias("d")),
    )
    per_doc = (
        feats.join(F.broadcast(delta), "bucket", "left")
        .crossJoin(F.broadcast(scal))
        .groupBy(id_col)
        .agg(
            F.count("__fpos").cast("long").alias("n_features"),
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(entry)), lambda s: s.d
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("__s"),
            F.first("__scal").alias("__scal"),
        )
    )
    return per_doc.select(
        F.col(id_col),
        F.col("n_features"),
        (
            F.col("__s")
            + F.col("n_features").cast("double") * F.col("__scal")
        ).alias("log_weight"),
    )


def sql_ngram_feats_pos(toks_cte: str, cap: int = 4096) -> str:
    """CTE body producing (doc_id, fpos, f) feature INSTANCES with the
    0-based position matching :func:`ngram_features`'s concat layout
    (unigrams first, then bigrams) — the order key for the per-doc
    IEEE fold in :func:`dsir_log_weights`'s oracle.  n_max = 2 only."""
    return f"""SELECT doc_id, CAST(gs.i - 1 AS BIGINT) AS fpos, toks[gs.i] AS f
  FROM {toks_cte}, generate_series(1, {cap}) gs(i)
  WHERE gs.i <= len(toks)
  UNION ALL
  SELECT doc_id, CAST(len(toks) + gs.i - 1 AS BIGINT) AS fpos,
         toks[gs.i] || ' ' || toks[gs.i + 1] AS f
  FROM {toks_cte}, generate_series(1, {cap - 1}) gs(i)
  WHERE gs.i <= len(toks) - 1"""


# ---- in-engine training (round 14, VERDICT item 3) -----------------
#
# Deterministic FULL-BATCH logistic regression over the hashed
# uni+bigram features — the missing training half of the CCNet /
# fastText quality-filter story (production filters are trained on
# in-pipeline labels such as wiki-vs-crawl; inference-only scoring
# left the pipeline dependent on an external model file).
#
# Model (matches classifier_score's margin convention):
#     margin(d) = (Σ_{f∈d} w[bucket(f)]) / n_d
#     p(d)      = 1 / (1 + exp(−margin(d)))
#     ∂L/∂w[b]  = Σ_d (p(d) − y_d) · c_{d,b} / n_d        (log loss)
#     w ← w − lr · ∂L/∂w
#
# Exactness discipline (every step bit-portable Spark ≡ DuckDB):
#   * weights live as SCALED BIGINTs (w = ws / 10^9) — integer state,
#     no accumulated float drift across iterations;
#   * the per-doc dot is an exact integer sum; the margin/logistic is
#     a FIXED IEEE op sequence with exp via text.exp_exact;
#   * the per-doc residual (p−y)/n is quantized by
#     floor(res·10^15) — floor, not round: a double can land exactly
#     on a decimal HALF (e.g. 1/65536 at scale 15), where the engines'
#     cast tie-breaks could disagree, but floor is unambiguous;
#   * the bucket gradient is an exact decimal(38,0) sum of those
#     quantized integers — order-free, map-side combinable;
#   * the step  ws ← ws − floor(lr · double(g) · 10^-6)  is one fixed
#     IEEE triple (int→double conversions are correctly rounded in
#     Python, Spark and DuckDB alike) + exact integer subtraction.
#
# Plan shape / 100 TB story: featurize once (in-scan explode, cached
# spill-safe for the iteration loop); per iteration = one broadcast
# join against the MODEL-SIZED weight table + one per-doc aggregation
# + one per-bucket aggregation capped at nbuckets rows (the
# dsir_log_weights bucket-table shape).  Driver state is nbuckets
# scaled ints — bounded by the user's declared model size.  Cost is
# linear in corpus tokens per iteration, iterations are a fixed
# hyper-parameter.
W_SCALE = 1_000_000_000          # weights: ws = w * 10^9
R_SCALE = 1_000_000_000_000_000  # residual quantization: 10^15
# Up to this many buckets the per-iteration weight vector is attached
# as an array LITERAL indexed by bucket (zero join, zero broadcast
# job); above it, the broadcast hash join keeps the plan O(1) size.
_WS_LITERAL_MAX = 4096


def classifier_fit(
    df: DataFrame,
    text_col: str,
    id_col: str,
    label_col: str,
    nbuckets: int,
    lr: float = 0.5,
    n_iters: int = 3,
    salt: str = "clf",
    n_max: int = 2,
) -> DataFrame:
    """Train the hashed-n-gram logistic model; → ``(bucket, ws, w)``
    with one row per bucket (``ws`` the scaled-integer weight, ``w``
    its double value) — feed :func:`fit_weights_for_scoring` into
    :func:`classifier_score` for inference with the trained model.

    ``label_col`` must be 0/1 (cast to double internally).  Docs with
    zero features have no instances, hence no gradient contribution —
    consistent with their fixed margin of 0.  The iteration count is a
    hyper-parameter, NOT a convergence test (determinism: the gate
    unrolls exactly ``n_iters`` steps)."""
    import math

    nb = int(nbuckets)
    if nb < 1:
        raise ValueError("classifier_fit: nbuckets must be >= 1")
    if int(n_iters) < 1:
        raise ValueError("classifier_fit: n_iters must be >= 1")
    spark = df.sparkSession

    # Persist HASH-PARTITIONED BY DOC ID (round-15 measure-first): every
    # iteration both aggregates by __id (the per-doc dot) and joins the
    # residuals back on __id (the gradient) — with the cached frame
    # already clustered on __id, EnsureRequirements inserts NO exchange
    # for either, so the only shuffle left per iteration is the
    # map-side-combined ≤nbuckets gradient aggregation.  One upfront
    # shuffle of the instance table replaces 2 per iteration (6 at the
    # gate's 3 steps; same ratio on a cluster).  The partition count
    # comes from spark.sql.shuffle.partitions (cluster-sized via conf;
    # AQE may coalesce — partitioning stays keyed on __id either way).
    inst = df.select(
        F.col(id_col).alias("__id"),
        F.col(label_col).cast("double").alias("__y"),
        F.explode(ngram_features(F.col(text_col), n_max)).alias("__f"),
    ).select(
        "__id",
        "__y",
        feature_bucket(F.col("__f"), nb, salt).alias("bucket"),
    )
    inst = inst.repartition("__id").persist()
    try:
        ws = [0] * nb  # driver state: nbuckets scaled ints (bounded)
        lrd = float(lr)
        for _ in range(int(n_iters)):
            from dataclass_array_spark.operators.text import exp_exact

            # Weight lookup: the weight vector is nbuckets scaled ints.
            # For model sizes that fit a literal (≤ _WS_LITERAL_MAX) it
            # rides into the scan stage as an array literal indexed by
            # bucket — zero join, zero per-iteration broadcast job, and
            # bit-identical to the old broadcast-join lookup (every
            # bucket 0..nb-1 was present in the joined table, so the
            # left join never produced NULLs either).  Larger models
            # keep the broadcast hash join (a literal that size would
            # bloat the plan; the hint is safe — the weight table is
            # model-bounded by construction).
            if nb <= _WS_LITERAL_MAX:
                warr = F.lit(ws)
                wexpr = F.element_at(warr, F.col("bucket").cast("int") + 1)
                winst = inst
            else:
                wdf = spark.createDataFrame(
                    [(b, ws[b]) for b in range(nb)], "bucket long, __ws long"
                )
                wexpr = F.col("__ws")
                winst = inst.join(F.broadcast(wdf), "bucket", "left")

            # decimal-summed + symmetrically guarded: an unguarded
            # BIGINT sum would silently WRAP on Spark while the DuckDB
            # mirror's CAST(SUM(...) AS BIGINT) raises (round-14
            # review).  The dot is SIGNED, so checked_i64's one-sided
            # bound is not enough — both |dot| > 2^63-1 directions and
            # a NULLed decimal(38,0) overflow must fail loudly.
            lim = F.lit(str((1 << 63) - 1)).cast("decimal(38,0)")
            dsum = F.sum(wexpr.cast("decimal(38,0)"))
            dok = dsum.isNotNull() & (dsum <= lim) & (dsum >= -lim)
            per_doc = (
                winst.groupBy("__id")
                .agg(
                    F.first("__y").alias("__y"),
                    F.count("*").cast("long").alias("__n"),
                    F.when(dok, dsum.cast("long"))
                    .otherwise(
                        F.assert_true(
                            dok,
                            F.lit(
                                "classifier_fit: per-doc dot exceeds BIGINT"
                            ),
                        ).cast("long")
                    )
                    .alias("__dot"),
                )
            )

            margin = (
                F.col("__dot").cast("double") / F.lit(float(W_SCALE))
            ) / F.col("__n").cast("double")
            p = F.lit(1.0) / (F.lit(1.0) + exp_exact(-margin))
            res = (p - F.col("__y")) / F.col("__n").cast("double")
            rq = per_doc.select(
                "__id",
                F.floor(res * F.lit(float(R_SCALE))).cast("long").alias("__rq"),
            )
            grad = (
                inst.join(rq, "__id")
                .groupBy("bucket")
                .agg(
                    F.sum(F.col("__rq").cast("decimal(38,0)")).alias("__g")
                )
            )
            for row in grad.collect():  # ≤ nbuckets rows — bounded
                g = float(int(row["__g"]))
                ws[int(row["bucket"])] -= math.floor(lrd * g * 1e-06)
    finally:
        inst.unpersist()
    out = spark.createDataFrame(
        [(b, ws[b]) for b in range(nb)], "bucket long, ws long"
    )
    return out.select(
        "bucket",
        "ws",
        (F.col("ws").cast("double") / F.lit(float(W_SCALE))).alias("w"),
    )


def fit_weights_for_scoring(fitted: DataFrame) -> DataFrame:
    """``classifier_fit`` output → the exact-decimal ``(bucket, w)``
    table :func:`classifier_score` expects (ws/10^9 as decimal —
    EXACT, unlike the double ``w`` column)."""
    return fitted.select(
        "bucket",
        (
            # decimal(19,0) * decimal(10,9) -> decimal(30,9): inside
            # Spark's 38-precision cap, so the scale-9 product is EXACT
            # (a wider operand would trigger the silent scale reduction)
            F.col("ws").cast("decimal(19,0)")
            * F.lit("0.000000001").cast("decimal(10,9)")
        ).cast("decimal(20,9)").alias("w"),
    )


def sql_classifier_fit_ctes(
    fb_cte: str,
    lab_cte: str,
    nbuckets: int,
    lr: float,
    n_iters: int,
    out: str = "wfit",
) -> str:
    """Unrolled DuckDB mirror of :func:`classifier_fit` (the k-means /
    PageRank unroll discipline: one CTE block per iteration, op
    sequences textually parallel to the Spark side — edits must
    mirror).  Inputs: ``{fb_cte}(doc_id, bucket)`` feature instances,
    ``{lab_cte}(doc_id, y)`` labels (0.0/1.0 doubles).  Produces
    ``{out}(bucket, ws)`` after exactly ``n_iters`` steps."""
    from dataclass_array_spark.operators.text import sql_exp_exact_ctes

    nb = int(nbuckets)
    lr_lit = f"CAST('{float(lr)!r}' AS DOUBLE)"
    blocks = [
        f"{out}_w0 AS (SELECT gs.i AS bucket, CAST(0 AS BIGINT) AS ws\n"
        f"  FROM generate_series(0, {nb - 1}) gs(i))"
    ]
    for t in range(int(n_iters)):
        w, nxt = f"{out}_w{t}", f"{out}_w{t + 1}"
        pd_ = f"{out}_pd{t}"
        ex = f"{out}_ex{t}"
        rq = f"{out}_rq{t}"
        g = f"{out}_g{t}"
        blocks.append(
            f"""{pd_} AS (
  SELECT fb.doc_id, MIN(l.y) AS y, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COALESCE(SUM(w.ws), 0) AS BIGINT) AS dot
  FROM {fb_cte} fb
  JOIN {lab_cte} l USING (doc_id)
  LEFT JOIN {w} w USING (bucket)
  GROUP BY fb.doc_id
),
{pd_}_m AS (
  SELECT doc_id, y, n,
         (CAST(dot AS DOUBLE) / {float(W_SCALE)!r}) / CAST(n AS DOUBLE) AS m
  FROM {pd_}
),
{sql_exp_exact_ctes(f"{pd_}_m", "doc_id, y, n", "-m", ex)},
{rq} AS (
  SELECT doc_id,
         CAST(floor(((1.0 / (1.0 + ex) - y) / CAST(n AS DOUBLE))
                    * {float(R_SCALE)!r}) AS BIGINT) AS rq
  FROM {ex}
),
{g} AS (
  SELECT fb.bucket, CAST(SUM(r.rq) AS DECIMAL(38,0)) AS g
  FROM {fb_cte} fb JOIN {rq} r USING (doc_id)
  GROUP BY fb.bucket
),
{nxt} AS (
  SELECT w.bucket,
         w.ws - CAST(floor(({lr_lit} * CAST(COALESCE(g.g, 0) AS DOUBLE))
                           * CAST('1e-06' AS DOUBLE)) AS BIGINT) AS ws
  FROM {w} w LEFT JOIN {g} g USING (bucket)
)"""
        )
    blocks.append(
        f"{out} AS (SELECT bucket, ws FROM {out}_w{int(n_iters)})"
    )
    return ",\n".join(blocks)
