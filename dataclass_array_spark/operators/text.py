"""Text-analysis operators for large-scale training-data pipelines:
tokenization, token counting (whitespace + BPE-ish regex), quality
scoring, language-ID heuristic, document fingerprinting.

Everything is pure Catalyst column expressions (JVM codegen, no UDFs) —
at 100 TB these run embarrassingly parallel inside the scan stage with
zero shuffles.  All primitives are engine-portable (verified to produce
bit-identical results in DuckDB for the oracle).
"""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import Column
from pyspark.sql import functions as F

from dataclass_array_spark.core.table import pin_materialization

# Whole-token stopword markers per language for the lang-ID heuristic.
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "a", "in", "is"),
    "es": ("el", "la", "de", "que", "los", "las", "una"),
    "de": ("der", "die", "und", "das", "ein", "nicht"),
    "fr": ("le", "la", "et", "les", "des", "une", "est"),
}

STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation.
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

PUNCT_CLASS = "[.,!?;:]"

_POLY_MOD = 2147483647  # 2^31 - 1


def let(bound: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``bound`` ONCE and
    reference it many times in ``body``.

    Catalyst inlines sub-expressions at every reference site — a token
    array referenced inside a per-element lambda would otherwise re-run
    its regex split once per element (observed 30× slowdowns).  Wrapping
    the value as the single element of an array and binding it as a
    higher-order-function lambda variable forces one evaluation per row.
    """
    return F.element_at(F.transform(F.array(bound), body), 1)


def tokens(text: Column) -> Column:
    """Whitespace tokens of lowercased text, empties removed.  Matches
    DuckDB ``list_filter(string_split_regex(lower(trim(x)),'\\s+'), ...)``."""
    return F.filter(
        F.split(F.lower(F.trim(text)), r"\s+"), lambda t: t != F.lit("")
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish pre-tokens (regex over lowercased text)."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(BPE_PATTERN), 0)).cast("long")


def punct_count(text: Column) -> Column:
    return (F.length(text) - F.length(F.regexp_replace(text, PUNCT_CLASS, ""))).cast("long")


def marker_count(toks: Column, words) -> Column:
    """How many tokens are in the given word set (whole-token match)."""

    def is_in(t):
        cond = t == F.lit(words[0])
        for w in words[1:]:
            cond = cond | (t == F.lit(w))
        return cond
    return F.size(F.filter(toks, is_in)).cast("long")


def cjk_count(text: Column) -> Column:
    return (F.length(text) - F.length(F.regexp_replace(text, "[一-鿿]", ""))).cast("long")


def lang_id(text: Column) -> Column:
    """Marker-word argmax heuristic → 'zh'/'en'/'es'/'de'/'fr'/'und'.
    Deterministic precedence on ties: en > es > de > fr."""
    zh = cjk_count(text)

    def decide(toks: Column) -> Column:
        cnt = {k: marker_count(toks, v) for k, v in LANG_MARKERS.items()}
        en, es, de, fr = cnt["en"], cnt["es"], cnt["de"], cnt["fr"]
        return (
            F.when(zh > 0, F.lit("zh"))
            .when((en > 0) & (en >= es) & (en >= de) & (en >= fr), F.lit("en"))
            .when((es > 0) & (es >= de) & (es >= fr), F.lit("es"))
            .when((de > 0) & (de >= fr), F.lit("de"))
            .when(fr > 0, F.lit("fr"))
            .otherwise(F.lit("und"))
        )

    return let(tokens(text), decide)


def quality_score(text: Column) -> Column:
    """Length/punctuation/stopword-ratio quality heuristic in [0, 3].
    Integer counts + double division — bit-identical cross-engine."""
    n_chars = F.length(text).cast("long")

    def score(toks: Column) -> Column:
        n_tok = F.size(toks).cast("long")
        stop = marker_count(toks, STOPWORDS_EN)
        len_score = F.least(n_tok.cast("double") / 100.0, F.lit(1.0))
        stop_score = F.least(
            (stop.cast("double") / F.greatest(n_tok, F.lit(1)).cast("double")) * 5.0,
            F.lit(1.0),
        )
        punct_score = F.least(
            punct_count(text).cast("double")
            / F.greatest(n_chars, F.lit(1)).cast("double")
            * 20.0,
            F.lit(1.0),
        )
        return len_score + stop_score + punct_score

    return let(tokens(text), score).alias("quality")


def rolling_fingerprint(text: Column) -> Column:
    """Polynomial rolling hash (base 31 mod 2^31-1) over the characters of
    whitespace-normalized lowercased text — an order-sensitive document
    fingerprint (unlike md5, prefix-incremental)."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    codes = F.filter(
        F.transform(F.split(norm, ""), lambda ch: F.ascii(ch).cast("long")),
        lambda x: x > 0,
    )
    return F.aggregate(
        codes, F.lit(0).cast("long"), lambda acc, x: (acc * 31 + x) % _POLY_MOD
    )


def md5_fingerprint(text: Column) -> Column:
    """Content-hash fingerprint of normalized text (exact-dedup key)."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(norm)


# ---- SQL (DuckDB) mirrors, kept adjacent so they cannot drift ----

SQL_TOKENS = "list_filter(string_split_regex(lower(trim({t})), '\\s+'), t -> t != '')"


def sql_marker_count(toks_sql: str, words) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({toks_sql}, t -> t IN ({lst})))"


def sql_lang_id(t: str) -> str:
    toks = SQL_TOKENS.format(t=t)
    zh = f"(length({t}) - length(regexp_replace({t}, '[\\x{{4e00}}-\\x{{9fff}}]', '', 'g')))"
    c = {k: sql_marker_count(toks, v) for k, v in LANG_MARKERS.items()}
    return f"""CASE WHEN {zh} > 0 THEN 'zh'
      WHEN {c['en']} > 0 AND {c['en']} >= {c['es']} AND {c['en']} >= {c['de']} AND {c['en']} >= {c['fr']} THEN 'en'
      WHEN {c['es']} > 0 AND {c['es']} >= {c['de']} AND {c['es']} >= {c['fr']} THEN 'es'
      WHEN {c['de']} > 0 AND {c['de']} >= {c['fr']} THEN 'de'
      WHEN {c['fr']} > 0 THEN 'fr' ELSE 'und' END"""


def sql_quality(t: str) -> str:
    toks = SQL_TOKENS.format(t=t)
    n_tok = f"len({toks})"
    stop = sql_marker_count(toks, STOPWORDS_EN)
    punct = f"(length({t}) - length(regexp_replace({t}, '[.,!?;:]', '', 'g')))"
    return (
        f"LEAST(CAST({n_tok} AS DOUBLE)/100.0, 1.0)"
        f" + LEAST(CAST({stop} AS DOUBLE)/GREATEST({n_tok},1)*5.0, 1.0)"
        f" + LEAST(CAST({punct} AS DOUBLE)/GREATEST(length({t}),1)*20.0, 1.0)"
    )


def sql_rolling_fingerprint(t: str) -> str:
    norm = f"regexp_replace(lower(trim({t})), '\\s+', ' ', 'g')"
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_filter(list_transform(string_split({norm}, ''), ch -> CAST(ascii(ch) AS BIGINT)), x -> x > 0)), "
        f"(acc, x) -> (acc*31 + x) % {_POLY_MOD})"
    )


def sql_md5_fingerprint(t: str) -> str:
    return f"md5(regexp_replace(lower(trim({t})), '\\s+', ' ', 'g'))"


def chunk_tokens(text: Column, chunk_size: int, overlap: int) -> Column:
    """Split a document into overlapping token-window chunks — the
    standard pre-training chunking op.  Returns array<struct<chunk_id,
    chunk_text, n_tokens>>; stride = chunk_size - overlap.  Pure column
    expressions (explode at the call site), no UDF."""
    if not 0 <= overlap < chunk_size:
        raise ValueError("need 0 <= overlap < chunk_size")
    stride = chunk_size - overlap

    def build(toks: Column) -> Column:
        n = F.size(toks)
        # chunk starts: 1, 1+stride, ... while start <= n (1-based)
        n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
            F.floor((n - 1) / F.lit(stride)).cast("int") + 1
        )
        # guard the zero-token case: sequence(0, -1) is a DESCENDING
        # [0, -1] in Spark, which minted two garbage chunks for empty/
        # NULL documents (caught by the round-8 empty-doc contract)
        idx = F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            idx,
            lambda i: F.struct(
                i.alias("chunk_id"),
                F.concat_ws(" ", F.slice(toks, i * stride + 1, chunk_size)).alias(
                    "chunk_text"
                ),
                F.least(n - i * stride, F.lit(chunk_size)).cast("long").alias("n_tokens"),
            ),
        )

    return let(tokens(text), build)


def build_vocab(df, text_col: str, size: int = 500):
    """Frequency-ranked vocabulary of whitespace tokens:
    ``(t, tid)`` with ids 0..size-1 assigned by (count DESC, token ASC)
    — fully tie-broken, so the mapping is deterministic.  One explode +
    one aggregation, then a TakeOrderedAndProject top-``size`` (map-side
    bounded heaps, single reduce) with the ids assigned on the driver —
    a vocabulary is dimension-table-sized by definition.  (This
    replaced a global ``row_number`` window: at corpus scale the
    distinct-token frame is tens of millions of rows and an
    unpartitioned window sorts ALL of it on one task.)  Broadcast the
    result into :func:`tokenize_with_vocab`."""
    tok = df.select(F.explode(tokens(F.col(text_col))).alias("t"))
    vc = tok.groupBy("t").count()
    top = vc.orderBy(F.desc("count"), F.asc("t")).limit(int(size)).collect()
    spark = df.sparkSession
    return spark.createDataFrame(
        [(r["t"], i) for i, r in enumerate(top)], "t string, tid long"
    )


def tokenize_with_vocab(df, text_col: str, id_col: str, vocab_df, unk_id: int = -1):
    """Map each document's token sequence to vocabulary ids (the
    tokenize step feeding sequence packing).

    Plan: posexplode tokens in-scan, broadcast-join the vocab (BPE-scale
    vocabs are ~100k rows — always broadcastable), re-assemble the
    ordered id sequence with one per-doc aggregation (sort by position
    inside the collected array — tokens of one doc are co-partitioned
    after the explode, so the shuffle carries one row per doc).

    Output: ``(id, ids_json, n_tokens, n_unk)`` — the id array is
    serialized to JSON (driver-comparator-safe, matches DuckDB
    ``to_json(list(...))``)."""
    tok = df.select(
        F.col(id_col),
        F.posexplode_outer(tokens(F.col(text_col))).alias("pos", "t"),
    )
    j = tok.join(F.broadcast(vocab_df), "t", "left")
    entry = F.when(
        F.col("pos").isNotNull(),
        F.struct(F.col("pos"), F.coalesce(F.col("tid"), F.lit(unk_id)).alias("tid")),
    )
    unk = F.when(F.col("pos").isNotNull() & F.col("tid").isNull(), 1).otherwise(0)
    return j.groupBy(id_col).agg(
        F.to_json(
            F.transform(F.array_sort(F.collect_list(entry)), lambda s: s.tid)
        ).alias("ids_json"),
        F.count("pos").alias("n_tokens"),
        F.sum(unk).cast("long").alias("n_unk"),
    )


def token_rarity_scores(df, text_col: str, id_col: str):
    """Frequency-based rarity score per document: the mean log2-bucket
    of each token's corpus frequency (lower = rarer vocabulary = often
    boilerplate-free prose; extremely low = gibberish).  The log2 bucket
    is ``length(bin(freq)) - 1`` — an exact integer (no libm ``log``,
    whose last-ulp behavior differs across engines), so the score is a
    ratio of exact integers and reproduces bit-for-bit in the oracle.

    Plan: corpus frequencies via one token aggregation, per-doc mean via
    posexplode + join + per-doc re-aggregation (shuffle = one row per
    doc).  The frequency table is sized by the corpus's DISTINCT-token
    count, which grows with corpus size (Heaps' law) — so no broadcast
    hint: AQE broadcasts it when it actually fits and falls back to a
    shuffle join when it doesn't (a forced hint would hit the 8 GB
    broadcast limit / driver OOM at 100 TB).  Values are
    hint-independent."""
    tok = df.select(F.col(id_col), F.explode_outer(tokens(F.col(text_col))).alias("t"))
    freq = tok.filter(F.col("t").isNotNull()).groupBy("t").count()
    freq = freq.select("t", (F.length(F.bin(F.col("count"))) - 1).cast("long").alias("lb"))
    j = tok.join(freq, "t", "left")
    return j.groupBy(id_col).agg(
        F.count("t").alias("n_tokens"),
        F.coalesce(F.sum("lb"), F.lit(0)).cast("long").alias("lb_sum"),
        F.when(
            F.count("t") > 0, F.sum("lb") / F.count("t")
        ).otherwise(F.lit(0.0)).alias("rarity_score"),
    )


# ------------------------------------------------- portable-exact ln
# The perplexity-style LM score needs natural log, but libm ln differs
# across engines in the last ulp.  ln of a positive integer is instead
# computed with ONLY IEEE +,-,*,/ in a fixed evaluation order — both
# engines round each op identically, so the doubles match bit-for-bit:
#   n = m * 2^e,  m = n / 2^e in [1, 2)   (e = floor(log2 n), exact)
#   ln n = e*ln2 + 2*artanh(z),  z = (m-1)/(m+1) in [0, 1/3)
#   artanh(z) = sum_{k<K} z^(2k+1)/(2k+1)   (tail < 3^-41: below ulp)
LN2_DOUBLE = 0.6931471805599453  # shortest repr; parses to the same bits
_LN_SERIES_K = 20


def _artanh_series(z: Column) -> Column:
    """The fixed-order artanh series shared by :func:`ln_exact` and
    :func:`ln_exact_dec` — one evaluation order, mirrored textually by
    :func:`sql_ln_series`."""
    z2 = z * z
    term = z
    acc = z
    for k in range(1, _LN_SERIES_K):
        term = term * z2
        acc = acc + term / F.lit(float(2 * k + 1))
    return acc


def ln_exact(n: Column) -> Column:
    """ln of a positive integer column as DOUBLE via the fixed-order
    series above; bit-identical to :func:`sql_ln_exact_ctes` in DuckDB
    (the operation sequences are kept textually parallel — any edit here
    must mirror there)."""
    e = F.length(F.bin(n)) - 1
    m = n.cast("double") / F.call_function(
        "shiftleft", F.lit(1).cast("long"), e
    ).cast("double")

    return let(
        (m - F.lit(1.0)) / (m + F.lit(1.0)),
        lambda z: e.cast("double") * F.lit(LN2_DOUBLE)
        + F.lit(2.0) * _artanh_series(z),
    )


def sql_ln_series(z: str = "z", z2: str = "z2") -> str:
    """The artanh series in terms of bound identifiers ``z``/``z2`` —
    SQL's left-associative + and * reproduce ln_exact's fold order.
    The identifiers are parameters so CTE builders can bind
    collision-proof ``__``-prefixed names while in-expression callers
    (``sketch.py``) keep their own."""
    parts = [z]
    for k in range(1, _LN_SERIES_K):
        parts.append(z + f"*{z2}" * k + f"/{2 * k + 1}.0")
    return " + ".join(parts)


def sql_ln_exact_ctes(src: str, key: str, n: str, out: str) -> str:
    """CTE chain computing ``{out}(… , ln double)`` = ln({n}) for every
    row of ``{src}({key}, {n})`` — the DuckDB mirror of :func:`ln_exact`
    (the series variables are CTE-bound so the series stays
    linear-sized; internal aliases are ``__``-prefixed so a caller's
    key column can never shadow them)."""
    return f"""{out}_e AS (
  SELECT {key}, {n} AS __n, length(bin({n})) - 1 AS __e FROM {src}
),
{out}_m AS (
  SELECT *, CAST(__n AS DOUBLE) / CAST((CAST(1 AS BIGINT) << __e) AS DOUBLE) AS __m
  FROM {out}_e
),
{out}_z AS (SELECT *, (__m - 1.0) / (__m + 1.0) AS __z FROM {out}_m),
{out}_z2 AS (SELECT *, __z*__z AS __z2 FROM {out}_z),
{out} AS (
  SELECT {key}, CAST(__e AS DOUBLE) * {LN2_DOUBLE!r} + 2.0 * ({sql_ln_series("__z", "__z2")}) AS ln
  FROM {out}_z2
)"""


# ---- decimal(38,0)-wide exact ln -----------------------------------
# ln_exact's m = n/2^e trick needs n as ONE machine integer, capping it
# at BIGINT (the Kneser-Ney ~10^9-bigram-type ceiling).  ln_exact_dec
# lifts the domain to integer-valued decimal(38,0) — wide enough for
# the trigram-KN numerator at full 100 TB scale — by splitting n into
# three EXACT machine integers first:
#     n = a·2^124 + b·2^62 + c,   a < 2^3, b < 2^62, c < 2^62
# (every split op below is value-exact in both engines: decimal
# %/−// with integer results), then rebuilding m in a FIXED double
# sequence — each engine performs the identical op list, so the
# doubles match bit-for-bit even though b, c exceed 2^53:
#     a > 0:  e = 124 + e_a,  m = (a + b/2^62 + c/2^124) / 2^e_a
#     b > 0:  e =  62 + e_b,  m = (b + c/2^62) / 2^e_b
#     else:   e = e_c,        m = c / 2^e_c           (== ln_exact)
# with e_x = floor(log2 x) via length(bin(x)) − 1 and the 2^62 / 2^124
# divisors as double literals (exact powers of two).  m lands within a
# few ulp of [1, 2) — the artanh series converges identically there.
_POW2_62 = 1 << 62
_POW2_124 = 1 << 124
_D62_LIT = float(_POW2_62)  # shortest repr round-trips in both engines
_D124_LIT = float(_POW2_124)


def ln_exact_dec(n: Column) -> Column:
    """ln of a positive INTEGER-VALUED ``decimal(38,0)`` column as
    DOUBLE — :func:`ln_exact` lifted past BIGINT via the exact
    a/b/c split above; bit-identical to :func:`sql_ln_exact_dec_ctes`
    in DuckDB (op sequences textually parallel — edits must mirror).
    For n < 2^62 the op sequence degenerates to ln_exact's exactly."""

    def p2d(e: Column) -> Column:  # 2^e as double, e <= 62 (exact)
        return F.call_function(
            "shiftleft", F.lit(1).cast("long"), e
        ).cast("double")

    def fin(abc: Column) -> Column:
        a, b, c = abc[0], abc[1], abc[2]
        ad, bd, cd = a.cast("double"), b.cast("double"), c.cast("double")
        ea = F.length(F.bin(a)) - 1
        eb = F.length(F.bin(b)) - 1
        ec = F.length(F.bin(c)) - 1
        m = (
            F.when(
                a > 0,
                (ad + bd / F.lit(_D62_LIT) + cd / F.lit(_D124_LIT)) / p2d(ea),
            )
            .when(b > 0, (bd + cd / F.lit(_D62_LIT)) / p2d(eb))
            .otherwise(cd / p2d(ec))
        )
        e = F.when(a > 0, ea + 124).when(b > 0, eb + 62).otherwise(ec)
        return let(
            m,
            lambda mm: let(
                (mm - F.lit(1.0)) / (mm + F.lit(1.0)),
                lambda z: e.cast("double") * F.lit(LN2_DOUBLE)
                + F.lit(2.0) * _artanh_series(z),
            ),
        )

    h62 = F.lit(str(_POW2_62)).cast("decimal(38,0)")
    h124 = F.lit(str(_POW2_124)).cast("decimal(38,0)")

    def split(nn: Column) -> Column:
        c = nn % h62
        r = nn % h124
        # both divisions are exact: the dividends are multiples of the
        # divisors and the quotients fit the result scale
        b = (r - c) / h62
        a = (nn - r) / h124
        return F.array(a.cast("long"), b.cast("long"), c.cast("long"))

    return let(n, lambda nn: let(split(nn), fin))


def sql_ln_exact_dec_ctes(src: str, key: str, n: str, out: str) -> str:
    """CTE chain computing ``{out}({key}, ln double)`` = ln({n}) for
    every row of ``{src}`` where ``{n}`` is HUGEINT/decimal-valued —
    the DuckDB mirror of :func:`ln_exact_dec` (HUGEINT ``//``/``%``
    produce the same exact a/b/c split; the double rebuild is the
    identical op list)."""
    h62 = str(_POW2_62)
    h124 = str(_POW2_124)
    return f"""{out}_p AS (
  SELECT {key},
         CAST(CAST({n} AS HUGEINT) // CAST('{h124}' AS HUGEINT) AS BIGINT) AS __a,
         CAST((CAST({n} AS HUGEINT) % CAST('{h124}' AS HUGEINT))
              // CAST('{h62}' AS HUGEINT) AS BIGINT) AS __b,
         CAST(CAST({n} AS HUGEINT) % CAST('{h62}' AS HUGEINT) AS BIGINT) AS __c
  FROM {src}
),
{out}_em AS (
  SELECT {key},
    CASE WHEN __a > 0 THEN 124 + length(bin(__a)) - 1
         WHEN __b > 0 THEN 62 + length(bin(__b)) - 1
         ELSE length(bin(__c)) - 1 END AS __e,
    CASE WHEN __a > 0 THEN
           (CAST(__a AS DOUBLE) + CAST(__b AS DOUBLE)/{_D62_LIT!r}
            + CAST(__c AS DOUBLE)/{_D124_LIT!r})
           / CAST((CAST(1 AS BIGINT) << (length(bin(__a)) - 1)) AS DOUBLE)
         WHEN __b > 0 THEN
           (CAST(__b AS DOUBLE) + CAST(__c AS DOUBLE)/{_D62_LIT!r})
           / CAST((CAST(1 AS BIGINT) << (length(bin(__b)) - 1)) AS DOUBLE)
         ELSE CAST(__c AS DOUBLE)
           / CAST((CAST(1 AS BIGINT) << (length(bin(__c)) - 1)) AS DOUBLE)
    END AS __m
  FROM {out}_p
),
{out}_z AS (SELECT *, (__m - 1.0) / (__m + 1.0) AS __z FROM {out}_em),
{out}_z2 AS (SELECT *, __z*__z AS __z2 FROM {out}_z),
{out} AS (
  SELECT {key}, CAST(__e AS DOUBLE) * {LN2_DOUBLE!r} + 2.0 * ({sql_ln_series("__z", "__z2")}) AS ln
  FROM {out}_z2
)"""


# ---- deterministic exp --------------------------------------------
# The mirror image of ln_exact: libm exp is not bit-portable, which is
# why every LM gate so far emitted nats and left exp to the caller.
# exp_exact computes exp(x) with ONLY IEEE +,-,*,/ in a fixed order —
# both engines round identically, so perplexities / odds become
# hash-exact outputs instead of a caveat:
#     k = floor(x/ln2 + 1/2)           (nearest-integer power of two)
#     r = x − k·ln2,  |r| ≤ ln2/2 + eps
#     exp(x) = 2^k · Σ_{i≤N} r^i/i!    (tail < |r|^18/18! ≈ 1e-24)
# 2^k is exact as the product of TWO shiftlefts (k = k//2 + (k−k//2),
# both halves ≤ 62; a product of exact powers of two is itself exact —
# no rounding), so the domain is |k| ≤ 124, i.e. |x| ≤ 85.9 — covering
# every cross-entropy / log-odds / n^alpha this package produces;
# out-of-domain fails LOUDLY.
_EXP_SERIES_N = 17
_EXP_MAX_K = 124


def exp_exact(x: Column) -> Column:
    """exp of a DOUBLE column via the fixed-order reduction above;
    bit-identical to :func:`sql_exp_exact_ctes` in DuckDB (op
    sequences textually parallel — edits must mirror).  Domain
    |x| ≤ 124·ln2 ≈ 85.9 (loud ``assert_true`` outside)."""

    def p2d(e: Column) -> Column:
        return F.call_function(
            "shiftleft", F.lit(1).cast("long"), e
        ).cast("double")

    def p2d_wide(e: Column) -> Column:  # 2^e for e in [0, 124], exact
        h = F.floor(e / F.lit(2)).cast("int")
        return p2d(h) * p2d(e - h)

    def fin(kk: Column) -> Column:
        ok = F.abs(kk) <= F.lit(_EXP_MAX_K)
        guarded = F.when(ok, kk).otherwise(
            F.assert_true(
                ok, F.lit("exp_exact: |x| exceeds 124*ln2")
            ).cast("long")
        )
        scale = F.when(kk >= 0, p2d_wide(kk)).otherwise(
            F.lit(1.0) / p2d_wide(-kk)
        )

        def series(r: Column) -> Column:
            term = r
            acc = F.lit(1.0) + r
            for i in range(2, _EXP_SERIES_N + 1):
                term = term * r / F.lit(float(i))
                acc = acc + term
            return acc

        return let(
            x - guarded.cast("double") * F.lit(LN2_DOUBLE),
            lambda r: series(r) * scale,
        )

    return let(F.floor(x / F.lit(LN2_DOUBLE) + F.lit(0.5)), fin)


def sql_exp_series(r: str = "__r") -> str:
    """The Taylor series in terms of a bound identifier — SQL's
    left-associative + / * / div reproduce exp_exact's fold order."""
    parts = ["1.0", r]
    term = r
    for i in range(2, _EXP_SERIES_N + 1):
        term = term + f"*{r}/{i}.0"
        parts.append(term)
    return " + ".join(parts)


def sql_exp_exact_ctes(src: str, key: str, x: str, out: str) -> str:
    """CTE chain computing ``{out}({key}, ex double)`` = exp({x}) for
    every row of ``{src}`` — the DuckDB mirror of :func:`exp_exact`
    (same k/r reduction, same series, same loud domain error;
    internal aliases ``__``-prefixed so a caller's key column can
    never shadow them — an unprefixed ``k`` key would otherwise
    silently corrupt values AND bypass the domain guard).  ``{x}`` is
    parenthesized at every interpolation site, so a compound caller
    expression like ``a - b`` keeps its precedence (unparenthesized,
    ``a - b / ln2`` would silently bind the division first)."""
    return f"""{out}_k AS (
  SELECT {key}, ({x}) AS __x,
         CAST(floor(({x}) / {LN2_DOUBLE!r} + 0.5) AS BIGINT) AS __k
  FROM {src}
),
{out}_g AS (
  SELECT *, CASE WHEN abs(__k) <= {_EXP_MAX_K} THEN __k
                 ELSE error('exp_exact: |x| exceeds 124*ln2') END AS __kg
  FROM {out}_k
),
{out}_r AS (
  SELECT {key}, __x - CAST(__kg AS DOUBLE) * {LN2_DOUBLE!r} AS __r,
         CASE WHEN __kg >= 0
              THEN CAST((CAST(1 AS BIGINT) << (__kg // 2)) AS DOUBLE)
                   * CAST((CAST(1 AS BIGINT) << (__kg - __kg // 2)) AS DOUBLE)
              ELSE 1.0 / (CAST((CAST(1 AS BIGINT) << ((-__kg) // 2)) AS DOUBLE)
                   * CAST((CAST(1 AS BIGINT) << ((-__kg) - (-__kg) // 2)) AS DOUBLE))
         END AS __scale
  FROM {out}_g
),
{out} AS (
  SELECT {key}, ({sql_exp_series()}) * __scale AS ex FROM {out}_r
)"""


_I64_MAX = (1 << 63) - 1


def checked_i64(n: Column, what: str) -> Column:
    """A ``decimal(38,0)``-computed non-negative integer expression →
    BIGINT, failing LOUDLY (``assert_true``) instead of wrapping when
    the value exceeds ``2^63 - 1``.  Used by the PMI exact-integer
    products (``c·N``, ``c1·c2``), which fit BIGINT through ~10^9
    tokens — past that, silent wraparound would corrupt scores.
    Computing the products in decimal(38,0) and gating the cast makes
    the documented bound ENFORCED behavior: DuckDB raises natively on
    BIGINT overflow, so the two engines fail the same way.  (The
    Kneser-Ney family outgrew this guard in round 13: it now computes
    entirely in decimal(38,0) via :func:`checked_dec38` +
    :func:`ln_exact_dec`, with no BIGINT cast at all.)

    A decimal(38,0) product that itself overflows (≥10^38, i.e. far
    past BIGINT) evaluates to NULL under Spark's non-ANSI decimal
    rules; NULL fails the ``<=`` test, routing to the same loud raise.
    Per-row cost is two decimal ops — noise next to the 20-term ln
    series that consumes the result."""
    lim = F.lit(str(_I64_MAX)).cast("decimal(38,0)")
    ok = n <= lim
    return F.when(ok, n.cast("long")).otherwise(
        F.assert_true(
            ok, F.lit(f"{what} exceeds BIGINT (2^63-1)")
        ).cast("long")
    )


def _dec38(c) -> Column:
    """A Column, or the column of that name, as ``decimal(38,0)``."""
    return (F.col(c) if isinstance(c, str) else c).cast("decimal(38,0)")


def checked_dec38(n: Column, what: str) -> Column:
    """A ``decimal(38,0)`` integer product, guarded: Spark's non-ANSI
    decimal overflow yields NULL, which this converts to a LOUD
    ``assert_true`` failure instead of propagating silently (the
    :func:`checked_i64` discipline one level up — DuckDB's HUGEINT
    raises natively on overflow, so both engines fail loudly).
    Callers must guarantee the logical value is non-NULL — every
    input of the trigram-KN products joins on its own grouping keys."""
    ok = n.isNotNull()
    return F.when(ok, n).otherwise(
        F.assert_true(
            ok, F.lit(f"{what} exceeds decimal(38,0)")
        ).cast("decimal(38,0)")
    )


def _ln_dec(n: Column, what: str) -> Column:
    """:func:`ln_exact_dec` of a :func:`checked_dec38` product."""
    return ln_exact_dec(checked_dec38(n, what))


def _positive(c: Column, what: str) -> Column:
    """``c``, failing LOUDLY unless it is > 0 — the held-out scorers'
    guard on the 1-row V / T of an EMPTY training corpus, which would
    otherwise feed ln(0) garbage into every unseen-event row."""
    return F.when(c > 0, c).otherwise(
        F.assert_true(c > 0, F.lit(what)).cast("long")
    )


# ---- the n-gram LM pipeline ----------------------------------------
# Every LM scorer below is the same three steps: n-gram instances of
# the scored corpus (_ngram_instances), the LM's statistics derived
# from ONE n-gram count table (_ngram_counts → _bigram_lm /
# _trigram_lm), and the per-doc position-ordered fold of the
# per-instance nll (_per_doc_xent).  Counts are additive, so a count
# table is a complete LM — which is what lets ngram_counts_stream feed
# kn3_score_from_counts.


def _ngram_keys(n: int) -> "list[str]":
    return [f"w{k}" for k in range(1, n + 1)]


def _ngram_instances(df, text_col: str, id_col, n: int):
    """``(id, __nid, pos, w1..wn)`` n-gram instances of each doc, with a
    single (pos NULL) row for docs that have < n tokens, so the per-doc
    fold still sees every doc.  ``__nid`` gives each NULL-id row its
    own tag, taken once before the explode, so NULL-id docs keep one
    output row each instead of merging into one group.  The token
    array is let-bound so the regex split runs once per row, not once
    per element of the per-element lambdas.  ``id_col=None`` (the count
    builder) emits the n-gram columns alone."""
    ws = _ngram_keys(n)
    empty = "array<struct<%s>>" % ",".join(f"{w}:string" for w in ws)

    def build(toks: Column) -> Column:
        mk = F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.struct(
                *[
                    F.element_at(toks, i + k if k else i).alias(w)
                    for k, w in enumerate(ws)
                ]
            ),
        )
        # sequence(1, size-n+1) DESCENDS for size < n: guard like quality._grams
        return F.when(F.size(toks) >= n, mk).otherwise(F.array().cast(empty))

    keys = []
    if id_col is not None:
        keys = [id_col, "__nid"]
        df = df.withColumn(
            "__nid",
            F.when(F.col(id_col).isNull(), F.monotonically_increasing_id()),
        )
    grams = F.posexplode_outer(let(tokens(F.col(text_col)), build))
    return df.select(*keys, grams.alias("pos", "g")).select(
        *keys, "pos", *[F.col(f"g.{w}").alias(w) for w in ws]
    )


def _ngram_counts(df, text_col: str, n: int):
    """The n-gram count table ``(w1..wn, c)`` of ``df``'s corpus — the
    one count builder of the trainers, :func:`pmi_collocations` and
    ``streaming.ngram_counts_stream``.  Trainers pin it with
    ``pin_materialization``: every derived table reads the SAME
    materialized counts instead of re-tokenizing the corpus per branch."""
    return (
        _ngram_instances(df, text_col, None, n)
        .filter(F.col("pos").isNotNull())
        .groupBy(*_ngram_keys(n))
        .agg(F.count("*").cast("long").alias("c"))
    )


def _per_doc_xent(scored, id_col: str, nll: Column, unit: str):
    """The one per-doc fold of the LM scorers → ``(id, <unit>,
    xent_nats)``: the mean per-instance ``nll`` of each doc, summed in
    POSITION order (the order-dependent IEEE sum recipe — the oracle
    folds in the same sequence, so the doubles hash-match), 0.0 for a
    doc without n-grams.  ``scored`` is an :func:`_ngram_instances`
    frame with its LM terms attached; grouping on ``__nid`` keeps
    NULL-id docs apart."""
    entry = F.when(
        F.col("pos").isNotNull(), F.struct(F.col("pos"), nll.alias("nll"))
    )
    n = F.col(unit)
    per_doc = scored.groupBy(id_col, "__nid").agg(
        F.count("pos").cast("long").alias(unit),
        F.aggregate(
            F.transform(F.array_sort(F.collect_list(entry)), lambda s: s.nll),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("__s"),
    )
    return per_doc.select(
        F.col(id_col),
        n,
        F.when(n > 0, F.col("__s") / n.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("xent_nats"),
    )


def unigram_xent_scores(df, text_col: str, id_col: str):
    """Perplexity-style LM quality score: per-document cross-entropy in
    nats/token under the corpus's own unigram LM —
    ``xent = -(1/n) Σ_i ln p(t_i)``, ``p(t) = count(t)/total_tokens``.
    Perplexity is ``exp(xent)`` (monotone; for a HASH-EXACT perplexity
    value compose with :func:`exp_exact` — libm exp is not
    bit-portable, the fixed-order reduction is).  Low = repetitive/boilerplate
    (high-frequency tokens), high = rare-vocabulary gibberish — the
    log-frequency refinement of :func:`token_rarity_scores`' integer
    buckets, now with a real natural log (ROADMAP #13).

    Plan shape (100 TB): one token aggregation produces the vocab-sized
    frequency table; the 20-term ln series runs once per DISTINCT token
    (not per token instance) and joins back unhinted (corpus-derived
    vocab grows with corpus size — AQE broadcasts only when it actually
    fits; values are hint-independent); the per-doc sum
    folds doubles in token-position order so both engines add in the
    same sequence (order-dependent IEEE sums).  One explode shuffle +
    one per-doc aggregation — same plan family as tf-idf."""
    freq = _ngram_counts(df, text_col, 1)
    lnc = freq.select("w1", ln_exact(F.col("c")).alias("lnc"))
    tot = freq.agg(F.sum("c").cast("long").alias("n_total")).select(
        ln_exact(F.col("n_total")).alias("ln_total")
    )
    scored = (
        _ngram_instances(df, text_col, id_col, 1)
        .join(lnc, ["w1"], "left")
        .crossJoin(F.broadcast(tot))
    )
    return _per_doc_xent(
        scored, id_col, F.col("ln_total") - F.col("lnc"), "n_tokens"
    )


def _bigram_lm(df, text_col: str):
    """The order-2 counts of ``df``'s corpus that both bigram LMs start
    from: the pinned count table ``cb(w1, w2, c)`` and the prefix table
    ``cu(w1, cu, n1w1)`` = c(w1·), N1+(w1·).

    Every table derived from them is corpus-derived and unbounded
    (Heaps' law), so none carries a broadcast hint; AQE broadcasts
    whichever actually fits at runtime (a forced hint = 8 GB limit /
    driver OOM at 100 TB).  Only the bounded-by-construction 1-row
    V / T keep hints.  Values are hint-independent."""
    cb = pin_materialization(_ngram_counts(df, text_col, 2))
    cu = cb.groupBy("w1").agg(
        F.sum("c").cast("long").alias("cu"),
        F.count("*").cast("long").alias("n1w1"),
    )
    return cb, cu


def _add1_lm(df, text_col: str):
    """The add-one bigram LM of ``df``'s corpus as ln tables, shared by
    :func:`bigram_xent_scores` and its held-out form: ``(num(w1, w2,
    ln_num), den(w1, ln_den), vocab)``, ``vocab`` the 1-row unigram
    vocab size V.  Each LM family builds only its own tables: the ln
    series make each one cost tenths of a second of driver analysis."""
    cb, cu = _bigram_lm(df, text_col)
    vocab = df.select(F.explode(tokens(F.col(text_col))).alias("t")).agg(
        F.countDistinct("t").cast("long").alias("V")
    )
    num = cb.select("w1", "w2", ln_exact(F.col("c") + F.lit(1)).alias("ln_num"))
    den = cu.crossJoin(F.broadcast(vocab)).select(
        "w1", ln_exact(F.col("cu") + F.col("V")).alias("ln_den")
    )
    return num, den, vocab


def _kn_lm(df, text_col: str):
    """The Kneser-Ney bigram LM of ``df``'s corpus, shared by
    :func:`kneser_ney_xent_scores` and its held-out form: ``(num(w1,
    w2, ln_num), den(w1, n1w1, ln_den), ncw2(w2, ncw2), tt)`` with
    ``ncw2`` = N1+(·w2) and ``tt`` the 1-row bigram-type count T;
    ``den`` carries N1+(w1·) for the held-out backoff."""
    cb, cu = _bigram_lm(df, text_col)
    ncw2 = cb.groupBy("w2").agg(F.count("*").cast("long").alias("ncw2"))
    tt = cb.agg(F.count("*").cast("long").alias("T"))
    num = (
        cb.join(ncw2, ["w2"])
        .join(cu.select("w1", "n1w1"), ["w1"])
        .crossJoin(F.broadcast(tt))
        .select(
            "w1",
            "w2",
            _ln_dec(
                (_dec38("c") * 4 - 3) * _dec38("T")
                + _dec38("n1w1") * _dec38("ncw2") * 3,
                "kneser_ney numerator (4c-3)T + 3*N1+*N1+",
            ).alias("ln_num"),
        )
    )
    den = cu.crossJoin(F.broadcast(tt)).select(
        "w1",
        "n1w1",
        _ln_dec(
            _dec38("cu") * 4 * _dec38("T"), "kneser_ney denominator 4*c(w1.)*T"
        ).alias("ln_den"),
    )
    return num, den, ncw2, tt


def bigram_xent_scores(df, text_col: str, id_col: str):
    """Per-document CONDITIONAL cross-entropy (nats/bigram) under the
    corpus's own add-one-smoothed bigram LM — the next-token-prediction
    refinement of :func:`unigram_xent_scores` (CCNet-style pipelines
    filter on exactly this style of LM score):

        p(w2 | w1)  = (c(w1, w2) + 1) / (c(w1·) + V)
        xent        = (1/m) Σ_i [ln(c(w1_i·) + V) − ln(c(w1_i, w2_i) + 1)]

    over the doc's m bigrams in position order, with ``c(w1·)`` the
    corpus count of w1 as a bigram prefix and V the full unigram vocab
    size.  Low = predictable boilerplate, high = incoherent token
    soup.  Both ln arguments are positive INTEGERS, so the score uses
    :func:`ln_exact` end-to-end and reproduces bit-for-bit in the
    DuckDB oracle (per-position ``ln_den − ln_num`` computed before a
    position-ordered fold — the order-dependent IEEE sum recipe).

    Plan shape (100 TB): one bigram aggregation produces the LM
    (bigram-type-sized, not corpus-sized); the 20-term ln series runs
    once per DISTINCT bigram / prefix and joins back unhinted (AQE
    broadcasts when the LM actually fits); per-doc
    sums are one explode shuffle + one per-doc aggregation — the same
    plan family as tf-idf and the unigram LM.  Scoring the training
    corpus itself means no OOV rows (every doc bigram is in the LM by
    construction); :func:`bigram_xent_scores_heldout` scores a
    different corpus."""
    num, den, _ = _add1_lm(df, text_col)
    scored = (
        _ngram_instances(df, text_col, id_col, 2)
        .join(num, ["w1", "w2"], "left")
        .join(den, ["w1"], "left")
    )
    return _per_doc_xent(
        scored, id_col, F.col("ln_den") - F.col("ln_num"), "n_bigrams"
    )


def bigram_xent_scores_heldout(train_df, score_df, text_col: str, id_col: str):
    """:func:`bigram_xent_scores` scoring a (possibly different) corpus
    against an LM trained on ``train_df`` — the HELD-OUT form, which is
    what a production quality filter actually runs (train the LM on a
    trusted reference corpus, score the crawl).  Unseen events take the
    add-one smoothing's natural values:

        unseen bigram, seen prefix:  ln_num = ln(0 + 1) = 0
        unseen prefix:               ln_den = ln(0 + V) = ln V

    (an unseen prefix implies an unseen bigram, so that branch scores
    exactly ``ln V`` nats — the uniform-over-vocab surprise).  V is the
    TRAIN corpus's unigram vocabulary; ``train_df`` must be non-empty.
    All lns stay :func:`ln_exact` over positive integers, so the gate
    hash-matches the DuckDB oracle bit-for-bit.  Self-scoring
    (``train_df is score_df``) reproduces :func:`bigram_xent_scores`
    value-identically (the OOV branches never fire)."""
    num, den, vocab = _add1_lm(train_df, text_col)
    ln_v = vocab.select(
        ln_exact(
            _positive(F.col("V"), "bigram LM: empty training corpus (V = 0)")
        ).alias("ln_v")
    )
    scored = (
        _ngram_instances(score_df, text_col, id_col, 2)
        .join(num, ["w1", "w2"], "left")
        .join(den, ["w1"], "left")
        .crossJoin(F.broadcast(ln_v))
    )
    nll = F.coalesce(F.col("ln_den"), F.col("ln_v")) - F.coalesce(
        F.col("ln_num"), F.lit(0.0)
    )
    return _per_doc_xent(scored, id_col, nll, "n_bigrams")


def token_entropy_scores(df, text_col: str, id_col: str):
    """Per-document Shannon entropy of the doc's OWN token distribution
    (nats): ``H = ln n − (1/n) Σ_t c_t·ln c_t`` over the doc's distinct
    tokens — the information-theoretic repetition/gibberish filter
    (H ≈ 0: one token repeated; H ≈ ln n: no token repeats — bounded
    above by ln(vocab of the doc)).  Complements the Gopher-rule
    fractions in ``operators.quality``: those threshold specific
    patterns, entropy summarizes the whole distribution.

    Exactness: both lns are over positive INTEGERS (:func:`ln_exact`),
    the per-token terms ``c·ln c`` fold in TOKEN order, and the final
    ``ln n − s/n`` uses the same op sequence in the oracle — doubles
    hash-match bit-for-bit.

    Plan: explode → (doc, token) count → per-doc re-aggregation: the
    unigram-LM plan family (two shuffles, both map-side combined); the
    20-term ln series runs once per (doc, DISTINCT token).  The
    ``explode_outer`` NULL-token row of a tokenless doc rides THROUGH
    both aggregations (round 16) — it contributes nothing to either
    aggregate (conditional sum; ``collect_list`` skips NULL entries)
    but keeps the doc present, so the old corpus-sized re-join of the
    id column (one extra scan + exchange) is gone; non-NULL ``id_col``
    values must be unique per row (every caller's doc key).  Each
    NULL-id row gets its own grouping tag, taken once before the
    explode and carried through both aggregations, so NULL-id docs
    keep one output row each instead of merging into one group."""
    tok = df.select(
        F.col(id_col),
        F.when(F.col(id_col).isNull(), F.monotonically_increasing_id()).alias(
            "__nid"
        ),
        F.col(text_col),
    ).select(
        id_col, "__nid", F.explode_outer(tokens(F.col(text_col))).alias("t")
    )
    cnt = tok.groupBy(id_col, "__nid", "t").agg(
        F.count("*").cast("long").alias("c")
    )
    term = cnt.select(
        id_col,
        "__nid",
        "t",
        F.when(F.col("t").isNotNull(), F.col("c")).alias("c"),
        F.when(
            F.col("t").isNotNull(),
            F.col("c").cast("double") * ln_exact(F.col("c")),
        ).alias("cl"),
    )
    entry = F.when(
        F.col("t").isNotNull(),
        F.struct(F.col("t"), F.col("cl").alias("cl")),
    )
    per_doc = term.groupBy(id_col, "__nid").agg(
        F.sum("c").cast("long").alias("__n"),
        F.aggregate(
            F.transform(F.array_sort(F.collect_list(entry)), lambda s: s.cl),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("__s"),
    )
    n = F.coalesce(F.col("__n"), F.lit(0).cast("long"))
    return per_doc.select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.when(
            n > 0,
            ln_exact(n) - F.col("__s") / n.cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("entropy_nats"),
    )



def kneser_ney_xent_scores(df, text_col: str, id_col: str):
    """Per-document conditional cross-entropy (nats/bigram) under the
    corpus's own INTERPOLATED KNESER-NEY bigram LM — the
    industry-standard smoothing (Kneser & Ney 1995; Chen & Goodman
    1999 empirical study), upgrading :func:`bigram_xent_scores`'
    add-one Laplace:

        p(w2|w1) = (c(w1,w2) − D)/c(w1·)
                   + (D·N1+(w1·)/c(w1·)) · N1+(·w2)/T

    with discount D = 3/4, c(w1·) the prefix count, N1+(w1·) the
    distinct-continuation count of w1, N1+(·w2) the distinct-
    predecessor count of w2 (the continuation probability — "how many
    contexts does w2 complete"), and T the total distinct-bigram-type
    count.  Multiplying through by 4·c(w1·)·T makes every probability
    a ratio of INTEGERS:

        p = [(4c − 3)·T + 3·N1+(w1·)·N1+(·w2)] / [4·c(w1·)·T]

    so ln p = ln(num) − ln(den) and the whole score replays
    bit-for-bit in DuckDB.  Self-scoring (this function trains on the
    corpus it scores), so every bigram is observed and c ≥ 1 keeps the
    numerator positive without the max(·,0) branch.

    Integer width (round 13, second pass): both products compute in
    decimal(38,0) and take :func:`ln_exact_dec` — the decimal-wide
    exact ln — so the old ~10^9-bigram-type BIGINT ceiling is GONE;
    the bound is now 4·c·T < 10^38 (≈10^18 tokens × 10^18 types),
    unreachable by any real corpus, with :func:`checked_dec38` still
    failing loudly at the theoretical edge (DuckDB's HUGEINT raises
    natively).  For in-BIGINT values ln_exact_dec's op sequence
    degenerates to ln_exact's, so gate values are unchanged.

    Plan shape: one bigram aggregation (LM-sized), two derived
    aggregations (prefix table, predecessor table), a 1-row type
    count; the 20-term ln series runs once per DISTINCT bigram /
    prefix; join-backs are UNHINTED (corpus-derived — the round-12
    vocab-join rule; only the 1-row T is broadcast); per-doc sums
    fold in position order (the order-dependent IEEE sum recipe)."""
    num, den, _, _ = _kn_lm(df, text_col)
    scored = (
        _ngram_instances(df, text_col, id_col, 2)
        .join(num, ["w1", "w2"], "left")
        .join(den, ["w1"], "left")
    )
    return _per_doc_xent(
        scored, id_col, F.col("ln_den") - F.col("ln_num"), "n_bigrams"
    )


def kneser_ney_xent_scores_heldout(train_df, score_df, text_col: str, id_col: str):
    """:func:`kneser_ney_xent_scores` scoring a (possibly different)
    corpus against a Kneser-Ney LM trained on ``train_df`` — the
    HELD-OUT form a production quality filter runs (train on the
    trusted reference corpus, score the crawl).  Per scored bigram,
    three branches, every probability still a ratio of INTEGERS so the
    gate hash-matches DuckDB bit-for-bit:

      seen bigram (c ≥ 1):  the self-scoring formula unchanged,
          p = [(4c−3)·T + 3·N1+(w1·)·N1+(·w2)] / [4·c(w1·)·T]
      unseen bigram, seen prefix:  the (c−D)⁺ term vanishes, leaving
          the interpolation mass — the continuation-probability backoff
          p = D·N1+(w1·)/c(w1·) · N1+(·w2)/T
            = 3·N1+(w1·)·max(N1+(·w2),1) / [4·c(w1·)·T]
          (an OOV w2 has N1+(·w2) = 0; flooring at 1 is the minimal
          one-context pseudo-continuation — the <unk>-token convention
          — keeping ln's argument positive without touching any seen
          value)
      unseen prefix:  no bigram evidence at all — back off wholly to
          the continuation distribution,
          p = max(N1+(·w2),1) / T

    Self-scoring (``train_df is score_df``) reproduces
    :func:`kneser_ney_xent_scores` value-identically: every scored
    bigram is then observed, so branches 2-3 never fire.  ``train_df``
    must contain ≥ 1 bigram (else loud ``assert_true``, mirroring the
    Laplace held-out V>0 guard).  All numerator/denominator products
    compute in decimal(38,0) and take :func:`ln_exact_dec` (round-13
    second pass — the BIGINT width ceiling is gone; see
    :func:`kneser_ney_xent_scores`), guarded by :func:`checked_dec38`.

    Plan shape: LM-sized tables exactly as the self-scoring form
    (bigram agg, prefix agg, predecessor agg, 1-row T) with the
    join-backs UNHINTED (corpus-derived); only the 1-row T / ln T is
    broadcast.  Branch-2 lns run per scored INSTANCE (a narrow in-scan
    expression — linear tax, no extra shuffle); the DuckDB mirror
    computes them per DISTINCT pair, bit-identical because
    ln_exact_dec is a pure function of the integer."""
    num, den, ncw2, tt = _kn_lm(train_df, text_col)
    ln_t = tt.select(
        ln_exact_dec(
            _dec38(
                _positive(
                    F.col("T"),
                    "kneser_ney heldout: empty training corpus (T = 0)",
                )
            )
        ).alias("ln_t")
    )
    ncf = F.coalesce(F.col("ncw2"), F.lit(1).cast("long"))
    nll = (
        F.when(F.col("ln_num").isNotNull(), F.col("ln_den") - F.col("ln_num"))
        .when(
            F.col("ln_den").isNotNull(),
            F.col("ln_den")
            - _ln_dec(
                _dec38("n1w1") * _dec38(ncf) * 3,
                "kneser_ney backoff numerator 3*N1+*N1+",
            ),
        )
        .otherwise(F.col("ln_t") - ln_exact_dec(_dec38(ncf)))
    )
    scored = (
        _ngram_instances(score_df, text_col, id_col, 2)
        .join(num, ["w1", "w2"], "left")
        .join(den, ["w1"], "left")
        .join(ncw2, ["w2"], "left")
        .crossJoin(F.broadcast(ln_t))
    )
    return _per_doc_xent(scored, id_col, nll, "n_bigrams")


def pmi_collocations(
    df, text_col: str, min_count: int = 5, top_k: int = 100
):
    """Top-k COLLOCATIONS by pointwise mutual information over adjacent
    token pairs (Church & Hanks 1990) — the phrase-vocabulary
    construction pass of a training pipeline (word2vec-style phrase
    detection joins high-PMI pairs into single tokens):

        pmi(w1, w2) = ln [ c(w1,w2) · N / (c(w1·) · c(·w2)) ]

    with c(w1,w2) the bigram instance count, c(w1·) / c(·w2) the
    first- / second-position marginals over the SAME bigram instance
    table, and N the total bigram instances — so every probability is
    a ratio of positive integers and pmi = :func:`ln_exact`(c·N) −
    ln_exact(c1·c2) replays bit-for-bit in DuckDB.  Both products run
    through :func:`checked_i64` (loud BIGINT overflow, matching
    DuckDB's native behavior).  → (w1, w2, n_pair, pmi), ordered
    pmi DESC then (w1, w2) ASC (a full tie-break: the doubles are
    bit-identical cross-engine), limited to ``top_k``.

    Plan shape: ONE corpus-sized bigram aggregation (map-side
    combined); marginals and N are LM-sized derived aggs; the ln
    series runs only on pairs passing ``min_count``; final TakeOrdered
    top-k (no global sort materialization).  100 TB story: identical
    to the LM scorers — Heaps-bounded LM tables, unhinted join-backs,
    1-row N broadcast."""
    if min_count < 1:
        raise ValueError("pmi_collocations: min_count must be >= 1")
    cb = pin_materialization(_ngram_counts(df, text_col, 2))
    c1 = cb.groupBy("w1").agg(F.sum("c").cast("long").alias("c1"))
    c2 = cb.groupBy("w2").agg(F.sum("c").cast("long").alias("c2"))
    nn = cb.agg(F.sum("c").cast("long").alias("N"))
    cand = (
        cb.filter(F.col("c") >= F.lit(int(min_count)))
        .join(c1, ["w1"])
        .join(c2, ["w2"])
        .crossJoin(F.broadcast(nn))
    )
    pmi = ln_exact(
        checked_i64(_dec38("c") * _dec38("N"), "pmi numerator c*N")
    ) - ln_exact(
        checked_i64(_dec38("c1") * _dec38("c2"), "pmi denominator c1*c2")
    )
    return (
        cand.select("w1", "w2", F.col("c").alias("n_pair"), pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(int(top_k))
    )


def _trigram_lm(t3):
    """The order-3 Kneser-Ney LM of the trigram count table ``t3(w1,
    w2, w3, c)``, shared by the self-scoring and held-out scorers: the
    pinned ``t3`` and ``t23(w2, w3, n23)`` = N1+(·w2w3), and derived
    from them ``b12(w1, w2, bb, n1)`` = B, N1 ; ``e2(w2, ee)`` = E ;
    ``n2(w2, nn2)`` = N2 ; ``m3(w3, mm)`` = M ; ``tt`` the 1-row T.
    ``ln_num`` / ``ln_den`` are the fused KN3 ln expressions over a row
    carrying those columns (see :func:`kneser_ney3_xent_scores`)."""
    t3 = pin_materialization(t3)
    t23 = pin_materialization(
        t3.groupBy("w2", "w3").agg(F.count("*").cast("long").alias("n23"))
    )
    # p2's numerator (4n-3)*T + 3*N2*M: inside ln_num, and the held-out
    # form's branch 2a on its own
    p2_num = (_dec38("n23") * 4 - 3) * _dec38("T") + (
        _dec38("nn2") * 3 * _dec38("mm")
    )
    return SimpleNamespace(
        t3=t3,
        b12=t3.groupBy("w1", "w2").agg(
            F.sum("c").cast("long").alias("bb"),
            F.count("*").cast("long").alias("n1"),
        ),
        t23=t23,
        e2=t3.groupBy("w2").agg(F.count("*").cast("long").alias("ee")),
        n2=t23.groupBy("w2").agg(F.count("*").cast("long").alias("nn2")),
        m3=t23.groupBy("w3").agg(F.count("*").cast("long").alias("mm")),
        tt=t23.agg(F.count("*").cast("long").alias("T")),
        p2_num=p2_num,
        ln_num=_ln_dec(
            (_dec38("c") * 4 - 3) * 4 * _dec38("ee") * _dec38("T")
            + _dec38("n1") * 3 * p2_num,
            "numerator (4c-3)*4*E*T + 3*N1*((4n-3)*T + 3*N2*M)",
        ),
        ln_den=_ln_dec(
            _dec38("bb") * 16 * _dec38("ee") * _dec38("T"),
            "denominator 16*B*E*T",
        ),
    )


def kneser_ney3_xent_scores(df, text_col: str, id_col: str):
    """Per-document conditional cross-entropy (nats/trigram) under the
    corpus's own INTERPOLATED KNESER-NEY TRIGRAM LM — the production
    n-gram order (CCNet/KenLM filters run order 3-5), extending
    :func:`kneser_ney_xent_scores` one level up the Chen & Goodman
    recursion.  With discount D = 3/4 at both levels:

        p(w3|w1,w2) = (c(w1w2w3) − D)/c(w1w2·)
                      + (D·N1+(w1w2·)/c(w1w2·)) · p2(w3|w2)
        p2(w3|w2)   = (N1+(·w2w3) − D)/N1+(·w2·)
                      + (D·N1+(w2·)/N1+(·w2·)) · N1+(·w3)/T

    where the lower order uses CONTINUATION counts (the KN insight):
    N1+(·w2w3) = distinct w1 preceding (w2,w3), N1+(·w2·) = distinct
    (w1,w3) around w2, N1+(w2·) = distinct continuations of w2,
    N1+(·w3) = distinct (w2) contexts completed by w3, and T the total
    (w2,w3) continuation-type count — ALL derived from the single
    trigram-type table.  Multiplying through by 16·c(w1w2·)·N1+(·w2·)·T
    makes every probability a ratio of INTEGERS:

        num = (4c−3)·4·E·T + 3·N1·[(4n−3)·T + 3·N2·M]
        den = 16·B·E·T

    (B = c(w1w2·), N1 = N1+(w1w2·), n = N1+(·w2w3), E = N1+(·w2·),
    N2 = N1+(w2·), M = N1+(·w3)), so ln p = ln(num) − ln(den) with
    both arguments positive integers — but integers that exceed BIGINT
    long before 100 TB.  Both sides therefore compute in decimal(38,0)
    (:func:`checked_dec38` — loud on overflow, matching DuckDB's
    native HUGEINT raise) and take :func:`ln_exact_dec`, the
    decimal-wide exact ln: the width ceiling moves from the bigram
    form's ~10^9 types to 16·c·E·T < 10^38 — ~10^12 tokens × ~10^12
    types × ~10^12 types, comfortably past a 100 TB crawl.

    Self-scoring: every instance trigram is observed, so c ≥ 1 and
    n ≥ 1 keep both max(·−D, 0) branches positive without the clamp.
    Interpolation masses telescope: Σ_w3 p2(·|w2) = 1 and
    Σ_w3 p(·|w1,w2) = 1 over the continuation vocabulary
    (property-tested with exact Fractions).

    Plan shape (100 TB): ONE trigram aggregation (LM-sized) feeds five
    bounded derived aggregations (prefix/continuation tables) and a
    1-row T; the ln series runs once per DISTINCT trigram / prefix
    type; all LM join-backs are UNHINTED (corpus-derived — the
    round-12 vocab-join rule; only the 1-row T broadcasts); per-doc
    sums fold in position order (the order-dependent IEEE sum
    recipe)."""
    lm = _trigram_lm(_ngram_counts(df, text_col, 3))
    num = (
        lm.t3.join(lm.t23, ["w2", "w3"])
        .join(lm.b12.select("w1", "w2", "n1"), ["w1", "w2"])
        .join(lm.e2.join(lm.n2, ["w2"]), ["w2"])
        .join(lm.m3, ["w3"])
        .crossJoin(F.broadcast(lm.tt))
        .select("w1", "w2", "w3", lm.ln_num.alias("ln_num"))
    )
    den = (
        lm.b12.join(lm.e2, ["w2"])
        .crossJoin(F.broadcast(lm.tt))
        .select("w1", "w2", lm.ln_den.alias("ln_den"))
    )
    scored = (
        _ngram_instances(df, text_col, id_col, 3)
        .join(num, ["w1", "w2", "w3"], "left")
        .join(den, ["w1", "w2"], "left")
    )
    return _per_doc_xent(
        scored, id_col, F.col("ln_den") - F.col("ln_num"), "n_trigrams"
    )


def kneser_ney3_xent_scores_heldout(
    train_df, score_df, text_col: str, id_col: str
):
    """:func:`kneser_ney3_xent_scores` scoring a (possibly different)
    corpus against a trigram KN LM trained on ``train_df`` — the
    production filter shape at the production n-gram ORDER (train on
    the trusted corpus, score the crawl).  Per scored trigram the Chen
    & Goodman backoff recursion yields SIX branches; every probability
    stays a ratio of integers, composed as SUMS OF EXACT LNS (ln of a
    product = the same fixed ln series per factor, added in a fixed
    order — both engines run the identical op list, so the gate is
    hash-exact even though the factored form differs from a single
    fused ln in the last ulp):

      1a. seen trigram — the self-scoring formula UNCHANGED (fused
          numerator over 16·B·E·T), so self-scoring reproduces
          :func:`kneser_ney3_xent_scores` bit-for-bit;
      1b. unseen trigram, seen (w1,w2) prefix — the (c−D)⁺ term
          vanishes, leaving the interpolation mass
          p = (3·N1/(4·B)) · p2(w3|w2), with p2 by sub-branch:
          (a) seen (w2,w3):  p2 = [(4n−3)·T + 3·N2·M] / (4·E·T)
          (b) unseen (w2,w3), seen w2:
              p2 = 3·N2·max(M,1) / (4·E·T)
              (an OOV w3 has M = 0; flooring at 1 is the one-context
              pseudo-continuation — the <unk> convention, exactly as
              the bigram held-out form)
          — a seen (w1,w2) prefix implies w2 was a middle word, so E
          is always defined here;
      2.  unseen prefix — no trigram evidence at all: p = p2(w3|w2)
          wholly, with p2's three sub-branches
          (a) seen (w2,w3), (b) seen w2 only, and
          (c) unseen w2:  p2 = max(M,1) / T
          (the pure continuation distribution).

    ``train_df`` must contain ≥ 1 trigram (loud ``assert_true``
    otherwise).  All products run in decimal(38,0) through
    :func:`checked_dec38` and :func:`ln_exact_dec` — the width story
    of the self-scoring form, unchanged.

    Plan shape: LM-sized per-type tables (trigram / prefix /
    continuation / unigram-continuation) carry PRE-COMPUTED ln
    columns, so the ln series runs once per DISTINCT type, never per
    scored instance; all join-backs UNHINTED (corpus-derived); only
    the 1-row T / ln T broadcasts; per-doc sums fold in position
    order."""
    return kn3_score_from_counts(
        _ngram_counts(train_df, text_col, 3), score_df, text_col, id_col
    )


def kn3_score_from_counts(t3, score_df, text_col: str, id_col: str):
    """The scoring half of :func:`kneser_ney3_xent_scores_heldout`,
    taking the trigram COUNT TABLE ``t3(w1, w2, w3, c)`` directly
    instead of a training corpus — every KN statistic (prefix,
    continuation, type totals) derives from that one table, so a
    count table is a complete LM.  This is what makes the model
    STREAM-REFRESHABLE: feed it the SUM-merged output of
    ``streaming.ngram_counts_stream`` (n=3) and the crawl's LM stays
    current without re-scanning history (round-14 VERDICT item 8);
    batch == stream is exact because counts are additive.  Same six
    backoff branches, same decimal(38)/``ln_exact_dec`` exactness,
    same plan shape as the held-out scorer (which now delegates
    here)."""
    lm = _trigram_lm(t3)
    tt = lm.tt.select(
        _positive(
            F.col("T"), "kneser_ney3 heldout: empty training corpus (T = 0)"
        ).alias("T")
    )
    # The per-trigram nll depends only on the trigram TYPE, so score the
    # DISTINCT types of the corpus (a Heaps-bounded table) with
    # type-level left joins and attach the result to the instances with
    # ONE corpus-sized join.
    inst_s = _ngram_instances(score_df, text_col, id_col, 3)
    types = (
        inst_s.filter(F.col("pos").isNotNull())
        .select("w1", "w2", "w3")
        .distinct()
    )
    stats = (
        types.join(lm.t3, ["w1", "w2", "w3"], "left")
        .join(lm.b12, ["w1", "w2"], "left")
        .join(lm.t23, ["w2", "w3"], "left")
        .join(lm.e2, ["w2"], "left")
        .join(lm.n2, ["w2"], "left")
        .join(lm.m3, ["w3"], "left")
        .crossJoin(F.broadcast(tt))
    )
    # Each branch's stat inputs are total on its gate column (every
    # stat table aggregates t3 itself: a trigram in t3 always has its
    # prefix in b12, its (w2,w3) in t23, its w2 in e2/n2, its w3 in
    # m3), and the CASE WHEN chain evaluates only the ln series of the
    # branch a type row takes.
    ln_4b = _ln_dec(_dec38("bb") * 4, "4*B")
    ln_3n1 = _ln_dec(_dec38("n1") * 3, "3*N1")
    ln_2a = _ln_dec(lm.p2_num, "p2 numerator (4n-3)*T + 3*N2*M")
    ln_d2 = _ln_dec(_dec38("ee") * 4 * _dec38("T"), "4*E*T")
    ln_3n2 = _ln_dec(_dec38("nn2") * 3, "3*N2")
    # max(M,1): ln 1 = 0
    lnm_fl = F.when(
        F.col("mm").isNotNull(), ln_exact_dec(_dec38("mm"))
    ).otherwise(F.lit(0.0))
    seen_b = F.col("bb").isNotNull()
    seen_n23 = F.col("n23").isNotNull()
    nll = (
        F.when(F.col("c").isNotNull(), lm.ln_den - lm.ln_num)
        .when(seen_b & seen_n23, (ln_4b + ln_d2) - (ln_3n1 + ln_2a))
        .when(seen_b, (ln_4b + ln_d2) - (ln_3n1 + ln_3n2 + lnm_fl))
        .when(seen_n23, ln_d2 - ln_2a)
        .when(F.col("ee").isNotNull(), ln_d2 - (ln_3n2 + lnm_fl))
        .otherwise(ln_exact_dec(_dec38("T")) - lnm_fl)
    )
    scored = inst_s.join(
        stats.select("w1", "w2", "w3", nll.alias("__nll")),
        ["w1", "w2", "w3"],
        "left",
    )
    return _per_doc_xent(scored, id_col, F.col("__nll"), "n_trigrams")
