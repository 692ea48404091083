r"""URL / domain canonicalization and URL-level dedup — the first pass
of every crawl pipeline (round-12 VERDICT item 4; percent-encoding and
dot-segment normalization added round 13, VERDICT item 6).

Canonicalization contract (the practical crawl-dedup subset of
RFC 3986 §6 normalization, all pure column expressions):

1. trim; strip the fragment (``#…`` never reaches the origin server);
2. lowercase the SCHEME and HOST only (path/query are case-sensitive
   per the RFC);
3. drop ``user@`` userinfo (ftp-era noise, a phishing vector in crawl
   data — never part of the resource identity);
4. drop the port when it is the scheme default (``http:80``,
   ``https:443``), keep any other explicit port;
5. percent-encoding normalization (RFC 3986 §6.2.2.1–2) on the path
   and query: ``%xx`` hex digits uppercased, and ``%xx`` sequences
   whose octet is an UNRESERVED character (ALPHA / DIGIT / ``-._~``)
   decoded (``%41`` → ``A``, ``%7E`` → ``~``); malformed ``%`` (not
   followed by two hex digits) passes through byte-identically;
6. dot-segment removal (RFC 3986 §6.2.2.3 / §5.2.4) on the path:
   ``/./`` and trailing ``/.`` collapse, ``/seg/../`` pops the
   segment, leading ``/../`` runs are dropped — applied AFTER step 5
   so a decoded ``%2E`` participates.  Resolution is a fixed
   :data:`_DOT_PASSES`-pass rewrite (each pass collapses ≥1 nesting
   level); ``..``-chains deeper than that keep their residue — both
   engines apply the identical pass count, so the oracle mirrors
   exactly even past the cap;
7. drop tracking query parameters (``utm_*``, ``gclid``, ``fbclid``,
   ``msclkid``, ``igshid``, ``mc_eid`` — with OR without an ``=value``
   part; bare ``?gclid`` appears in real crawl data) and the ``?``
   itself when nothing survives; surviving parameters KEEP their
   original order (re-sorting can change semantics for duplicate
   keys);
8. empty path becomes ``/`` (``http://x.com`` ≡ ``http://x.com/``).

Strings without a ``scheme://`` prefix are not URLs; they pass through
as ``lower(trim(s))`` with the fragment stripped, so the operator is
total (crawl frontiers are full of bare hosts).  NOT done (documented
limitations): percent-normalization of the HOST (rare; punycode/IDN
hosts pass through byte-identically, which is still deterministic),
and empty-segment interaction with dot segments (``//../`` pops the
empty segment like RFC §5.2.4; pathological either way).

Everything is regexp / split / transform / filter with patterns chosen
to behave identically in Java regex (Spark) and RE2 (DuckDB) —
anchored, no backrefs, no lookaround — so the oracle mirrors the
operator expression-for-expression (:func:`canon_sql`).  End anchors
are ``\z`` (end of TEXT in both engines), never ``$``: Java's ``$``
matches before a final line terminator while RE2's does not, so a
crawl URL ending in a newline would canonicalize differently per
engine (round-13 review fix; the fuzz alphabet includes ``\n``).

Registrable domains come from :mod:`dataclass_array_spark.operators.psl`
(broadcast longest-matching-suffix join over a public-suffix rules
snapshot).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "canonicalize_url",
    "with_url_columns",
    "url_host",
    "dedup_urls",
    "canon_sql",
    "host_sql",
    "TRACKING_RE",
]

# anchored param-name match, with or without '=value' (bare '?gclid'
# occurs in real crawl data); identical semantics in Java regex and RE2
TRACKING_RE = "^(utm_[^=]*|gclid|fbclid|msclkid|igshid|mc_eid)(=|\\z)"
_SCHEME_RE = "^[A-Za-z][A-Za-z0-9+.-]*://"

# %XX whose octet is RFC 3986 unreserved: ALPHA (41-5A, 61-7A),
# DIGIT (30-39), '-' 2D, '.' 2E, '_' 5F, '~' 7E — matched on the
# UPPERCASED hex pair, so decode() only ever sees valid ASCII (DuckDB's
# decode() errors on invalid UTF-8; this guard keeps both engines safe).
_HEX2_RE = "^[0-9A-Fa-f]{2}"
_UNRES_HEX_RE = "^(2[DE]|3[0-9]|4[1-9A-F]|5[0-9A]|5F|6[1-9A-F]|7[0-9A]|7E)\\z"

# One pass collapses at least one dot-segment nesting level; 8 passes
# resolve any '..' ascent of depth ≤ 8 (crawl URLs rarely exceed 2).
_DOT_PASSES = 8
_P_DOTSLASH = r"/\.(/|\z)"          # '/./' anywhere, '/.' at end
_P_LEAD = r"^(/\.\.)+(/|\z)"        # leading '/../' runs drop at root
# '/seg/../' pops seg; seg may be empty (RFC pops empty segments) but
# never '.' or '..' themselves (those are handled by the other two)
_P_UP = r"/([^/.][^/]*|\.[^/.][^/]*|\.\.[^/]+)?/\.\.(/|\z)"

_BIG = 2147483647


def _pct_norm(s: Column) -> Column:
    """RFC 3986 §6.2.2.1–2 percent-encoding normalization of ``s``:
    split on '%', rewrite each tail element's leading hex pair
    (uppercase; decode if unreserved), rejoin.  Pure column
    expression; the ``contains('%')`` guard keeps the common
    no-escape row at one substring test."""

    def fix(x: Column, i: Column) -> Column:
        hex2 = F.upper(F.substring(x, 1, 2))
        rest = F.substring(x, 3, _BIG)
        return (
            F.when(i == F.lit(0), x)  # text before the first '%'
            .when(~x.rlike(_HEX2_RE), F.concat(F.lit("%"), x))
            .when(
                hex2.rlike(_UNRES_HEX_RE),
                F.concat(F.decode(F.unhex(hex2), "UTF-8"), rest),
            )
            .otherwise(F.concat(F.lit("%"), hex2, rest))
        )

    return F.when(
        s.contains("%"),
        F.array_join(F.transform(F.split(s, "%", -1), fix), ""),
    ).otherwise(s)


def _pct_sql(e: str) -> str:
    """DuckDB mirror of :func:`_pct_norm` (list slice instead of the
    indexed lambda; array_to_string of an empty list is NULL in DuckDB
    — COALESCE keeps the '' Spark gives for a trailing '%')."""
    fix = (
        "CASE WHEN NOT regexp_matches(x, '" + _HEX2_RE + "') THEN '%' || x "
        "WHEN regexp_matches(upper(substr(x, 1, 2)), '" + _UNRES_HEX_RE + "') "
        "THEN decode(unhex(upper(substr(x, 1, 2)))) || substr(x, 3) "
        "ELSE '%' || upper(substr(x, 1, 2)) || substr(x, 3) END"
    )
    return (
        f"CASE WHEN contains({e}, '%') THEN "
        f"(string_split({e}, '%'))[1] || "
        f"COALESCE(array_to_string(list_transform("
        f"(string_split({e}, '%'))[2:], x -> {fix}), ''), '') "
        f"ELSE {e} END"
    )


def _remove_dot_segments(p: Column) -> Column:
    """RFC 3986 §5.2.4 remove_dot_segments as a fixed-pass rewrite
    (see module docstring item 6).  Guarded on ``contains('/.')`` so
    dot-free paths pay one substring test."""
    out = p
    for _ in range(_DOT_PASSES):
        out = F.regexp_replace(out, _P_DOTSLASH, "/")
        out = F.regexp_replace(out, _P_LEAD, "/")
        out = F.regexp_replace(out, _P_UP, "/")
    return F.when(p.contains("/."), out).otherwise(p)


def _dots_sql(e: str) -> str:
    """DuckDB mirror of :func:`_remove_dot_segments` — same patterns,
    same pass count; DuckDB regexp_replace needs the explicit 'g'
    flag to match Java's replace-all."""
    out = e
    for _ in range(_DOT_PASSES):
        out = f"regexp_replace({out}, '{_P_DOTSLASH}', '/', 'g')"
        out = f"regexp_replace({out}, '{_P_LEAD}', '/', 'g')"
        out = f"regexp_replace({out}, '{_P_UP}', '/', 'g')"
    return f"CASE WHEN contains({e}, '/.') THEN {out} ELSE {e} END"


def _parts(u: Column):
    t = F.trim(u)
    # trim AGAIN after the fragment strip: '…a #f' must not leave a
    # trailing space behind (idempotency — the fuzz caught it)
    # '#[\\s\\S]*' (not '#.*'): '.' excludes \n in both engines, so a
    # fragment containing a newline would leave '#'-splinters -- and
    # Spark replaces ALL matches while DuckDB replaces the FIRST, so
    # '#a\n#b' diverged (found by the newline fuzz).  [\\s\\S] makes it
    # one rest-of-string match in both engines (and is the RFC-true
    # fragment: everything after the FIRST '#')
    nf = F.trim(F.regexp_replace(t, "#[\\s\\S]*", ""))   # fragment
    is_url = nf.rlike(_SCHEME_RE)
    scheme = F.lower(F.regexp_extract(nf, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    after = F.regexp_replace(nf, _SCHEME_RE, "")
    auth = F.regexp_extract(after, "^([^/?]*)", 1)
    hostport = F.regexp_replace(auth, "^[^@]*@", "")
    host = F.lower(F.regexp_replace(hostport, ":[0-9]*\\z", ""))
    port = F.regexp_extract(hostport, ":([0-9]+)\\z", 1)
    pathq = F.regexp_replace(after, "^[^/?]*", "")
    path = F.regexp_extract(pathq, "^([^?]*)", 1)
    query = F.regexp_extract(pathq, r"\?(.*)\z", 1)
    return t, nf, is_url, scheme, host, port, path, query


def canonicalize_url(u: Column) -> Column:
    """Canonical form of a URL column under the module contract."""
    t, nf, is_url, scheme, host, port, path, query = _parts(u)
    norm_path = _remove_dot_segments(_pct_norm(path))
    kept = F.array_join(
        F.filter(
            F.split(_pct_norm(query), "&"),
            lambda x: (x != F.lit("")) & ~x.rlike(TRACKING_RE),
        ),
        "&",
    )
    port_part = F.when(
        (port == F.lit(""))
        | ((scheme == F.lit("http")) & (port == F.lit("80")))
        | ((scheme == F.lit("https")) & (port == F.lit("443"))),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), port))
    path_part = F.when(norm_path == F.lit(""), F.lit("/")).otherwise(norm_path)
    q_part = F.when(kept == F.lit(""), F.lit("")).otherwise(
        F.concat(F.lit("?"), kept)
    )
    return F.when(
        is_url,
        F.concat(scheme, F.lit("://"), host, port_part, path_part, q_part),
    ).otherwise(F.lower(nf))


def url_host(u: Column) -> Column:
    """Lowercased host of a URL column ('' for non-URLs)."""
    _, _, is_url, _, host, _, _, _ = _parts(u)
    return F.when(is_url, host).otherwise(F.lit(""))


def with_url_columns(
    df: DataFrame,
    url_col: str,
    canon_col: "str | None" = None,
    host_col: "str | None" = None,
) -> DataFrame:
    """Append the canonical URL and/or host as columns via STAGED
    projections — value-identical to :func:`canonicalize_url` /
    :func:`url_host`, but each expensive intermediate (fragment strip,
    authority split, percent-normalized path/query, the
    :data:`_DOT_PASSES`-pass dot-segment chain) is NAMED ONCE per
    stage instead of re-inlined at every reference site.

    Why (round 16, measured): the single-Column form nests every
    sub-expression at every use — ``path_part`` alone duplicates the
    24-regexp dot-segment chain, which itself wraps the 3×-referenced
    percent-normalizer, which wraps the parse chain — an expression
    tree with dozens of copies of the base regexes.  Catalyst walks
    that whole tree (``url_domain_stats_docs`` spent ~3.5 s of pure
    driver time planning it).  Staged projections keep the tree
    LINEAR; CollapseProject (Spark ≥3.3) will not merge a projection
    when merging would duplicate a non-cheap alias referenced more
    than once, so the shape survives optimization.  The per-row values
    are the same expressions over the same inputs.

    The stages live in ``__u_*`` temporaries that are dropped at the
    end, so an input column with one of those names raises ValueError
    instead of being overwritten and dropped."""
    if canon_col is None and host_col is None:
        raise ValueError("with_url_columns: nothing to compute")
    temps = ["__u_nf", "__u_isu", "__u_scheme", "__u_after", "__u_hp", "__u_pathq", "__u_host"]
    if canon_col is not None:
        temps += ["__u_port", "__u_ppath", "__u_kept", "__u_dpath"]
    clash = [c for c in df.columns if c.lower() in temps]
    if clash:
        raise ValueError(f"with_url_columns: input columns {clash} collide with its temporaries")
    t = F.trim(F.col(url_col))
    out = df.withColumns(
        {"__u_nf": F.trim(F.regexp_replace(t, "#[\\s\\S]*", ""))}
    )
    nf = F.col("__u_nf")
    out = out.withColumns(
        {
            "__u_isu": nf.rlike(_SCHEME_RE),
            "__u_scheme": F.lower(
                F.regexp_extract(nf, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
            ),
            "__u_after": F.regexp_replace(nf, _SCHEME_RE, ""),
        }
    )
    after = F.col("__u_after")
    out = out.withColumns(
        {
            "__u_hp": F.regexp_replace(
                F.regexp_extract(after, "^([^/?]*)", 1), "^[^@]*@", ""
            ),
            "__u_pathq": F.regexp_replace(after, "^[^/?]*", ""),
        }
    )
    hp = F.col("__u_hp")
    out = out.withColumns(
        {"__u_host": F.lower(F.regexp_replace(hp, ":[0-9]*\\z", ""))}
    )
    if host_col is not None:
        out = out.withColumns(
            {host_col: F.when(F.col("__u_isu"), F.col("__u_host")).otherwise(F.lit(""))}
        )
    if canon_col is not None:
        pathq = F.col("__u_pathq")
        out = out.withColumns(
            {
                "__u_port": F.regexp_extract(hp, ":([0-9]+)\\z", 1),
                "__u_ppath": _pct_norm(F.regexp_extract(pathq, "^([^?]*)", 1)),
                "__u_kept": F.array_join(
                    F.filter(
                        F.split(
                            _pct_norm(F.regexp_extract(pathq, r"\?(.*)\z", 1)),
                            "&",
                        ),
                        lambda x: (x != F.lit("")) & ~x.rlike(TRACKING_RE),
                    ),
                    "&",
                ),
            }
        )
        out = out.withColumns(
            {"__u_dpath": _remove_dot_segments(F.col("__u_ppath"))}
        )
        scheme, port = F.col("__u_scheme"), F.col("__u_port")
        dpath, kept = F.col("__u_dpath"), F.col("__u_kept")
        port_part = F.when(
            (port == F.lit(""))
            | ((scheme == F.lit("http")) & (port == F.lit("80")))
            | ((scheme == F.lit("https")) & (port == F.lit("443"))),
            F.lit(""),
        ).otherwise(F.concat(F.lit(":"), port))
        path_part = F.when(dpath == F.lit(""), F.lit("/")).otherwise(dpath)
        q_part = F.when(kept == F.lit(""), F.lit("")).otherwise(
            F.concat(F.lit("?"), kept)
        )
        out = out.withColumns(
            {
                canon_col: F.when(
                    F.col("__u_isu"),
                    F.concat(
                        scheme, F.lit("://"), F.col("__u_host"), port_part,
                        path_part, q_part,
                    ),
                ).otherwise(F.lower(nf))
            }
        )
    return out.drop(*temps)


def dedup_urls(df: DataFrame, url_col: str, id_col: str) -> DataFrame:
    """URL-level exact dedup after canonicalization: → (canon_url,
    rep_id, n_dups) with the smallest id as the representative —
    ``rep_id`` keeps ``id_col``'s own type (MIN of a string id is the
    lexicographic representative; no silent cast).  ONE map-side-
    combined aggregation on the canonical string — the same
    single-shuffle shape as content hash dedup (``dedup.py``), and at
    100 TB the canonical form is computed in-scan (no UDF, no join).
    Canonicalization runs through the staged :func:`with_url_columns`
    form (same values, linear plan)."""
    return (
        with_url_columns(
            df.select(F.col(url_col), F.col(id_col)), url_col,
            canon_col="canon_url",
        )
        .groupBy("canon_url")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count("*").cast("long").alias("n_dups"),
        )
    )


def canon_sql(u_expr: str) -> str:
    """DuckDB mirror of :func:`canonicalize_url` for ``u_expr`` — same
    pipeline, same patterns, inlined as one scalar expression.  DuckDB
    regexp_replace is first-match unless flagged 'g' (the parse-stage
    patterns are anchored or rest-of-string, so first-match ≡ Spark's
    replace-all; the dot-segment passes pass 'g' explicitly) and
    regexp_extract returns NULL on no-match where Spark returns '' —
    every extract is COALESCE-wrapped to '' so each stage mirrors
    1:1."""
    nf = f"trim(regexp_replace(trim({u_expr}), '#[\\s\\S]*', ''))"
    scheme = (
        "lower(COALESCE(regexp_extract("
        f"{nf}, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1), ''))"
    )
    after = f"regexp_replace({nf}, '^[A-Za-z][A-Za-z0-9+.-]*://', '')"
    auth = f"COALESCE(regexp_extract({after}, '^([^/?]*)', 1), '')"
    hostport = f"regexp_replace({auth}, '^[^@]*@', '')"
    host = f"lower(regexp_replace({hostport}, ':[0-9]*\\z', ''))"
    port = f"COALESCE(regexp_extract({hostport}, ':([0-9]+)\\z', 1), '')"
    pathq = f"regexp_replace({after}, '^[^/?]*', '')"
    path = f"COALESCE(regexp_extract({pathq}, '^([^?]*)', 1), '')"
    query = f"COALESCE(regexp_extract({pathq}, '\\?(.*)\\z', 1), '')"
    norm_path = _dots_sql(_pct_sql(path))
    # array_to_string of an empty list is NULL in DuckDB ('' in Spark)
    kept = (
        "COALESCE(array_to_string(list_filter(string_split("
        + _pct_sql(query)
        + ", '&'), "
        f"x -> x != '' AND NOT regexp_matches(x, '{TRACKING_RE}')), '&'), '')"
    )
    port_part = (
        f"CASE WHEN {port} = '' OR ({scheme} = 'http' AND {port} = '80') "
        f"OR ({scheme} = 'https' AND {port} = '443') THEN '' "
        f"ELSE ':' || {port} END"
    )
    path_part = f"CASE WHEN {norm_path} = '' THEN '/' ELSE {norm_path} END"
    q_part = f"CASE WHEN {kept} = '' THEN '' ELSE '?' || {kept} END"
    return (
        f"CASE WHEN regexp_matches({nf}, '^[A-Za-z][A-Za-z0-9+.-]*://') "
        f"THEN {scheme} || '://' || {host} || {port_part} || {path_part} || {q_part} "
        f"ELSE lower({nf}) END"
    )


def host_sql(u_expr: str) -> str:
    """DuckDB mirror of :func:`url_host` ('' for non-URLs)."""
    nf = f"trim(regexp_replace(trim({u_expr}), '#[\\s\\S]*', ''))"
    after = f"regexp_replace({nf}, '^[A-Za-z][A-Za-z0-9+.-]*://', '')"
    auth = f"COALESCE(regexp_extract({after}, '^([^/?]*)', 1), '')"
    hostport = f"regexp_replace({auth}, '^[^@]*@', '')"
    host = f"lower(regexp_replace({hostport}, ':[0-9]*\\z', ''))"
    return (
        f"CASE WHEN regexp_matches({nf}, '^[A-Za-z][A-Za-z0-9+.-]*://') "
        f"THEN {host} ELSE '' END"
    )
