"""URL canonicalization: expected-value cases (the RFC-3986-subset
contract incl. §6.2.2.1-3 percent/dot-segment normalization),
Spark↔DuckDB expression parity, dedup semantics, and PSL
registrable-domain extraction."""

import duckdb
import pytest
from pyspark.sql import functions as F

# (input, expected canonical) — the module contract, case by case
CASES = [
    # scheme+host case-fold, default port, tracking param, fragment
    ("HTTP://WWW.Example.COM:80/Path/To?utm_source=x&id=3#frag",
     "http://www.example.com/Path/To?id=3"),
    # already canonical
    ("http://www.example.com/Path/To?id=3",
     "http://www.example.com/Path/To?id=3"),
    # https default port + two tracking params; reserved %-escape kept
    ("https://Sub.Example.com:443/a%20b?b=2&utm_campaign=z&gclid=1",
     "https://sub.example.com/a%20b?b=2"),
    # non-default port kept
    ("https://sub.example.com:8443/a%20b?b=2",
     "https://sub.example.com:8443/a%20b?b=2"),
    # userinfo dropped, duplicate keys keep order, whitespace trimmed
    ("  http://user:pw@host.com:8080/x?a=1&a=2&fbclid=q  ",
     "http://host.com:8080/x?a=1&a=2"),
    # empty path -> /
    ("http://example.com", "http://example.com/"),
    # query entirely tracking -> no '?'
    ("http://example.com?utm_source=only#f", "http://example.com/"),
    # BARE tracking params (no '=value') are dropped too (r13 advice)
    ("http://example.com?gclid", "http://example.com/"),
    ("http://example.com/p?utm_source&a=1", "http://example.com/p?a=1"),
    # but a tracking-PREFIXED name with a suffix is NOT tracking
    ("http://example.com/p?gclid2=x", "http://example.com/p?gclid2=x"),
    # non-URL fallback: lower(trim), fragment-stripped, params kept,
    # NO percent/dot normalization
    ("example.com/no-scheme?utm_source=x", "example.com/no-scheme?utm_source=x"),
    ("Not a URL %41 /../x#f", "not a url %41 /../x"),
    # non-http scheme: port NOT a default, kept
    ("ftp://Files.Example.org:21/pub/", "ftp://files.example.org:21/pub/"),
    # dangling '?'
    ("https://example.com/?", "https://example.com/"),
    # path/query case preserved
    ("HtTpS://MIXED.case/QueryCase?Key=Val", "https://mixed.case/QueryCase?Key=Val"),
    ("http://example.com#justfrag", "http://example.com/"),
    ("", ""),
    ("https://example.com:443", "https://example.com/"),
    # ---- percent-encoding normalization (RFC 3986 §6.2.2.1-2) ----
    # unreserved octets decode; hex uppercased; malformed '%' kept
    ("http://x.com/%61sset%2d1/%7e%zz%4", "http://x.com/asset-1/~%zz%4"),
    # reserved octets stay encoded ('/' '?' '&'), hex uppercased
    ("http://x.com/a%2fb?q=%3f%26", "http://x.com/a%2Fb?q=%3F%26"),
    # '%25' ('%') never double-decodes
    ("http://x.com/a%2541", "http://x.com/a%2541"),
    # query decode can EXPOSE a tracking param, which is then dropped
    ("http://x.com/p?%75tm_source=x&a=1", "http://x.com/p?a=1"),
    # ---- dot-segment removal (RFC 3986 §6.2.2.3 / §5.2.4) ----
    ("http://x.com/a/./b/../c", "http://x.com/a/c"),
    ("http://x.com/a/b/c/../../../d", "http://x.com/d"),
    ("http://x.com/../../a", "http://x.com/a"),
    ("http://x.com/a/..", "http://x.com/"),
    ("http://x.com/a/.", "http://x.com/a/"),
    ("http://x.com/.", "http://x.com/"),
    ("http://x.com/..", "http://x.com/"),
    # '...' is a legitimate segment name, not a dot segment
    ("http://x.com/...", "http://x.com/..."),
    # decoded %2E participates in dot-segment removal (decode-then-dots)
    ("http://x.com/a/%2E%2E/b", "http://x.com/b"),
    # empty segments pop like RFC 5.2.4
    ("http://x.com/a//../b", "http://x.com/a/b"),
]


def test_canonicalize_expected_values(spark):
    from dataclass_array_spark.operators.url import canonicalize_url

    df = spark.createDataFrame([(c,) for c, _ in CASES], "u string")
    got = [r["c"] for r in df.select(canonicalize_url(F.col("u")).alias("c")).collect()]
    assert got == [w for _, w in CASES]


def test_canonicalize_duckdb_parity(spark):
    """The oracle mirror must agree expression-for-expression — parity
    over the full case table, both engines."""
    from dataclass_array_spark.operators.url import canon_sql, canonicalize_url

    df = spark.createDataFrame([(c,) for c, _ in CASES], "u string")
    got = [r["c"] for r in df.select(canonicalize_url(F.col("u")).alias("c")).collect()]
    vals = ", ".join("(" + repr(c).replace('"', "'") + ")" for c, _ in CASES)
    want = [
        r[0]
        for r in duckdb.sql(
            f"SELECT {canon_sql('u')} FROM (VALUES {vals}) t(u)"
        ).fetchall()
    ]
    assert got == want


def test_url_host_and_domain(spark):
    from dataclass_array_spark.operators.url import url_host

    df = spark.createDataFrame(
        [
            ("http://a.b.c.co.uk:8080?z=1",),
            ("HTTPS://WWW.Example.COM/x",),
            ("not a url",),
        ],
        "u string",
    )
    rows = df.select(url_host(F.col("u")).alias("h")).collect()
    assert [r["h"] for r in rows] == ["a.b.c.co.uk", "www.example.com", ""]


# ---- PSL registrable domains (operators/psl.py) ----

# (host, registrable domain) — ICANN ccSLD cases incl. wildcard rules,
# the !www.ck exception, 3-label rules, and public-suffix-only hosts
PSL_CASES = [
    ("a.b.example.co.uk", "example.co.uk"),
    ("example.co.uk", "example.co.uk"),
    ("co.uk", ""),                      # the host IS a public suffix
    ("www.example.com", "example.com"),  # default rule '*'
    ("example.com", "example.com"),
    ("com", ""),
    ("www.ck", "www.ck"),               # exception rule !www.ck
    ("a.www.ck", "www.ck"),
    ("b.ck", ""),                       # wildcard *.ck: b.ck is a suffix
    ("x.b.ck", "x.b.ck"),
    ("foo.k12.ca.us", "foo.k12.ca.us"),  # 3-label rule
    ("k12.ca.us", ""),
    ("city.kawasaki.jp", "city.kawasaki.jp"),  # exception beats *.kawasaki.jp
    ("x.city.kawasaki.jp", "city.kawasaki.jp"),
    ("blog.y.kawasaki.jp", "blog.y.kawasaki.jp"),
    ("shop.example.tokyo.jp", "example.tokyo.jp"),
    ("", ""),                           # non-URL rows carry '' hosts
    ("localhost", ""),
    ("pref.hokkaido.jp", "pref.hokkaido.jp"),
    # the ccSLD wildcard family VERDICT r13 item 5 names explicitly
    ("a.b.nagoya.jp", "a.b.nagoya.jp"),  # *.nagoya.jp: b.nagoya.jp is a suffix
    ("b.nagoya.jp", ""),
    ("www.city.nagoya.jp", "city.nagoya.jp"),  # exception !city.nagoya.jp
    ("city.nagoya.jp", "city.nagoya.jp"),
]


def test_with_url_columns_rejects_temp_name_collision(spark):
    """A caller column named like one of the staged temporaries must
    raise, not be overwritten and then dropped from the output."""
    from dataclass_array_spark.operators.url import with_url_columns

    df = spark.createDataFrame([("http://a.com/x", 7, 8)], "u string, __u_host long, __U_KEPT long")
    with pytest.raises(ValueError, match="__u_host"):
        with_url_columns(df, "u", host_col="h")
    with pytest.raises(ValueError, match="__U_KEPT"):
        with_url_columns(df.drop("__u_host"), "u", canon_col="c")
    # __u_kept is a canonical-form temporary only: the host form keeps it
    out = with_url_columns(df.drop("__u_host"), "u", host_col="h").collect()
    assert [(r["__U_KEPT"], r["h"]) for r in out] == [(8, "a.com")]


def test_psl_registrable_map_expected(spark):
    from dataclass_array_spark.operators.psl import host_registrable_map

    df = spark.createDataFrame([(h,) for h, _ in PSL_CASES], "host string")
    got = {r["host"]: r["domain"] for r in host_registrable_map(df).collect()}
    assert got == dict(PSL_CASES)


def test_psl_registrable_duckdb_parity(spark):
    """The oracle CTE chain replays the candidate/score pipeline
    stage-for-stage on the same rule snapshot."""
    from dataclass_array_spark.operators.psl import (
        host_registrable_map,
        registrable_sql_ctes,
    )

    df = spark.createDataFrame([(h,) for h, _ in PSL_CASES], "host string")
    got = {r["host"]: r["domain"] for r in host_registrable_map(df).collect()}
    vals = ", ".join(f"('{h}')" for h, _ in PSL_CASES)
    sql = (
        f"WITH h(host) AS (VALUES {vals}), {registrable_sql_ctes('h')} "
        "SELECT host, domain FROM psl_map"
    )
    assert dict(duckdb.sql(sql).fetchall()) == got


def test_psl_rules_are_broadcast_joined(spark):
    """Plan shape: the rules side is bounded by construction, so the
    suffix join must be a BroadcastHashJoin with no corpus-side
    exchange beyond the per-host aggregate; no Python in the plan."""
    import io
    from contextlib import redirect_stdout

    from dataclass_array_spark.operators.psl import host_registrable_map

    hosts = spark.range(200).select(
        F.concat(F.lit("h"), F.col("id") % 50, F.lit(".example.co.uk")).alias("host")
    ).distinct()
    out = host_registrable_map(hosts)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    p = buf.getvalue()
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p and "MapInArrow" not in p


def test_psl_parse_full_file_format():
    """parse_psl_rules accepts the published publicsuffix.org file
    format (comments, blanks, exceptions, wildcards)."""
    from dataclass_array_spark.operators.psl import parse_psl_rules

    lines = [
        "// ===BEGIN ICANN DOMAINS===",
        "",
        "com",
        "co.uk",
        "*.ck",
        "!www.ck",
        "  k12.ca.us  ",
    ]
    assert parse_psl_rules(lines) == [
        ("com", 1, 0),
        ("co.uk", 2, 0),
        ("*.ck", 2, 0),
        ("www.ck", 2, 1),
        ("k12.ca.us", 3, 0),
    ]


def test_dedup_urls_collapses_variants(spark):
    from dataclass_array_spark.operators.url import dedup_urls

    df = spark.createDataFrame(
        [
            (1, "HTTP://X.com:80/a?utm_source=s"),
            (2, "http://x.com/a"),
            (3, "http://x.com/a#frag"),
            (4, "http://x.com/b"),
        ],
        "id long, url string",
    )
    got = {
        r["canon_url"]: (r["rep_id"], r["n_dups"])
        for r in dedup_urls(df, "url", "id").collect()
    }
    assert got == {"http://x.com/a": (1, 3), "http://x.com/b": (4, 1)}


def test_dedup_urls_string_ids_keep_type(spark):
    """Regression (r12 advice): rep_id keeps the id column's own type —
    a string id must NOT silently cast to NULL."""
    from dataclass_array_spark.operators.url import dedup_urls

    df = spark.createDataFrame(
        [("b", "http://x.com/a"), ("a", "http://x.com/a#f")],
        "id string, url string",
    )
    out = dedup_urls(df, "url", "id")
    assert dict(out.dtypes)["rep_id"] == "string"
    rows = out.collect()
    assert [(r["canon_url"], r["rep_id"], r["n_dups"]) for r in rows] == [
        ("http://x.com/a", "a", 2)
    ]


def test_dedup_urls_plan_is_single_agg_no_python(spark):
    import io
    from contextlib import redirect_stdout

    from dataclass_array_spark.operators.url import dedup_urls

    df = spark.range(100).select(
        F.col("id"), F.concat(F.lit("http://h.com/"), F.col("id") % 7).alias("url")
    )
    out = dedup_urls(df, "url", "id")
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    p = buf.getvalue()
    assert "BatchEvalPython" not in p and "MapInPandas" not in p and "MapInArrow" not in p
    assert "Join" not in p  # canonical form is in-scan, not a lookup


def test_canonicalize_idempotent_hypothesis(spark):
    """canonicalize(canonicalize(x)) == canonicalize(x) — the defining
    canonicalizer property, fuzzed over URL-shaped and garbage inputs
    including %-escapes and dot segments (one Spark pass over the whole
    generated batch).  Dot-segment depth stays under the fixed pass
    cap, where idempotency is exact by construction."""
    from hypothesis import given, settings, strategies as st

    from dataclass_array_spark.operators.url import canonicalize_url

    scheme = st.sampled_from(["http", "HTTP", "https", "ftp", "HtTpS"])
    host = st.from_regex(r"[A-Za-z0-9.\-]{1,20}", fullmatch=True)
    port = st.sampled_from(["", ":80", ":443", ":8080", ":0021"])
    seg = st.sampled_from(
        ["a", "bB", ".", "..", "...", "%41", "%2e", "%2E%2e", "%7e",
         "%2f", "%zz", "a%3", "x.y", ""]
    )
    path = st.lists(seg, min_size=0, max_size=5).map(
        lambda segs: "".join("/" + s for s in segs)
    )
    query = st.sampled_from(
        ["", "?a=1", "?utm_source=x", "?a=1&utm_medium=m&b=2", "?", "?&&a=1",
         "?gclid", "?%75tm_source=x&b=%3f", "?a=%2D"]
    )
    frag = st.sampled_from(["", "#f", "#a#b"])
    user = st.sampled_from(["", "u@", "u:p@"])
    url = st.builds(
        lambda s, u, h, po, pa, q, f: f"{s}://{u}{h}{po}{pa}{q}{f}",
        scheme, user, host, port, path, query, frag,
    )
    garbage = st.text(
        alphabet="ab:/?#@&=.% ", min_size=0, max_size=30
    )
    cases = st.lists(st.one_of(url, garbage), min_size=1, max_size=40)

    @settings(max_examples=12, deadline=None)
    @given(cases)
    def run(batch):
        df = spark.createDataFrame([(c,) for c in batch], "u string")
        once = df.select(F.col("u"), canonicalize_url(F.col("u")).alias("c1"))
        twice = once.select(
            "u", "c1", canonicalize_url(F.col("c1")).alias("c2")
        )
        bad = twice.filter(F.col("c1") != F.col("c2")).collect()
        assert not bad, [(r["u"], r["c1"], r["c2"]) for r in bad[:3]]

    run()


def test_canonicalize_spark_duckdb_fuzz_parity(spark):
    """Differential fuzz: Spark and the DuckDB mirror agree on
    arbitrary %-and-dot-heavy inputs, not just the curated cases."""
    from hypothesis import given, settings, strategies as st

    from dataclass_array_spark.operators.url import canon_sql, canonicalize_url

    raw = st.text(alphabet="aZ/.%2eE417~-_:?&=#", min_size=0, max_size=40)
    urlish = raw.map(lambda s: "http://Host.com" + ("/" + s if s else ""))
    cases = st.lists(st.one_of(raw, urlish), min_size=1, max_size=40)

    @settings(max_examples=10, deadline=None)
    @given(cases)
    def run(batch):
        df = spark.createDataFrame([(c,) for c in batch], "u string")
        got = [
            r["c"]
            for r in df.select(canonicalize_url(F.col("u")).alias("c")).collect()
        ]
        vals = ", ".join("(" + repr(c).replace('"', "'") + ")" for c in batch)
        want = [
            r[0]
            for r in duckdb.sql(
                f"SELECT {canon_sql('u')} FROM (VALUES {vals}) t(u)"
            ).fetchall()
        ]
        assert got == want

    run()


def _sql_str(c: str) -> str:
    """Proper SQL standard-string literal (embedded newlines stay raw;
    quotes doubled) — repr() would turn \\n into a backslash-n."""
    return "'" + c.replace("'", "''") + "'"


def test_canonicalize_newline_parity(spark):
    """Round-13 review fix: Java's '$' matches before a FINAL line
    terminator, RE2's does not — end anchors must be '\\z' in both
    engines or a crawl URL ending in a newline canonicalizes
    differently per engine.  Curated newline cases + a newline-heavy
    differential fuzz."""
    from hypothesis import given, settings, strategies as st

    from dataclass_array_spark.operators.url import canon_sql, canonicalize_url

    def both(batch):
        df = spark.createDataFrame([(c,) for c in batch], "u string")
        got = [
            r["c"]
            for r in df.select(canonicalize_url(F.col("u")).alias("c")).collect()
        ]
        vals = ", ".join(f"({_sql_str(c)})" for c in batch)
        want = [
            r[0]
            for r in duckdb.sql(
                f"SELECT {canon_sql('u')} FROM (VALUES {vals}) t(u)"
            ).fetchall()
        ]
        return got, want

    curated = [
        "http://x.com/a/..\n",          # the review's exact divergence
        "http://x.com/a/.\n",
        "http://x.com/?gclid\n",
        "http://x.com:80\n",
        "http://x.com/p?q=1\n",
        "http://x.com/%41\n",
        "b.example.co.uk\n",
    ]
    got, want = both(curated)
    assert got == want, list(zip(curated, got, want))

    raw = st.text(alphabet="a/.%41:?&=#\n", min_size=0, max_size=30)
    urlish = raw.map(lambda s: "http://x.com" + ("/" + s if s else ""))
    cases = st.lists(st.one_of(raw, urlish), min_size=1, max_size=30)

    @settings(max_examples=10, deadline=None)
    @given(cases)
    def run(batch):
        got, want = both(batch)
        assert got == want, [
            (b, g, w) for b, g, w in zip(batch, got, want) if g != w
        ][:3]

    run()


def test_psl_custom_rules_derive_max_labels(spark):
    """Round-13 review fix: with a CUSTOM rules_df, max_rule_labels
    must derive from the rules actually supplied — defaulting from the
    snapshot (max 3 labels) silently never matched deeper rules."""
    from dataclass_array_spark.operators.psl import (
        host_registrable_map,
        psl_rules_df,
    )

    rules = psl_rules_df(spark, ["a.b.c.d", "com"])  # a 4-label rule
    hosts = spark.createDataFrame(
        [("x.a.b.c.d",), ("y.x.a.b.c.d",), ("e.com",)], "host string"
    )
    got = {
        r["host"]: r["domain"]
        for r in host_registrable_map(hosts, "host", rules_df=rules).collect()
    }
    # the 4-label suffix must match: registrable = one label more
    assert got["x.a.b.c.d"] == "x.a.b.c.d"
    assert got["y.x.a.b.c.d"] == "x.a.b.c.d"
    assert got["e.com"] == "e.com"

    import pytest as _pytest

    empty = psl_rules_df(spark, [])
    with _pytest.raises(ValueError, match="rules_df is empty"):
        host_registrable_map(hosts, "host", rules_df=empty)


def test_psl_rules_df_default_snapshot_cached_per_session(spark):
    """Round-14: repeated gates must not re-parse/re-create the default
    rules frame — same object back on the second call; explicit rules
    stay uncached."""
    from dataclass_array_spark.operators.psl import PSL_SNAPSHOT, psl_rules_df

    a = psl_rules_df(spark)
    b = psl_rules_df(spark)
    assert a is b
    c = psl_rules_df(spark, list(PSL_SNAPSHOT))
    assert c is not a
    assert sorted(map(tuple, c.collect())) == sorted(map(tuple, a.collect()))


def test_load_psl_file_sections(tmp_path):
    """load_psl_file must honor the published file's section markers
    (ICANN vs PRIVATE) and compose with parse_psl_rules."""
    from dataclass_array_spark.operators.psl import (
        load_psl_file,
        parse_psl_rules,
    )

    p = tmp_path / "public_suffix_list.dat"
    p.write_text(
        "// comment preamble\n"
        "// ===BEGIN ICANN DOMAINS===\n"
        "com\n"
        "co.uk\n"
        "*.nagoya.jp\n"
        "!city.nagoya.jp\n"
        "// ===END ICANN DOMAINS===\n"
        "// ===BEGIN PRIVATE DOMAINS===\n"
        "*.github.io\n"
        "// ===END PRIVATE DOMAINS===\n",
        encoding="utf-8",
    )
    icann = parse_psl_rules(load_psl_file(str(p)))
    assert ("co.uk", 2, 0) in icann
    assert ("city.nagoya.jp", 3, 1) in icann
    assert all(k != "*.github.io" for k, _, _ in icann)
    both = parse_psl_rules(load_psl_file(str(p), section=None))
    assert ("*.github.io", 3, 0) in both

    import pytest

    with pytest.raises(ValueError, match="no rules"):
        load_psl_file(str(p), section="NOPE")
