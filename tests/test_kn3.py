"""Trigram interpolated Kneser-Ney + the decimal(38)-wide exact ln
(``text.kneser_ney3_xent_scores``, ``text.ln_exact_dec``)."""

import math
import struct
from collections import Counter, defaultdict
from fractions import Fraction

import duckdb
import pytest
from pyspark.sql import functions as F

from dataclass_array_spark.operators.text import (
    checked_dec38,
    kneser_ney3_xent_scores,
    ln_exact_dec,
    sql_ln_exact_dec_ctes,
)

_D = Fraction(3, 4)


def _kn3_tables(docs):
    """Exact count tables from a list of (id, text) docs."""
    tris = {}
    c3 = Counter()
    for did, t in docs:
        toks = t.split()
        tl = list(zip(toks, toks[1:], toks[2:]))
        tris[did] = tl
        c3.update(tl)
    b12, n1 = Counter(), Counter()
    t23 = set()
    for (w1, w2, w3), c in c3.items():
        b12[(w1, w2)] += c
        n1[(w1, w2)] += 1
        t23.add((w2, w3))
    n23 = Counter((w2, w3) for (w1, w2, w3) in c3)
    ee = Counter(w2 for (w1, w2, w3) in c3)
    nn2 = Counter(w2 for (w2, w3) in t23)
    mm = Counter(w3 for (w2, w3) in t23)
    T = len(t23)
    return tris, c3, b12, n1, n23, ee, nn2, mm, T


def _p_kn3(tri, c3, b12, n1, n23, ee, nn2, mm, T):
    """Exact-Fraction interpolated trigram KN probability (with the
    max(·-D,0) clamps, so it is defined for unseen events too)."""
    w1, w2, w3 = tri
    p2 = (
        max(Fraction(n23[(w2, w3)]) - _D, Fraction(0)) / ee[w2]
        + (_D * nn2[w2] / ee[w2]) * Fraction(mm[w3], T)
    )
    return (
        max(Fraction(c3[tri]) - _D, Fraction(0)) / b12[(w1, w2)]
        + (_D * n1[(w1, w2)] / b12[(w1, w2)]) * p2
    )


def test_kn3_matches_fraction_reference(spark):
    docs = [
        ("d1", "a b a b c a b"),
        ("d2", "a b c c b a"),
        ("d3", "b a c"),
        ("d4", "x y"),  # no trigrams
        ("d5", ""),  # empty
        ("d6", "c c c c"),
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    got = {
        r["doc_id"]: (r["n_trigrams"], r["xent_nats"])
        for r in kneser_ney3_xent_scores(df, "text", "doc_id").collect()
    }
    tabs = _kn3_tables(docs)
    tris = tabs[0]
    for did, tl in tris.items():
        assert got[did][0] == len(tl), did
        if not tl:
            assert got[did][1] == 0.0
            continue
        want = sum(-math.log(_p_kn3(tr, *tabs[1:])) for tr in tl) / len(tl)
        assert got[did][1] == pytest.approx(want, rel=1e-9), did


def test_kn3_distribution_sums_to_one_exactly():
    """Both interpolation levels telescope: Σ_w3 p(w3|w1,w2) == 1 as
    exact Fractions over the continuation vocabulary, for every
    observed prefix."""
    docs = [("d1", "a b a b c a b x"), ("d2", "a b c c b a b a")]
    tabs = _kn3_tables(docs)
    _, c3, b12, n1, n23, ee, nn2, mm, T = tabs
    cont_vocab = set(mm)
    for (w1, w2) in b12:
        tot = sum(
            _p_kn3((w1, w2, w3), c3, b12, n1, n23, ee, nn2, mm, T)
            for w3 in cont_vocab
        )
        assert tot == 1, (w1, w2, tot)


def test_ln_exact_dec_bitwise_matches_duckdb(spark):
    """Spark ln_exact_dec and its DuckDB CTE mirror must agree
    BIT-FOR-BIT across the full decimal(38) domain, including every
    split boundary (2^62, 2^124) — and stay within 1e-11 of libm."""
    import random

    random.seed(13)
    vals = [
        1, 2, 3, 7,
        (1 << 62) - 1, 1 << 62, (1 << 62) + 1,
        (1 << 63) - 1, 1 << 63,
        (1 << 124) - 1, 1 << 124, (1 << 124) + 1,
        10**38 - 1, 10**19, 10**30 + 12345,
    ]
    vals += [random.randrange(1, 10**38) for _ in range(40)]
    vals += [random.randrange(1, 2**62) for _ in range(20)]
    df = spark.createDataFrame(
        [(str(v),) for v in vals], "ns string"
    ).select("ns", F.col("ns").cast("decimal(38,0)").alias("n"))
    got = {
        r["ns"]: r["ln"]
        for r in df.select("ns", ln_exact_dec(F.col("n")).alias("ln")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (ns VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(str(v),) for v in vals])
    q = (
        "WITH src AS (SELECT ns, CAST(ns AS HUGEINT) AS n FROM t),\n"
        + sql_ln_exact_dec_ctes("src", "ns", "n", "lnout")
        + "\nSELECT ns, ln FROM lnout"
    )
    want = {r[0]: r[1] for r in con.sql(q).fetchall()}
    for v in vals:
        a, b = got[str(v)], want[str(v)]
        assert struct.pack("<d", a) == struct.pack("<d", b), (v, a, b)
        lv = math.log(v)
        assert abs(a - lv) <= 1e-11 * max(1.0, abs(lv)), (v, a, lv)


def test_checked_dec38_guard_fires_on_overflow(spark):
    """A decimal(38,0) product that overflows (Spark -> NULL) must
    raise the loud kneser_ney3 message, never propagate NULL."""
    df = spark.createDataFrame([("99999999999999999999999999999999999999",)], "s string")
    big = F.col("s").cast("decimal(38,0)")
    with pytest.raises(Exception, match="exceeds decimal"):
        df.select(checked_dec38(big * big, "numerator")).collect()


def test_kn3_lm_joins_unhinted(spark):
    """All trigram-LM join-backs are corpus-derived and must stay
    UNHINTED (the round-12 vocab-join rule): with the auto threshold
    disabled, no BroadcastHashJoin survives (the 1-row T rides a
    BroadcastNestedLoopJoin, which is allowed), and the plan stays
    JVM-side."""
    import io
    from contextlib import redirect_stdout

    from tests.test_plans import _no_broadcast_conf

    from dataclass_array_spark.operators.text import (
        kneser_ney3_xent_scores_heldout,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    with _no_broadcast_conf(spark):
        for out in (
            kneser_ney3_xent_scores(d, "text", "doc_id"),
            kneser_ney3_xent_scores_heldout(
                d.filter(F.col("lang") == "en"), d, "text", "doc_id"
            ),
        ):
            buf = io.StringIO()
            with redirect_stdout(buf):
                out.explain("formatted")
            p = buf.getvalue()
            assert "BroadcastHashJoin" not in p, p
            for marker in (
                "BatchEvalPython", "ArrowEvalPython", "PythonUDF", "MapInPandas",
                "MapInArrow",
            ):
                assert marker not in p, marker


def _p_kn3_heldout(tri, c3, b12, n1, n23, ee, nn2, mm, T):
    """Exact-Fraction held-out trigram KN probability + branch tag."""
    w1, w2, w3 = tri

    def p2():
        if (w2, w3) in n23:
            return (
                (Fraction(n23[(w2, w3)]) - _D) / ee[w2]
                + (_D * nn2[w2] / ee[w2]) * Fraction(mm[w3], T),
                "a",
            )
        if w2 in ee:
            return (
                (_D * nn2[w2] / ee[w2]) * Fraction(max(mm.get(w3, 0), 1), T),
                "b",
            )
        return Fraction(max(mm.get(w3, 0), 1), T), "c"

    p2v, sub = p2()
    if tri in c3:
        pref = (w1, w2)
        return (
            (Fraction(c3[tri]) - _D) / b12[pref]
            + (_D * n1[pref] / b12[pref]) * p2v,
            "1a",
        )
    if (w1, w2) in b12:
        pref = (w1, w2)
        return (_D * n1[pref] / b12[pref]) * p2v, "1b" + sub
    return p2v, "2" + sub


def test_kn3_heldout_matches_fraction_reference_all_branches(spark):
    """Held-out trigram KN must match the exact-Fraction reference on
    a fixture that exercises EVERY branch of the backoff recursion."""
    from dataclass_array_spark.operators.text import (
        kneser_ney3_xent_scores_heldout,
    )

    train = [
        ("t1", "a b c"),
        ("t2", "x b d x b d"),
        ("t3", "e f c"),
    ]
    score = [
        ("s1", "a b c"),          # 1a seen trigram
        ("s2", "a b d"),          # 1b-a: seen prefix, seen (w2,w3)
        ("s3", "a b zzz"),        # 1b-b OOV w3 (floor fires)
        ("s4", "x b c"),          # 1b-a via the x-prefix
        ("s5", "q b c"),          # 2a: unseen prefix, seen (w2,w3)
        ("s6", "q b qq"),         # 2b: unseen prefix, seen w2, OOV w3
        ("s7", "q zz c"),         # 2c: unseen w2, seen w3
        ("s8", "q zz qq"),        # 2c: unseen w2, OOV w3
        ("s9", "a b"),            # no trigrams
    ]
    tdf = spark.createDataFrame(train, "doc_id string, text string")
    sdf = spark.createDataFrame(score, "doc_id string, text string")
    got = {
        r["doc_id"]: (r["n_trigrams"], r["xent_nats"])
        for r in kneser_ney3_xent_scores_heldout(
            tdf, sdf, "text", "doc_id"
        ).collect()
    }
    tabs = _kn3_tables(train)[1:]
    seen_branches = set()
    for did, t in score:
        toks = t.split()
        tl = list(zip(toks, toks[1:], toks[2:]))
        assert got[did][0] == len(tl), did
        if not tl:
            assert got[did][1] == 0.0
            continue
        s = 0.0
        for tr in tl:
            p, br = _p_kn3_heldout(tr, *tabs)
            seen_branches.add(br)
            s += -math.log(p)
        assert got[did][1] == pytest.approx(s / len(tl), rel=1e-9), did
    # 1b-b with a SEEN w3 needs a w3 that continues some other w2 but
    # not this one; covered by s3/s6's OOV cousins plus the set below
    assert {"1a", "1ba", "1bb", "2a", "2b", "2c"} <= seen_branches, (
        seen_branches
    )


def test_kn3_heldout_self_scoring_equivalence(spark):
    """train == score must reproduce the self-scoring operator
    BIT-FOR-BIT (branch 1a is the identical fused formulation)."""
    from dataclass_array_spark.operators.text import (
        kneser_ney3_xent_scores,
        kneser_ney3_xent_scores_heldout,
    )

    docs = [
        ("d1", "a b a b c a b"),
        ("d2", "a b c c b a"),
        ("d3", "b a c"),
        ("d4", "x y"),
        ("d5", ""),
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    self_rows = {
        r["doc_id"]: (r["n_trigrams"], r["xent_nats"])
        for r in kneser_ney3_xent_scores(df, "text", "doc_id").collect()
    }
    held_rows = {
        r["doc_id"]: (r["n_trigrams"], r["xent_nats"])
        for r in kneser_ney3_xent_scores_heldout(
            df, df, "text", "doc_id"
        ).collect()
    }
    for did in self_rows:
        assert self_rows[did][0] == held_rows[did][0]
        assert struct.pack("<d", self_rows[did][1]) == struct.pack(
            "<d", held_rows[did][1]
        ), did


def test_kn3_heldout_empty_train_raises(spark):
    from dataclass_array_spark.operators.text import (
        kneser_ney3_xent_scores_heldout,
    )

    tdf = spark.createDataFrame([("t1", "a b")], "doc_id string, text string")
    sdf = spark.createDataFrame([("s1", "a b c")], "doc_id string, text string")
    with pytest.raises(Exception, match="empty training corpus"):
        kneser_ney3_xent_scores_heldout(tdf, sdf, "text", "doc_id").collect()


def test_exp_exact_bitwise_matches_duckdb(spark):
    """Spark exp_exact and its DuckDB CTE mirror must agree
    BIT-FOR-BIT across the domain (|x| <= 62*ln2), and stay within
    1e-13 of libm exp."""
    import random

    from dataclass_array_spark.operators.text import (
        exp_exact,
        sql_exp_exact_ctes,
    )

    random.seed(29)
    vals = [0.0, 1.0, -1.0, 0.5, -0.5, 0.34657359027997264,
            -0.34657359027997264, 42.9, -42.9, 2.302585092994046,
            15.3, -15.3, 85.9, -85.9, 60.0, -60.0]
    vals += [random.uniform(-85.9, 85.9) for _ in range(60)]
    vals += [random.uniform(-1.0, 1.0) for _ in range(20)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, x double"
    )
    got = {
        r["i"]: r["ex"]
        for r in df.select("i", exp_exact(F.col("x")).alias("ex")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, x DOUBLE)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)", [(i, v) for i, v in enumerate(vals)]
    )
    q = (
        "WITH "
        + sql_exp_exact_ctes("t", "i", "x", "expd")
        + "\nSELECT i, ex FROM expd"
    )
    want = {r[0]: r[1] for r in con.sql(q).fetchall()}
    for i, v in enumerate(vals):
        a, b = got[i], want[i]
        assert struct.pack("<d", a) == struct.pack("<d", b), (v, a, b)
        ev = math.exp(v)
        assert abs(a - ev) <= 1e-13 * ev, (v, a, ev)


def test_exp_exact_domain_guard_fires(spark):
    from dataclass_array_spark.operators.text import exp_exact

    df = spark.createDataFrame([(90.0,)], "x double")
    with pytest.raises(Exception, match="exceeds 124"):
        df.select(exp_exact(F.col("x"))).collect()


def test_exp_exact_inverts_ln_exact(spark):
    """exp_exact(ln_exact(n)) recovers n to ~1 ulp relative for
    integer n across the BIGINT range."""
    from dataclass_array_spark.operators.text import exp_exact, ln_exact

    ns = [1, 2, 3, 1000, 12345678, 10**12, (1 << 62) - 1]
    df = spark.createDataFrame([(n,) for n in ns], "n long")
    out = {
        r["n"]: r["e"]
        for r in df.select(
            "n", exp_exact(ln_exact(F.col("n"))).alias("e")
        ).collect()
    }
    for n in ns:
        assert abs(out[n] - n) <= 1e-12 * n, (n, out[n])


def test_exp_ln_cte_aliases_survive_hostile_key_names():
    """Regression (review finding): a caller key column named 'k' (or
    'm'/'z'/'e') must not shadow the CTE builders' internals — that
    silently corrupted values AND bypassed the exp domain guard before
    the __-prefix fix."""
    from dataclass_array_spark.operators.text import (
        sql_exp_exact_ctes,
        sql_ln_exact_ctes,
        sql_ln_exact_dec_ctes,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE t (k BIGINT, m BIGINT, x DOUBLE)")
    con.execute("INSERT INTO t VALUES (1000000, 7, -10.5)")
    q = (
        "WITH " + sql_exp_exact_ctes("t", "k, m", "x", "expd")
        + "\nSELECT ex FROM expd"
    )
    got = con.sql(q).fetchone()[0]
    assert got == pytest.approx(math.exp(-10.5), rel=1e-13), got
    # out-of-domain x must still raise even with a hostile key
    con.execute("CREATE TABLE t2 (k BIGINT, x DOUBLE)")
    con.execute("INSERT INTO t2 VALUES (0, 90.0)")
    q2 = (
        "WITH " + sql_exp_exact_ctes("t2", "k", "x", "expd")
        + "\nSELECT ex FROM expd"
    )
    with pytest.raises(Exception, match="exceeds 124"):
        con.sql(q2).fetchall()
    # ln chains: key columns named e/m/z/z2/a/b/c
    con.execute("CREATE TABLE t3 (e BIGINT, m BIGINT, z BIGINT, n BIGINT)")
    con.execute("INSERT INTO t3 VALUES (9, 9, 9, 1000)")
    for builder in (sql_ln_exact_ctes, sql_ln_exact_dec_ctes):
        q3 = (
            "WITH " + builder("t3", "e, m, z", "n", "lnd")
            + "\nSELECT ln FROM lnd"
        )
        got = con.sql(q3).fetchone()[0]
        assert got == pytest.approx(math.log(1000), rel=1e-13), (builder, got)


def test_sql_exp_exact_ctes_compound_x_expression(spark):
    """Regression (round-14 ADVICE): a COMPOUND caller expression like
    ``a - b`` must keep its precedence at both interpolation sites —
    unparenthesized, ``a - b / ln2`` bound the division first, silently
    corrupting k (and through it the whole result)."""
    from dataclass_array_spark.operators.text import (
        exp_exact,
        sql_exp_exact_ctes,
    )

    pairs = [(3.5, 1.25), (-2.0, 7.75), (10.0, 0.5), (0.0, 0.0)]
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "i long, a double, b double",
    )
    got = {
        r["i"]: r["ex"]
        for r in df.select(
            "i", exp_exact(F.col("a") - F.col("b")).alias("ex")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, a DOUBLE, b DOUBLE)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?, ?)",
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
    )
    q = (
        "WITH "
        + sql_exp_exact_ctes("t", "i", "a - b", "expd")
        + "\nSELECT i, ex FROM expd"
    )
    want = {r[0]: r[1] for r in con.sql(q).fetchall()}
    for i, (a, b) in enumerate(pairs):
        assert struct.pack("<d", got[i]) == struct.pack("<d", want[i]), (
            a, b, got[i], want[i],
        )
        ev = math.exp(a - b)
        assert abs(got[i] - ev) <= 1e-13 * max(ev, 1.0), (a, b, got[i], ev)
