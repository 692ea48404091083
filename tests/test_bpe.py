"""BPE tokenizer training/encoding: differential tests against a
straight-line Python implementation of the public Sennrich
learn_bpe/apply_bpe semantics (count overlapping pairs weighted by word
frequency; merge = leftmost-greedy non-overlapping replacement applied
in rank order), plus edge cases."""

import collections
import json
import re

import pytest
from pyspark.sql import functions as F


def _py_tokens(t):
    return [w for w in re.split(r"\s+", t.strip().lower()) if w]


def _py_bpe_train(word_counts, num_merges, min_count):
    vocab = {w: list(w) for w in word_counts}
    merges = []
    for rank in range(num_merges):
        pairs = collections.Counter()
        for w, c in word_counts.items():
            seq = vocab[w]
            for i in range(len(seq) - 1):
                pairs[(seq[i], seq[i + 1])] += c
        cand = [(c, l, r) for (l, r), c in pairs.items() if c >= min_count]
        if not cand:
            break
        _, l, r = sorted(cand, key=lambda t: (-t[0], t[1], t[2]))[0]
        merges.append((rank, l, r))
        for w in vocab:
            seq = vocab[w]
            out, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == l and seq[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


def test_bpe_matches_python_reference(spark, sf_dir):
    from dataclass_array_spark.operators.bpe import bpe_encode, bpe_train

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    rows = docs.select("doc_id", "text").collect()
    wc = collections.Counter()
    for r in rows:
        wc.update(_py_tokens(r["text"]))
    merges, vocab = _py_bpe_train(wc, 10, 2)

    m = bpe_train(docs, "text", 10, min_count=2)
    got = [
        (r["merge_rank"], r["left_sym"], r["right_sym"])
        for r in m.orderBy("merge_rank").collect()
    ]
    assert got == merges

    enc = {
        r["doc_id"]: (r["n_bpe_tokens"], r["toks_json"])
        for r in bpe_encode(docs, "text", "doc_id", m).collect()
    }
    for r in rows:
        toks = []
        for w in _py_tokens(r["text"]):
            toks += vocab[w]
        assert enc[r["doc_id"]] == (
            len(toks),
            json.dumps(toks, separators=(",", ":")),
        ), r["doc_id"]


def test_bpe_early_exhaustion_and_edges(spark):
    from dataclass_array_spark.operators.bpe import bpe_encode, bpe_train

    # corpus exhausts after few merges: only "aa aa bb" repeats
    docs = spark.createDataFrame(
        [("d1", "aa aa bb"), ("d2", "aa bb"), ("d3", ""), ("d4", "x")],
        "doc_id string, text string",
    )
    m = bpe_train(docs, "text", 50, min_count=2)
    rows = [
        (r["merge_rank"], r["left_sym"], r["right_sym"])
        for r in m.orderBy("merge_rank").collect()
    ]
    # pairs: (a,a) freq 3, (b,b) freq 2 -> merge aa, then bb; exhausted
    assert rows == [(0, "a", "a"), (1, "b", "b")]

    enc = {
        r["doc_id"]: (r["n_bpe_tokens"], r["toks_json"])
        for r in bpe_encode(docs, "text", "doc_id", m).collect()
    }
    assert enc["d1"] == (3, '["aa","aa","bb"]')
    assert enc["d3"] == (0, "[]")   # empty doc
    assert enc["d4"] == (1, '["x"]')  # single unmerged char

    with pytest.raises(ValueError, match="num_merges"):
        bpe_train(docs, "text", 0)


def test_bpe_run_parity_left_equals_right(spark):
    """left == right runs must alternate (leftmost-greedy): 'aaaa' ->
    [aa, aa], 'aaaaa' -> [aa, aa, a] — the overlap case the windowed
    oracle resolves with run parity."""
    from dataclass_array_spark.operators.bpe import bpe_encode, bpe_train

    docs = spark.createDataFrame(
        [("d1", "aaaa aaaa"), ("d2", "aaaaa")], "doc_id string, text string"
    )
    m = bpe_train(docs, "text", 1, min_count=2)
    assert [(r["left_sym"], r["right_sym"]) for r in m.collect()] == [("a", "a")]
    enc = {
        r["doc_id"]: json.loads(r["toks_json"])
        for r in bpe_encode(docs, "text", "doc_id", m).collect()
    }
    assert enc["d1"] == ["aa", "aa", "aa", "aa"]
    assert enc["d2"] == ["aa", "aa", "a"]


def test_bpe_heldout_encode_unseen_segments(spark):
    """Encoding a corpus the merges were NOT trained on: words whose
    pairs never merged stay as finer (char-level) segments — BPE's
    no-OOV property at the character level."""
    from dataclass_array_spark.operators.bpe import bpe_encode, bpe_train

    train = spark.createDataFrame(
        [("t1", "aa aa ab")], "doc_id string, text string"
    )
    score = spark.createDataFrame(
        [("s1", "aab zz"), ("s2", "aaaa")], "doc_id string, text string"
    )
    m = bpe_train(train, "text", 3, min_count=2)
    assert [(r["left_sym"], r["right_sym"]) for r in
            m.orderBy("merge_rank").collect()] == [("a", "a")]
    enc = {
        r["doc_id"]: json.loads(r["toks_json"])
        for r in bpe_encode(score, "text", "doc_id", m).collect()
    }
    assert enc["s1"] == ["aa", "b", "z", "z"]   # unseen 'b'-pairing & 'z' pass through
    assert enc["s2"] == ["aa", "aa"]


def test_bpe_hypothesis_fuzz_vs_reference(spark):
    """Randomized corpora (small alphabet → dense merge interactions,
    including left==right runs and ties): Spark train+encode must
    match the Python reference token-for-token."""
    from hypothesis import given, settings, strategies as st

    from dataclass_array_spark.operators.bpe import bpe_encode, bpe_train

    word = st.text(alphabet="abc", min_size=1, max_size=6)
    doc = st.lists(word, min_size=0, max_size=8).map(" ".join)
    corpus = st.lists(doc, min_size=1, max_size=6)

    @settings(max_examples=8, deadline=None)
    @given(corpus, st.integers(min_value=1, max_value=6))
    def run(texts, nm):
        docs = [(f"d{i}", t) for i, t in enumerate(texts)]
        wc = collections.Counter()
        for _, t in docs:
            wc.update(_py_tokens(t))
        merges, vocab = _py_bpe_train(wc, nm, 2)

        df = spark.createDataFrame(docs, "doc_id string, text string")
        m = bpe_train(df, "text", nm, min_count=2)
        got = [
            (r["merge_rank"], r["left_sym"], r["right_sym"])
            for r in m.orderBy("merge_rank").collect()
        ]
        assert got == merges, (texts, nm, got, merges)

        enc = {
            r["doc_id"]: json.loads(r["toks_json"])
            for r in bpe_encode(df, "text", "doc_id", m).collect()
        }
        for did, t in docs:
            want = []
            for w in _py_tokens(t):
                want += vocab[w]
            assert enc[did] == want, (did, t, enc[did], want)

    run()


def test_bpe_batched_equals_sequential_on_fixture(spark, sf_dir):
    """batch_pairs > 1 must learn the IDENTICAL merge table (the
    _best_pairs_batch proof, checked end-to-end on real documents),
    while taking fewer pair-count rounds."""
    from dataclass_array_spark.operators.bpe import bpe_train

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    seq = [
        (r["merge_rank"], r["left_sym"], r["right_sym"])
        for r in bpe_train(docs, "text", 16, min_count=2)
        .orderBy("merge_rank")
        .collect()
    ]
    assert len(seq) == 16
    for k in (4, 16):
        got = [
            (r["merge_rank"], r["left_sym"], r["right_sym"])
            for r in bpe_train(docs, "text", 16, min_count=2, batch_pairs=k)
            .orderBy("merge_rank")
            .collect()
        ]
        assert got == seq, (k, got, seq)


def test_bpe_batched_hypothesis_fuzz_equality(spark):
    """Randomized dense-conflict corpora (tiny alphabet → heavy symbol
    sharing, ties, left==right runs, chained merges): every batch size
    must reproduce the sequential ladder's merge table exactly — the
    adversarial regime for the conflict/tie rules (C* stop, strict->
    trailing-tie drop, occupied-set concat collisions)."""
    import collections

    from hypothesis import given, settings, strategies as st

    from dataclass_array_spark.operators.bpe import bpe_train

    word = st.text(alphabet="ab", min_size=1, max_size=8)
    doc = st.lists(word, min_size=0, max_size=8).map(" ".join)
    corpus = st.lists(doc, min_size=1, max_size=6)

    @settings(max_examples=6, deadline=None)
    @given(corpus, st.integers(min_value=2, max_value=8))
    def run(texts, nm):
        docs = [(f"d{i}", t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(docs, "doc_id string, text string")
        seq = [
            tuple(r)
            for r in bpe_train(df, "text", nm, min_count=2)
            .orderBy("merge_rank")
            .collect()
        ]
        for k in (2, nm):
            got = [
                tuple(r)
                for r in bpe_train(df, "text", nm, min_count=2, batch_pairs=k)
                .orderBy("merge_rank")
                .collect()
            ]
            assert got == seq, (texts, nm, k, got, seq)

    run()


def test_bpe_group_nonconflicting_runs():
    """The encode-side grouping: rank order preserved, groups are
    maximal consecutive conflict-free runs, chains ((a,b) then (ab,c))
    and concat collisions split."""
    from dataclass_array_spark.operators.bpe import _group_nonconflicting

    assert _group_nonconflicting([]) == []
    # disjoint → one group
    assert _group_nonconflicting([("a", "b"), ("c", "d")]) == [
        [("a", "b"), ("c", "d")]
    ]
    # chain: (a,b) then (ab,c) share 'ab'
    assert _group_nonconflicting([("a", "b"), ("ab", "c")]) == [
        [("a", "b")],
        [("ab", "c")],
    ]
    # shared right symbol
    assert _group_nonconflicting([("a", "b"), ("c", "b")]) == [
        [("a", "b")],
        [("c", "b")],
    ]
    # concat collision: (c,d) output 'cd' equals later left 'cd'
    assert _group_nonconflicting([("c", "d"), ("cd", "x"), ("p", "q")]) == [
        [("c", "d")],
        [("cd", "x"), ("p", "q")],
    ]
    # order is preserved within and across groups
    flat = [
        p
        for g in _group_nonconflicting(
            [("a", "b"), ("c", "d"), ("ab", "cd"), ("x", "y")]
        )
        for p in g
    ]
    assert flat == [("a", "b"), ("c", "d"), ("ab", "cd"), ("x", "y")]


def test_bpe_word_symbols_nonstring_wid_driver_path(spark):
    """Round-16 (advice): the driver path used to hardcode 'wid string',
    so a words table with an integer wid worked on the distributed path
    (implicit cast in _init_symbols) but raised on the driver path —
    both paths must accept identical inputs and agree."""
    import dataclass_array_spark.operators.bpe as B

    words = spark.createDataFrame([(12, 3), (7, 2)], "wid long, cnt long")
    seg = B.bpe_word_symbols(words, [])
    got = {r["wid"]: list(r["toks"]) for r in seg.collect()}
    assert got == {12: ["1", "2"], 7: ["7"]}
    assert seg.schema["wid"].dataType.simpleString() == "bigint"
