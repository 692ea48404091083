"""Operator unit tests on small in-memory frames: as-of join vs pandas
merge_asof, sessionize, top-k, dedup, similarity."""

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from dataclass_array_spark.operators.asof import asof_join
from dataclass_array_spark.operators.dedup import exact_dedup, minhash_lsh_pairs, simhash
from dataclass_array_spark.operators.sessionize import sessionize
from dataclass_array_spark.operators.similarity import brute_force_topk
from dataclass_array_spark.operators.topk import topk_per_group


def test_asof_matches_pandas(spark):
    left = pd.DataFrame(
        {"k": [1, 1, 1, 2, 2, 3], "lt": [10, 20, 30, 15, 5, 7], "lv": [1, 2, 3, 4, 5, 6]}
    )
    right = pd.DataFrame(
        {"k": [1, 1, 2, 2, 4], "rt": [5, 25, 10, 15, 1], "rv": [100, 200, 300, 400, 500]}
    )
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)
    out = (
        asof_join(ldf, rdf, on="k", left_ts="lt", right_ts="rt", right_payload=["rv"])
        .toPandas()
        .sort_values(["k", "lt"])
        .reset_index(drop=True)
    )
    exp = pd.merge_asof(
        left.sort_values("lt"), right.sort_values("rt"),
        left_on="lt", right_on="rt", by="k",
    ).sort_values(["k", "lt"]).reset_index(drop=True)
    assert out["asof_rv"].fillna(-1).tolist() == exp["rv"].fillna(-1).tolist()


def test_asof_strict_excludes_equal_ts(spark):
    ldf = spark.createDataFrame(pd.DataFrame({"k": [1], "lt": [10], "lv": [1]}))
    rdf = spark.createDataFrame(pd.DataFrame({"k": [1, 1], "rt": [10, 4], "rv": [99, 7]}))
    strict = asof_join(ldf, rdf, "k", "lt", "rt", ["rv"], strict=True).collect()[0]
    loose = asof_join(ldf, rdf, "k", "lt", "rt", ["rv"], strict=False).collect()[0]
    assert strict["asof_rv"] == 7
    assert loose["asof_rv"] == 99


def test_sessionize_gaps(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"u": [1] * 5 + [2] * 2, "t": [0, 10, 200, 205, 500, 3, 4], "i": range(7)})
    )
    out = sessionize(df, key="u", ts="t", gap=50, order_tiebreak="i").toPandas()
    out = out.sort_values(["u", "t"])
    assert out[out.u == 1]["session_id"].tolist() == [1, 1, 2, 2, 3]
    assert out[out.u == 2]["session_id"].tolist() == [1, 1]


def test_topk_per_group(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"g": ["a"] * 4 + ["b"] * 2, "v": [3, 1, 4, 1, 5, 9], "id": range(6)})
    )
    out = topk_per_group(df, ["g"], [F.desc("v"), F.asc("id")], k=2).toPandas()
    got = sorted(zip(out.g, out.v, out.rn))
    assert got == [("a", 3, 2), ("a", 4, 1), ("b", 5, 2), ("b", 9, 1)]


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2, 3, 4], "txt": ["Hello  World", "hello world", "x", "x"]})
    )
    out = exact_dedup(df, "txt", "id").toPandas()
    # normalization collapses case+whitespace → two groups of two
    assert sorted(out.n_docs.tolist()) == [2, 2]
    assert sorted(out.keep_id.tolist()) == [1, 3]


def test_minhash_finds_planted_neardup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    other = "completely different words about spark engines and parquet files here"
    df = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2, 3], "txt": [base, near, other]})
    )
    pairs = minhash_lsh_pairs(df, "txt", "id", threshold=0.3).toPandas()
    assert (1, 2) in set(zip(pairs.id_a, pairs.id_b))
    assert all(b != 3 and a != 3 for a, b in zip(pairs.id_a, pairs.id_b))


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [1, 2, 3],
                "txt": [
                    "alpha beta gamma delta epsilon zeta eta theta",
                    "alpha beta gamma delta epsilon zeta eta iota",
                    "one two three four five six seven eight",
                ],
            }
        )
    )
    out = {r["id"]: r["sh"] for r in df.select("id", simhash(F.col("txt")).alias("sh")).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(out[1], out[2]) < ham(out[1], out[3])


def test_brute_force_topk_matches_numpy(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(20, 8).astype(np.float32)
    pdf = pd.DataFrame({"id": range(20), "v": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf).select("id", F.col("v").cast("array<float>").alias("v"))
    q = df.filter(F.col("id") < 2)
    out = brute_force_topk(q, df, "id", "id", "v", k=3).toPandas()
    sims = vecs @ vecs.T / (
        np.linalg.norm(vecs, axis=1)[:, None] * np.linalg.norm(vecs, axis=1)[None, :]
    )
    for qid in (0, 1):
        s = sims[qid].copy()
        s[qid] = -np.inf
        exp = np.argsort(-s)[:3].tolist()
        got = out[out.qid == qid].sort_values("rank")["nid"].tolist()
        assert got == exp


def test_drop_near_duplicates(spark):
    import pandas as pd
    from dataclass_array_spark.operators.dedup import drop_near_duplicates

    df = spark.createDataFrame(pd.DataFrame({"id": [1, 2, 3, 4, 5]}))
    pairs = spark.createDataFrame(pd.DataFrame({"id_a": [1, 2], "id_b": [3, 5]}))
    kept = sorted(r["id"] for r in drop_near_duplicates(df, pairs, "id").collect())
    assert kept == [1, 2, 4]


def test_ivf_topk_recall(spark):
    import pandas as pd
    from dataclass_array_spark.operators.similarity import brute_force_topk, ivf_topk

    rng = np.random.RandomState(11)
    vecs = rng.randn(100, 8).astype(np.float32)
    pdf = pd.DataFrame({"id": range(100), "v": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf).select("id", F.col("v").cast("array<float>").alias("v"))
    q = df.filter(F.col("id") < 3)
    exact = brute_force_topk(q, df, "id", "id", "v", k=3).toPandas()
    approx = ivf_topk(q, df, "id", "id", "v", n_centroids=8, nprobe=4, k=3).toPandas()
    # with nprobe=half the cells, recall@3 should be substantial
    hits = 0
    for qid in range(3):
        e = set(exact[exact.qid == qid].nid)
        a = set(approx[approx.qid == qid].nid)
        hits += len(e & a)
    assert hits >= 4  # >= ~50% recall on random data with nprobe=4/8


def test_knn_join_full_probe_equals_brute_force(spark):
    """With nprobe = n_centroids every left row probes every cell, the
    candidate set is the ENTIRE right side, and knn_join must equal
    brute_force_topk exactly (ids, ranks, and cosine values) — the
    large×large partitioned-join path differentially tested against the
    broadcast path."""
    import pandas as pd
    from dataclass_array_spark.operators.similarity import brute_force_topk, knn_join

    rng = np.random.RandomState(23)
    vecs = rng.randn(60, 8).astype(np.float32)
    pdf = pd.DataFrame({"id": range(60), "v": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf).select("id", F.col("v").cast("array<float>").alias("v"))
    exact = brute_force_topk(df, df, "id", "id", "v", k=3).toPandas()
    joined = knn_join(
        df, df, "id", "id", "v", n_centroids=4, nprobe=4, k=3, exclude_self=True
    ).toPandas()
    pd.testing.assert_frame_equal(
        exact.reset_index(drop=True), joined.reset_index(drop=True)
    )


def test_knn_join_kmeans_full_probe_equals_brute_force(spark):
    """centroids="kmeans" only changes WHICH cells exist, never the
    scoring: under full probe the result must still equal
    brute_force_topk exactly, trained centroids or not."""
    import pandas as pd
    from dataclass_array_spark.operators.similarity import brute_force_topk, knn_join

    rng = np.random.RandomState(47)
    vecs = rng.randn(60, 8).astype(np.float32)
    pdf = pd.DataFrame({"id": range(60), "v": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf).select("id", F.col("v").cast("array<float>").alias("v"))
    exact = brute_force_topk(df, df, "id", "id", "v", k=3).toPandas()
    joined = knn_join(
        df, df, "id", "id", "v", n_centroids=4, nprobe=4, k=3, exclude_self=True,
        centroids="kmeans", kmeans_iters=2,
    ).toPandas()
    pd.testing.assert_frame_equal(
        exact.reset_index(drop=True), joined.reset_index(drop=True)
    )


def _fold(terms):
    """Sequential left fold of IEEE doubles from +0.0 in index order —
    the order of Spark ``aggregate`` and DuckDB ``list_reduce``, so it
    reproduces every engine fold and numpy kernel bit for bit."""
    acc = 0.0
    for t in terms:
        acc += t
    return acc


def _ref_cosine(a, b, an2, bn2):
    return _fold(x * y for x, y in zip(a, b)) / (math.sqrt(an2) * math.sqrt(bn2))


def _ref_cells(v, cents, nprobe):
    """The ``nprobe`` best cells of ``v``: cosine DESC, lower cent_id on ties."""
    vn2 = _fold(x * x for x in v)
    ranked = sorted(
        (-_ref_cosine(v, cv, vn2, cn2), cid) for cid, cv, cn2 in cents
    )
    return [cid for _, cid in ranked[:nprobe]]


def _ref_ivf(vecs, qids, n_centroids, nprobe, k, cap=None):
    """Pure-Python IVF top-k over ``{id: vector}`` with self-pairs
    excluded: centroids are the first ``n_centroids`` ids, corpus rows
    sit in their best cell (keeping the ``cap`` lowest ids per cell),
    each query scans its ``nprobe`` best cells, ranked by
    ``(cosine DESC, nid ASC)``.  Rows are ``(qid, rank, nid, cosine)``."""
    ids = sorted(vecs)
    n2 = {i: _fold(x * x for x in vecs[i]) for i in ids}
    cents = [(i, vecs[i], n2[i]) for i in ids[:n_centroids]]
    cells = {}
    for i in ids:
        cells.setdefault(_ref_cells(vecs[i], cents, 1)[0], []).append(i)
    rows = []
    for q in sorted(qids):
        cands = sorted(
            (-_ref_cosine(vecs[q], vecs[n], n2[q], n2[n]), n)
            for c in _ref_cells(vecs[q], cents, nprobe)
            for n in cells.get(c, [])[:cap]
            if n != q
        )
        rows += [(q, r + 1, n, -neg) for r, (neg, n) in enumerate(cands[:k])]
    return rows


def _assert_rows_equal(out, rows):
    """``out`` (a pandas frame) equals ``rows`` in order, with raw
    double equality on every float column."""
    exp = pd.DataFrame(rows, columns=out.columns).astype(out.dtypes.to_dict())
    pd.testing.assert_frame_equal(out.reset_index(drop=True), exp)
    assert list(out.itertuples(index=False, name=None)) == rows


def test_assign_cells_udf_matches_expression(spark):
    """The Arrow numpy cell probe must pick exactly the cells a
    pure-Python sequential fold ranks first (cosine DESC, lower-cid
    tie-break) for both nprobe=1 and nprobe>1."""
    from dataclass_array_spark.operators.similarity import assign_cells, norm2

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = (
        e.orderBy("vec_id").limit(8)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").cast("array<double>").alias("cent_v"),
            norm2(F.col("embedding")).alias("cent_n2"),
        )
        .collect()
    )
    ref_cents = [(r["cent_id"], list(r["cent_v"]), r["cent_n2"]) for r in cents]
    vecs = [(r["vec_id"], list(r["embedding"])) for r in e.collect()]
    for nprobe in (1, 3):
        want = sorted(
            (i, c) for i, v in vecs for c in _ref_cells(v, ref_cents, nprobe)
        )
        udf = assign_cells(e, "vec_id", "embedding", cents, nprobe=nprobe)
        udf_rows = sorted((r["__id"], r["cell"]) for r in udf.collect())
        assert udf_rows == want, f"nprobe={nprobe}"


def test_ivf_nprobe_below_one_raises(spark):
    """nprobe < 1 is rejected by every IVF operator instead of being
    read as 1 or as an empty probe."""
    from dataclass_array_spark.operators.pq import ivf_pq_topk
    from dataclass_array_spark.operators.similarity import ivf_topk, knn_join

    rng = np.random.RandomState(31)
    vecs = rng.randn(40, 8).astype(np.float32)
    pdf = pd.DataFrame({"id": range(40), "v": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf).select("id", F.col("v").cast("array<float>").alias("v"))
    cbs = [[[0.0] * 4, [1.0] * 4]] * 2
    for nprobe in (0, -1):
        with pytest.raises(ValueError, match="nprobe"):
            ivf_topk(df, df, "id", "id", "v", n_centroids=4, nprobe=nprobe).collect()
        with pytest.raises(ValueError, match="nprobe"):
            knn_join(df, df, "id", "id", "v", n_centroids=4, nprobe=nprobe).collect()
        with pytest.raises(ValueError, match="nprobe"):
            ivf_pq_topk(df, df, "id", "id", "v", cbs, n_centroids=4, nprobe=nprobe).collect()


def test_ivf_topk_full_probe_equals_brute_force(spark):
    """With nprobe = n_centroids every query scans the whole corpus, so
    ivf_topk's Arrow pair scorer must reproduce brute_force_topk's fold
    expression exactly (ids, ranks and raw cosines)."""
    from dataclass_array_spark.operators.similarity import brute_force_topk, ivf_topk

    rng = np.random.RandomState(41)
    vecs = rng.randn(60, 8).astype(np.float32)
    pdf = pd.DataFrame({"id": range(60), "v": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf).select("id", F.col("v").cast("array<float>").alias("v"))
    q = df.filter(F.col("id") % 7 == 0)
    exact = brute_force_topk(q, df, "id", "id", "v", k=4).toPandas()
    approx = ivf_topk(q, df, "id", "id", "v", n_centroids=4, nprobe=4, k=4).toPandas()
    pd.testing.assert_frame_equal(
        exact.reset_index(drop=True), approx.reset_index(drop=True)
    )
    assert (exact.cosine == approx.cosine).all()  # exact, not allclose


def test_pair_scorer_zero_norm_is_null(spark):
    """A zero-norm vector has no cosine: the Arrow pair scorer returns
    NULL, as the ``cosine`` expression does, so ivf_topk ranks it last
    like brute_force_topk.  A NaN would rank first in the descending
    window."""
    from dataclass_array_spark.operators.similarity import _score_pairs, cosine, ivf_topk

    rng = np.random.RandomState(43)
    vecs = rng.randn(30, 8)
    vecs[17] = 0.0
    pdf = pd.DataFrame({"id": range(30), "v": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf).select("id", F.col("v").cast("array<float>").alias("v"))
    q = df.filter(F.col("id") % 10 == 0)
    exact = brute_force_topk(q, df, "id", "id", "v", k=3).toPandas()
    approx = ivf_topk(q, df, "id", "id", "v", n_centroids=4, nprobe=4, k=3).toPandas()
    assert 17 not in set(approx.nid)
    pd.testing.assert_frame_equal(exact.reset_index(drop=True), approx.reset_index(drop=True))

    pairs = spark.createDataFrame(
        [(0, 17, [1.0] * 8, [0.0] * 8, 8.0, 0.0), (0, 1, [1.0] * 8, [2.0] * 8, 8.0, 32.0)],
        "qid long, nid long, qv array<double>, cv array<double>, qn2 double, cn2 double",
    )
    expr = cosine(F.col("qv"), F.col("cv"), F.col("qn2"), F.col("cn2"))
    want = {r.nid: r.c for r in pairs.select("nid", expr.alias("c")).collect()}
    got = {r.nid: r.cosine for r in _score_pairs(pairs, 8).collect()}
    assert got == want and got[17] is None


def test_knn_join_cell_cap(spark):
    """max_cell_size bounds right-side candidates per cell (keep lowest
    ids); a generous cap must change nothing, and cap=1 must return only
    the per-cell representative as a candidate."""
    import pandas as pd
    from dataclass_array_spark.operators.similarity import knn_join

    rng = np.random.RandomState(31)
    vecs = rng.randn(40, 8).astype(np.float32)
    pdf = pd.DataFrame({"id": range(40), "v": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf).select("id", F.col("v").cast("array<float>").alias("v"))
    uncapped = knn_join(
        df, df, "id", "id", "v", n_centroids=4, nprobe=2, k=3, exclude_self=True
    ).toPandas()
    generous = knn_join(
        df, df, "id", "id", "v", n_centroids=4, nprobe=2, k=3, exclude_self=True,
        max_cell_size=1000,
    ).toPandas()
    pd.testing.assert_frame_equal(uncapped, generous)
    tight = knn_join(
        df, df, "id", "id", "v", n_centroids=4, nprobe=2, k=3, exclude_self=True,
        max_cell_size=1,
    ).toPandas()
    # at most nprobe candidates survive per query, all from the capped set
    assert tight.groupby("qid").size().max() <= 2
    assert set(tight.nid) <= set(uncapped.nid)


def test_knn_join_partial_probe_recall(spark):
    """nprobe < n_centroids: every returned neighbor must be correct
    w.r.t. the probed cells, and recall vs brute force stays substantial
    on planted clusters."""
    import pandas as pd
    from dataclass_array_spark.operators.similarity import brute_force_topk, knn_join

    rng = np.random.RandomState(29)
    base = rng.randn(12, 8)
    vecs = (np.repeat(base, 5, axis=0) + 0.01 * rng.randn(60, 8)).astype(np.float32)
    pdf = pd.DataFrame({"id": range(60), "v": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf).select("id", F.col("v").cast("array<float>").alias("v"))
    exact = brute_force_topk(df, df, "id", "id", "v", k=3).toPandas()
    approx = knn_join(
        df, df, "id", "id", "v", n_centroids=8, nprobe=3, k=3, exclude_self=True
    ).toPandas()
    hits = sum(
        len(set(exact[exact.qid == q].nid) & set(approx[approx.qid == q].nid))
        for q in range(60)
    )
    assert hits >= 0.7 * len(exact)  # recall@3 >= 70% with nprobe=3/8


def test_srp_lsh_topk_recall(spark):
    # recall@3 on planted clusters: 20 bases x 5 jittered copies, so a
    # vector's true neighbors are tiny-angle same-cluster copies and SRP
    # (which buckets by hyperplane side) must keep them together.  Bounds
    # n_planes tuning: a regression that scatters near-identical vectors
    # across buckets drops recall and fails here.
    import pandas as pd
    from dataclass_array_spark.operators.similarity import (
        brute_force_topk,
        srp_lsh_topk,
    )

    rng = np.random.RandomState(3)
    base = rng.randn(20, 8)
    vecs = np.repeat(base, 5, axis=0) + 0.01 * rng.randn(100, 8)
    vecs = vecs.astype(np.float32)
    pdf = pd.DataFrame({"id": range(100), "v": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf).select("id", F.col("v").cast("array<float>").alias("v"))
    q = df.filter(F.col("id") < 5)
    exact = brute_force_topk(q, df, "id", "id", "v", k=3).toPandas()
    approx = srp_lsh_topk(q, df, "id", "id", "v", dim=8, k=3, n_planes=4).toPandas()
    hits = 0
    for qid in range(5):
        e = set(exact[exact.qid == qid].nid)
        a = set(approx[approx.qid == qid].nid)
        hits += len(e & a)
    assert hits >= 12  # recall@3 >= 80% over 5 queries (15 slots)


def test_relational_passthroughs(spark, sf_dir):
    import dataclass_array_spark as das
    from dataclass_array_spark.core.schema import i64, i32, f32

    @das.dataclass_array(cast_dtype=True)
    class Emb(das.DcaTable):
        vec_id: i64
        label: i32

    t = Emb.from_df(spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "label"))
    agg = t.groupBy("label").count().toPandas()
    assert agg["count"].sum() == 500
    j = t.join(t, on="vec_id").count()
    assert j == 500
    s = t.sql("SELECT COUNT(*) AS n FROM self WHERE label % 2 = 0").collect()[0]["n"]
    assert s > 0


def test_upsert_and_scd2(spark):
    import pandas as pd
    from dataclass_array_spark.operators.merge import scd2_close, upsert

    target = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]})
    )
    updates = spark.createDataFrame(pd.DataFrame({"k": [2, 4], "v": ["B", "D"]}))
    out = {r["k"]: r["v"] for r in upsert(target, updates, ["k"]).collect()}
    assert out == {1: "a", 2: "B", 3: "c", 4: "D"}

    t2 = spark.createDataFrame(
        pd.DataFrame(
            {"k": [1, 2], "v": ["a", "b"], "version": [1, 1], "is_current": [True, True]}
        )
    )
    u2 = spark.createDataFrame(
        pd.DataFrame({"k": [2], "v": ["B"], "version": [0], "is_current": [False]})
    )
    res = scd2_close(t2, u2, ["k"]).toPandas().sort_values(["k", "version"])
    k2 = res[res.k == 2]
    assert len(k2) == 2
    assert k2[k2.version == 1].is_current.iloc[0] == False  # noqa: E712
    assert k2[k2.version == 2].is_current.iloc[0] == True  # noqa: E712
    assert res[res.k == 1].is_current.iloc[0] == True  # noqa: E712


def test_connected_components(spark):
    import pandas as pd
    from dataclass_array_spark.operators.graph import connected_components

    # two chains and an isolated pair: {1-2-3-4}, {10-11}, {20-21-22}
    edges = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2, 3, 10, 21, 20], "id_b": [2, 3, 4, 11, 22, 21]})
    )
    cc = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_string_ids_converge_early(spark):
    """String node ids cannot use the decimal-sum convergence check
    (they cast to NULL, so the old check never fired and the loop
    silently ran all max_iter rounds); the join-and-count fallback must
    break early.  Observable: job count stays near the 2 iterations the
    graph needs instead of scaling with max_iter=25."""
    import pandas as pd
    from dataclass_array_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        pd.DataFrame({"id_a": ["a", "b", "x"], "id_b": ["b", "c", "y"]})
    )
    sc = spark.sparkContext
    sc.setJobGroup("cc-string-test", "convergence probe")
    try:
        cc = {
            r["node"]: r["comp"]
            for r in connected_components(edges, max_iter=25).collect()
        }
    finally:
        sc.setJobGroup(None, None)
    assert cc == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("cc-string-test"))
    # measured ~28 jobs for the 3 iterations this graph needs (AQE
    # splits each pin/count into several jobs); 25 non-converging
    # iterations would be 170+.
    assert n_jobs <= 60, n_jobs


def test_asof_no_matches_and_empty_right(spark):
    import pandas as pd

    ldf = spark.createDataFrame(pd.DataFrame({"k": [1, 2], "lt": [5, 6], "lv": [1, 2]}))
    # right side has no rows for these keys
    rdf = spark.createDataFrame(pd.DataFrame({"k": [9], "rt": [1], "rv": [100]}))
    out = asof_join(ldf, rdf, "k", "lt", "rt", ["rv"]).toPandas()
    assert out["asof_rv"].isna().all()
    # right rows all AFTER left ts → also no matches
    rdf2 = spark.createDataFrame(pd.DataFrame({"k": [1], "rt": [50], "rv": [7]}))
    out2 = asof_join(ldf, rdf2, "k", "lt", "rt", ["rv"]).toPandas()
    assert out2["asof_rv"].isna().all()


def test_sessionize_single_event_per_key(spark):
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"u": [1, 2, 3], "t": [10, 20, 30]}))
    out = sessionize(df, key="u", ts="t", gap=5).toPandas()
    assert out["session_id"].tolist() == [1, 1, 1]


def test_salted_sum_matches_plain(spark):
    import pandas as pd
    from dataclass_array_spark.operators.skew import salted_sum

    df = spark.createDataFrame(
        pd.DataFrame({"g": ["x"] * 50 + ["y"] * 5, "v": [1.5] * 55})
    )
    out = salted_sum(
        df, ["g"], {"s": F.col("v").cast("decimal(25,6)")}, n_salts=8
    ).toPandas().sort_values("g")
    assert out.n_rows.tolist() == [50, 5]
    assert [float(x) for x in out.s] == [75.0, 7.5]


# ---------------------------------------------------------------- sampling
def test_hash_split_partitions_and_determinism(spark, sf_dir):
    from dataclass_array_spark.operators.sampling import hash_split

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    s1 = hash_split(d, "doc_id", w).select("doc_id", "split").collect()
    s2 = hash_split(d, "doc_id", w).select("doc_id", "split").collect()
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))  # re-run stable
    total = len(s1)
    counts = {}
    for _, sp in s1:
        counts[sp] = counts.get(sp, 0) + 1
    assert set(counts) <= set(w)
    assert sum(counts.values()) == total  # exhaustive + disjoint
    # proportions within a loose tolerance (hash uniformity)
    assert abs(counts["train"] / total - 0.8) < 0.05


def test_stratified_sample_subset_and_fraction(spark, sf_dir):
    from dataclass_array_spark.operators.sampling import stratified_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = stratified_sample(d, "lang", {"en": 0.5}, "doc_id", default_fraction=0.0)
    rows = s.select("doc_id", "lang").collect()
    assert all(r["lang"] == "en" for r in rows)  # default 0 drops others
    n_en = d.filter("lang = 'en'").count()
    assert 0.35 < len(rows) / n_en < 0.65
    # sampled ids are a subset of the original
    ids = {r["doc_id"] for r in rows}
    all_ids = {r["doc_id"] for r in d.select("doc_id").collect()}
    assert ids <= all_ids


# ---------------------------------------------------------------- packing
def test_global_cumsum_matches_local(spark, sf_dir):
    import numpy as np
    from dataclass_array_spark.operators.packing import global_cumsum

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.length("text").alias("v")
    )
    got = {
        r["doc_id"]: r["cum"]
        for r in global_cumsum(d, "doc_id", "v").collect()
    }
    pdf = d.orderBy("doc_id").toPandas()
    exp = pdf["v"].cumsum()
    for did, e in zip(pdf["doc_id"], exp):
        assert got[did] == e


def test_global_cumsum_reliable_pin(spark, sf_dir):
    """pin="reliable" (checkpoint-to-dir, the cluster-durable mode) must
    produce the identical cumsum as the default local pin."""
    from dataclass_array_spark.operators.packing import global_cumsum

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.length("text").alias("v")
    )
    local = {
        r["doc_id"]: r["cum"]
        for r in global_cumsum(d, "doc_id", "v", pin="local").collect()
    }
    reliable = {
        r["doc_id"]: r["cum"]
        for r in global_cumsum(d, "doc_id", "v", pin="reliable").collect()
    }
    assert local == reliable
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pin"):
        global_cumsum(d, "doc_id", "v", pin="bogus")


def test_attach_dense_rowid_reliable_pin(spark, sf_dir):
    """Both pin modes must yield the same dense 0..N-1 numbering in
    doc_id order."""
    from dataclass_array_spark.core.table import attach_dense_rowid, ROWID

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    for pin in ("local", "reliable"):
        out = attach_dense_rowid(d, order_by="doc_id", pin=pin)
        rows = out.orderBy("doc_id").collect()
        assert [r[ROWID] for r in rows] == list(range(len(rows)))


def test_pack_sequences_invariants(spark, sf_dir):
    from dataclass_array_spark.operators.packing import pack_sequences

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", (F.length("text") % 700).cast("long").alias("n")
    )
    B = 512
    rows = pack_sequences(d, "doc_id", "n", B).orderBy("doc_id").collect()
    pos = 0
    for r in rows:
        assert r["start_tok"] == pos  # contiguous stream, no gaps/overlap
        assert r["start_block"] == pos // B
        assert r["start_off"] == pos % B
        end = pos + r["n"] - 1 if r["n"] > 0 else pos
        assert r["end_block"] == end // B
        assert r["n_blocks"] == end // B - pos // B + 1
        pos += r["n"]


# ---------------------------------------------------------------- quality / decontam
def test_repetition_metrics_known_values(spark):
    import pandas as pd
    from dataclass_array_spark.operators.quality import repetition_metrics

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3],
                "text": [
                    "a b a b a b",          # heavy bigram repetition
                    "w x y z u v t s r q p o n m l k",  # all distinct
                    "solo",                 # 1 token, no bigrams
                    "",                     # empty
                ],
            }
        )
    )
    rows = {
        r["doc_id"]: r
        for r in repetition_metrics(df, "text", "doc_id").collect()
    }
    r0 = rows[0]
    assert r0["n_tokens"] == 6
    assert abs(r0["dup_word_frac"] - (1 - 2 / 6)) < 1e-12
    # bigrams: [a b, b a, a b, b a, a b] -> top "a b" x3
    assert r0["top_bigram"] == "a b" and r0["top_bigram_count"] == 3
    assert abs(r0["top_bigram_char_frac"] - 3 * 3 / 11) < 1e-12
    assert r0["flagged"]
    r1 = rows[1]
    assert r1["dup_word_frac"] == 0.0 and r1["top_bigram_count"] == 1
    assert not r1["flagged"]
    assert rows[2]["top_bigram"] is None and rows[2]["top_bigram_count"] == 0
    assert rows[3]["n_tokens"] == 0 and not rows[3]["flagged"]


def test_decontam_overlap_known_values(spark):
    import pandas as pd
    from dataclass_array_spark.operators.decontam import ngram_overlap_vs_eval

    ev = spark.createDataFrame(pd.DataFrame({"doc_id": [100], "text": ["p q r s t u"]}))
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [
                    "p q r s t u",   # fully contained: 2/2 5-grams hit
                    "p q r s t zz",  # 5-grams: [p q r s t, q r s t zz] -> 1/2
                    "nothing here",  # < 5 tokens -> 0 grams
                ],
            }
        )
    )
    out = {
        r["doc_id"]: r
        for r in ngram_overlap_vs_eval(corpus, ev, "text", "doc_id", k=5).collect()
    }
    assert out[0]["overlap_frac"] == 1.0 and out[0]["contaminated"]
    assert out[1]["n_grams"] == 2 and out[1]["n_hit"] == 1
    assert out[1]["overlap_frac"] == 0.5 and out[1]["contaminated"]
    assert out[2]["n_grams"] == 0 and out[2]["overlap_frac"] == 0.0
    assert not out[2]["contaminated"]


def test_kmeans_invariants(spark):
    from dataclass_array_spark.operators.clustering import kmeans_assign

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out, cents = kmeans_assign(e, "vec_id", "embedding", k=4, iters=2)
    rows = out.collect()
    assert len(rows) == e.count()
    assert len(cents) == 4 and all(len(c) == 64 for c in cents)
    assert all(0 <= r["cluster"] < 4 and r["dist"] >= 0.0 for r in rows)
    # determinism: a second run reproduces identical assignments
    out2, cents2 = kmeans_assign(e, "vec_id", "embedding", k=4, iters=2)
    assert cents == cents2
    got = {r["vec_id"]: (r["cluster"], r["dist"]) for r in rows}
    got2 = {r["vec_id"]: (r["cluster"], r["dist"]) for r in out2.collect()}
    assert got == got2


def test_kmeans_udf_path_matches_expression_path(spark, monkeypatch):
    """The large-k Arrow numpy argmin must be BIT-IDENTICAL to the
    unrolled expression argmin (same dim-major double fold order, same
    first-min tie-break) — it is only oracle-covered indirectly, so the
    two engine paths are differentially tested against each other."""
    from dataclass_array_spark.operators import clustering

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # k=6·dim=64 = 384 literals sits above the (round-7 re-measured)
    # default threshold — force the expression path explicitly
    monkeypatch.setattr(clustering, "_ARGMIN_UDF_THRESHOLD", 10**9)
    expr_out, expr_cents = clustering.kmeans_assign(
        e, "vec_id", "embedding", k=6, iters=2
    )
    expr = {r["vec_id"]: (r["cluster"], r["dist"]) for r in expr_out.collect()}
    monkeypatch.setattr(clustering, "_ARGMIN_UDF_THRESHOLD", 0)
    udf_out, udf_cents = clustering.kmeans_assign(
        e, "vec_id", "embedding", k=6, iters=2
    )
    udf = {r["vec_id"]: (r["cluster"], r["dist"]) for r in udf_out.collect()}
    assert expr_cents == udf_cents  # identical centroid trajectories
    assert expr == udf  # identical assignments AND exact distances


def test_kmeans_k_exceeds_rows(spark):
    # k larger than the row count clamps to n (was IndexError on the
    # empty-cluster carry); empty input raises a clear error
    import pytest as _pytest

    from dataclass_array_spark.operators.clustering import kmeans_assign

    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(3)], "id long, v array<double>"
    )
    out, cents = kmeans_assign(df, "id", "v", k=8, iters=2)
    assert len(cents) == 3 and out.count() == 3
    with _pytest.raises(ValueError, match="no rows"):
        kmeans_assign(df.filter("id < 0"), "id", "v", k=2)


def test_temperature_mixture_rates_and_sample(spark, sf_dir):
    from dataclass_array_spark.operators.sampling import (
        temperature_mixture_rates,
        temperature_sample,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rates = temperature_mixture_rates(d, "source", target_rows=50.0)
    r = rates.toPandas()
    assert (r["rate"] > 0).all() and (r["rate"] <= 1.0).all()
    # alpha=0.5 flattens: smallest domain gets the highest rate
    assert r.loc[r.n_docs.idxmin(), "rate"] >= r.loc[r.n_docs.idxmax(), "rate"]
    out = temperature_sample(d, rates, "source", "doc_id").toPandas()
    # deterministic: same selection on a second run
    out2 = temperature_sample(d, rates, "source", "doc_id").toPandas()
    assert sorted(out.doc_id) == sorted(out2.doc_id)
    # expected-count sanity: within a loose band of the target
    assert 10 <= len(out) <= 120


def test_multimodal_decode(spark, sf_dir):
    from dataclass_array_spark.operators.multimodal import (
        _decode_payload,
        attach_media,
        decode_media,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(30)
    m = attach_media(d, "doc_id", "text")
    src = {r["doc_id"]: r for r in m.collect()}
    dec = {r["doc_id"]: r for r in decode_media(m).collect()}
    assert set(dec) == set(src)
    for i, r in dec.items():
        assert (r["width"], r["height"]) == _decode_payload(bytes(src[i]["payload"]))
        assert r["n_bytes"] == src[i]["meta"]["n_bytes"]


def test_minhash_auto_bucket_cap(spark):
    """auto cap: natural buckets pass (pairs unchanged vs uncapped on a
    normal corpus); a planted viral cluster is dropped by the cap."""
    base = ["the quick brown fox jumps over the lazy dog again and again today"] + [
        f"unique document number {i} with plenty of distinct words token{i} extra{i}"
        for i in range(1, 30)
    ]
    near = base[0].replace("today", "tomorrow")  # known-colliding LSH pair
    pdf = pd.DataFrame({"id": range(31), "txt": base + [near]})
    df = spark.createDataFrame(pdf)
    plain = minhash_lsh_pairs(df, "txt", "id", threshold=0.3).toPandas()
    auto = minhash_lsh_pairs(df, "txt", "id", threshold=0.3, max_bucket_size="auto").toPandas()
    assert sorted(zip(plain.id_a, plain.id_b)) == sorted(zip(auto.id_a, auto.id_b))
    # degenerate corpus: 200 identical docs + the normal ones
    viral = pd.DataFrame(
        {"id": range(1000, 1200), "txt": ["same viral doc repeated everywhere always"] * 200}
    )
    df2 = spark.createDataFrame(pd.concat([pdf, viral], ignore_index=True))
    capped = minhash_lsh_pairs(df2, "txt", "id", threshold=0.3, max_bucket_size="auto").toPandas()
    got = set(zip(capped.id_a, capped.id_b))
    # the 200-doc bucket (19900 pairs) must be dropped; the real near-dup kept
    assert (0, 30) in got
    assert not any(a >= 1000 for a, _ in got)


def test_semantic_dedup_invariants(spark):
    from dataclass_array_spark.operators.clustering import kmeans_assign, semantic_dedup

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    surv = semantic_dedup(e, "vec_id", "embedding", k=4, iters=2, cos_threshold=0.45)
    rows = surv.collect()
    n_all = e.count()
    assert 0 < len(rows) <= n_all
    # survivors' cluster labels agree with a fresh kmeans run (determinism)
    assign, _ = kmeans_assign(e, "vec_id", "embedding", k=4, iters=2)
    lbl = {r["vec_id"]: r["cluster"] for r in assign.collect()}
    assert all(lbl[r["vec_id"]] == r["cluster"] for r in rows)
    # keep-lowest: the smallest vec_id of the table always survives
    assert min(lbl) in {r["vec_id"] for r in rows}


def test_semantic_dedup_auto_k(spark):
    from dataclass_array_spark.operators.clustering import semantic_dedup

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = e.count()
    surv = semantic_dedup(
        e, "vec_id", "embedding", k="auto", iters=1, target_cluster_size=16
    )
    rows = surv.collect()
    assert 0 < len(rows) <= n
    # ceil(n/16) clusters requested; labels must stay within range
    import math
    k = max(1, math.ceil(n / 16))
    assert all(0 <= r["cluster"] < k for r in rows)


def test_dcatable_feeds_pipeline_operators(spark, sf_dir):
    """Cohesion: the typed DcaTable layer and the pipeline operators are
    one system — adopt documents as a DcaTable, shape-filter with a
    boolean mask, hand the backing frame to dedup + quality operators."""
    import dataclass_array_spark as das
    from dataclass_array_spark.core.schema import i64, str_
    from dataclass_array_spark.operators.dedup import exact_dedup
    from dataclass_array_spark.operators.quality import repetition_flag

    @das.dataclass_array(cast_dtype=True)
    class Docs(das.DcaTable):
        doc_id: i64
        text: str_

    t = Docs.from_df(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    )
    n = len(t)
    # boolean mask through the typed layer: keep the first half
    ids = t.to_numpy_fields()["doc_id"]
    kept = t[ids < ids[n // 2]]
    assert len(kept) == n // 2
    # the masked table's frame flows straight into the operators
    groups = exact_dedup(kept.df, "text", "doc_id")
    assert groups.count() <= n // 2
    flags = kept.df.select(repetition_flag(F.col("text")).alias("f"))
    assert flags.count() == n // 2


def test_ln_exact_bit_portable(spark):
    """ln_exact (fixed-order IEEE series, no libm) must bit-match the
    DuckDB CTE mirror on the same integers and sit within ~1 ulp of
    math.log — the primitive behind the perplexity-style LM score."""
    import duckdb
    import math
    from dataclass_array_spark.operators.text import ln_exact, sql_ln_exact_ctes

    ns = [1, 2, 3, 7, 10, 100, 12345, 999983, 2**31, 2**52 + 12345, 3**30]
    sdf = spark.createDataFrame([(n,) for n in ns], "n long")
    got = {
        r["n"]: r["ln"]
        for r in sdf.select("n", ln_exact(F.col("n")).alias("ln")).collect()
    }
    sql = f"""
WITH src AS (SELECT * FROM (VALUES {', '.join(f'({n})' for n in ns)}) v(n)),
{sql_ln_exact_ctes('src', 'n', 'n', 'lnv')}
SELECT n, ln FROM lnv ORDER BY n
"""
    duck = {n: v for n, v in duckdb.sql(sql).fetchall()}
    for n in ns:
        assert got[n] == duck[n], (n, got[n].hex(), duck[n].hex())
        assert abs(got[n] - math.log(n)) <= 5e-16 * max(abs(math.log(n)), 1.0)


def test_pair_scoring_arrow_matches_expression(spark):
    """The Arrow pair scorer (ivf_topk) and the cogroup block scorer
    (knn_join) must be BIT-IDENTICAL to a pure-Python sequential fold
    (dim-major accumulation, IEEE sqrt/div) — raw double equality, no
    tolerance."""
    from dataclass_array_spark.operators.similarity import ivf_topk, knn_join

    rng = np.random.RandomState(47)
    vecs = rng.randn(80, 16).astype(np.float32)
    pdf = pd.DataFrame({"id": range(80), "v": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf).select("id", F.col("v").cast("array<float>").alias("v"))
    ref = {i: [float(x) for x in v] for i, v in enumerate(vecs)}

    kw = dict(n_centroids=6, nprobe=3, k=4)
    joined = knn_join(df, df, "id", "id", "v", exclude_self=True, **kw).toPandas()
    _assert_rows_equal(joined, _ref_ivf(ref, range(80), **kw))

    q = df.filter(F.col("id") < 5)
    kw = dict(n_centroids=6, nprobe=2, k=4)
    probed = ivf_topk(q, df, "id", "id", "v", **kw).toPandas()
    _assert_rows_equal(probed, _ref_ivf(ref, range(5), **kw))


def test_knn_join_cogroup_matches_expression(spark):
    """The cogroup blocked scorer must be BIT-IDENTICAL to a pure-Python
    fold — ids, ranks, and raw cosines — including with a cell cap
    (the lowest nids of each cell) and self-exclusion."""
    from dataclass_array_spark.operators.similarity import knn_join

    rng = np.random.RandomState(53)
    vecs = rng.randn(90, 16).astype(np.float32)
    pdf = pd.DataFrame({"id": range(90), "v": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf).select("id", F.col("v").cast("array<float>").alias("v"))
    ref = {i: [float(x) for x in v] for i, v in enumerate(vecs)}
    for cap in (None, 7):
        kw = dict(n_centroids=5, nprobe=2, k=3)
        cg = knn_join(
            df, df, "id", "id", "v", exclude_self=True, max_cell_size=cap, **kw
        ).toPandas()
        _assert_rows_equal(cg, _ref_ivf(ref, range(90), cap=cap, **kw))


def test_semantic_dedup_cluster_cap_bounds_candidates(spark):
    """Degenerate corpus (every vector identical → one k-means cluster):
    the max_cluster_size cap must (a) bound the pair candidates at
    cap²/2 instead of n²/2 and (b) keep exactly the capped prefix
    droppable — rows outside the cap survive by construction."""
    import pandas as pd
    from dataclass_array_spark.operators.clustering import semantic_dedup

    n, cap = 300, 20
    v = [0.1 * (d + 1) for d in range(8)]
    pdf = pd.DataFrame({"id": range(n), "v": [v] * n})
    df = spark.createDataFrame(pdf).select(
        "id", F.col("v").cast("array<float>").alias("v")
    )
    out = semantic_dedup(
        df, "id", "v", k=4, iters=1, cos_threshold=0.9, max_cluster_size=cap
    ).toPandas()
    kept = sorted(out["id"])
    # identical vectors: within the capped prefix only id 0 survives;
    # every row outside the cap is untouchable by the pair step
    assert kept == [0] + list(range(cap, n))

    # uncapped control: everything collapses to the single lowest id
    out2 = semantic_dedup(
        df, "id", "v", k=4, iters=1, cos_threshold=0.9
    ).toPandas()
    assert sorted(out2["id"]) == [0]


def test_kmeans_fit_train_limit_equals_subset_training(spark):
    """Sampled training (train_limit=m) must produce EXACTLY the
    centroids of full training over the m lowest-id rows — the sample
    is a deterministic prefix, not an approximation of one."""
    from dataclass_array_spark.operators.clustering import kmeans_fit

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    m = 64
    sampled = kmeans_fit(e, "vec_id", "embedding", k=4, iters=2, train_limit=m)
    prefix_ids = [r["vec_id"] for r in e.orderBy("vec_id").limit(m).collect()]
    subset = e.filter(F.col("vec_id").isin(prefix_ids))
    full_on_subset = kmeans_fit(subset, "vec_id", "embedding", k=4, iters=2)
    assert sampled == full_on_subset
    # a limit past the row count degrades to full training
    assert kmeans_fit(
        e, "vec_id", "embedding", k=4, iters=2, train_limit=5000
    ) == kmeans_fit(e, "vec_id", "embedding", k=4, iters=2)


def test_kmeans_sampled_training_duckdb_oracle(spark):
    """kmeans_assign(train_limit=m) with m BINDING (m < n) must match
    the DuckDB unrolled-CTE oracle's `et`-sampled replay value-exactly:
    trained centroids from the sample, final assignment over the full
    corpus."""
    import duckdb

    from dataclass_array_spark.operators.clustering import kmeans_assign, kmeans_sql

    path = "/root/testdata/sf0.001/embeddings.parquet"
    e = spark.read.parquet(path)
    out, _ = kmeans_assign(e, "vec_id", "embedding", k=4, iters=2, train_limit=100)
    got = {
        r["vec_id"]: (r["cluster"], math.floor(r["dist"] * 1e9))
        for r in out.collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
    sql = kmeans_sql("embeddings", "vec_id", "embedding", dim=64, k=4, iters=2,
                     train_limit=100)
    want = {vid: (cid, d9) for vid, cid, d9 in con.execute(sql).fetchall()}
    assert got == want


def test_connected_components_pin_modes(spark):
    """pin="reliable" (checkpoint-dir, cluster-durable) must agree with
    the default executor-memory pin, and bogus modes must raise."""
    import pandas as pd
    import pytest as _pytest

    from dataclass_array_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2, 3, 10, 21, 20], "id_b": [2, 3, 4, 11, 22, 21]})
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    for pin in ("local", "reliable"):
        got = {
            r["node"]: r["comp"]
            for r in connected_components(edges, pin=pin).collect()
        }
        assert got == want, pin
    with _pytest.raises(ValueError, match="pin"):
        connected_components(edges, pin="bogus").collect()


def test_semantic_dedup_pin_and_train_limit(spark):
    """semantic_dedup: the reliable pin and sampled training must keep
    survivors identical to the defaults on a corpus where the training
    sample still sees every planted cluster."""
    import pandas as pd

    from dataclass_array_spark.operators.clustering import semantic_dedup

    rng = np.random.RandomState(11)
    base = rng.randn(4, 8)
    vecs = (np.repeat(base, 30, axis=0) + 0.01 * rng.randn(120, 8)).astype(
        np.float32
    )
    pdf = pd.DataFrame({"id": range(120), "v": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf).select(
        "id", F.col("v").cast("array<float>").alias("v")
    )
    # ids are round-robin across clusters (np.repeat groups them — shuffle
    # deterministically so a 40-row prefix covers all 4 clusters)
    df = df.withColumn("id", (F.col("id") * 7 % 120))
    baseline = sorted(
        r["id"] for r in semantic_dedup(df, "id", "v", k=4, iters=2,
                                        cos_threshold=0.95).collect()
    )
    reliable = sorted(
        r["id"] for r in semantic_dedup(df, "id", "v", k=4, iters=2,
                                        cos_threshold=0.95, pin="reliable").collect()
    )
    assert baseline == reliable
    # sampled training changes centroids (different training set) but the
    # operator must stay deterministic and keep the lowest id per
    # near-dup group
    sampled = semantic_dedup(
        df, "id", "v", k=4, iters=2, cos_threshold=0.95, train_limit=40
    )
    s1 = sorted(r["id"] for r in sampled.collect())
    s2 = sorted(
        r["id"]
        for r in semantic_dedup(
            df, "id", "v", k=4, iters=2, cos_threshold=0.95, train_limit=40
        ).collect()
    )
    assert s1 == s2 and len(s1) > 0


def test_ivf_topk_trained_centroids_recall(spark):
    """centroids="kmeans" (sampled Lloyd's) must score/tie-break exactly
    like "first" — only cell boundaries move — so under full probe both
    equal brute force; under partial probe trained cells' recall on
    planted clusters must be no worse than data-blind first-n cells."""
    import pandas as pd

    from dataclass_array_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    rng = np.random.RandomState(101)
    base = rng.randn(8, 8)
    vecs = (np.repeat(base, 10, axis=0) + 0.01 * rng.randn(80, 8)).astype(np.float32)
    pdf = pd.DataFrame({"id": range(80), "v": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf).select(
        "id", F.col("v").cast("array<float>").alias("v")
    )
    exact = brute_force_topk(df, df, "id", "id", "v", k=3).toPandas()

    def recall(out):
        return sum(
            len(set(exact[exact.qid == q].nid) & set(out[out.qid == q].nid))
            for q in range(80)
        ) / len(exact)

    full_trained = ivf_topk(
        df, df, "id", "id", "v", n_centroids=4, nprobe=4, k=3,
        centroids="kmeans", kmeans_iters=2, kmeans_train_limit=40,
    ).toPandas()
    pd.testing.assert_frame_equal(
        exact.reset_index(drop=True), full_trained.reset_index(drop=True)
    )
    first = ivf_topk(df, df, "id", "id", "v", n_centroids=8, nprobe=2, k=3).toPandas()
    trained = ivf_topk(
        df, df, "id", "id", "v", n_centroids=8, nprobe=2, k=3,
        centroids="kmeans", kmeans_iters=2, kmeans_train_limit=40,
    ).toPandas()
    assert recall(trained) >= recall(first) - 1e-9


def test_srp_lsh_trained_planes_recall(spark):
    """planes="kmeans" (centroid-difference hyperplanes) must bucket
    planted clusters at least as well as data-blind md5 planes."""
    import pandas as pd

    from dataclass_array_spark.operators.similarity import (
        brute_force_topk,
        srp_lsh_topk,
    )

    rng = np.random.RandomState(3)
    base = rng.randn(20, 8)
    vecs = (np.repeat(base, 5, axis=0) + 0.01 * rng.randn(100, 8)).astype(np.float32)
    pdf = pd.DataFrame({"id": range(100), "v": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf).select(
        "id", F.col("v").cast("array<float>").alias("v")
    )
    exact = brute_force_topk(df, df, "id", "id", "v", k=3).toPandas()

    def recall(out):
        return sum(
            len(set(exact[exact.qid == q].nid) & set(out[out.qid == q].nid))
            for q in range(100)
        ) / len(exact)

    random_planes = srp_lsh_topk(
        df, df, "id", "id", "v", dim=8, k=3, n_planes=4
    ).toPandas()
    trained_planes = srp_lsh_topk(
        df, df, "id", "id", "v", dim=8, k=3, n_planes=4,
        planes="kmeans", kmeans_iters=2, kmeans_train_limit=50,
    ).toPandas()
    assert recall(trained_planes) >= recall(random_planes) - 1e-9
    # determinism: trained planes reproduce exactly
    rerun = srp_lsh_topk(
        df, df, "id", "id", "v", dim=8, k=3, n_planes=4,
        planes="kmeans", kmeans_iters=2, kmeans_train_limit=50,
    ).toPandas()
    pd.testing.assert_frame_equal(trained_planes, rerun)


def test_semantic_dedup_sampled_training_duckdb_oracle(spark):
    """semantic_dedup(train_limit=m) with m BINDING must match the
    semantic_dedup_sql oracle's et-sampled replay value-exactly —
    covers the train_limit pass-through in the oracle builder."""
    import duckdb

    from dataclass_array_spark.operators.clustering import (
        semantic_dedup,
        semantic_dedup_sql,
    )

    path = "/root/testdata/sf0.001/embeddings.parquet"
    e = spark.read.parquet(path)
    out = semantic_dedup(
        e, "vec_id", "embedding", k=4, iters=2, cos_threshold=0.45,
        train_limit=100,
    )
    got = sorted((r["vec_id"], r["cluster"]) for r in out.collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
    sql = semantic_dedup_sql(
        "embeddings", "vec_id", "embedding", dim=64, k=4, iters=2,
        cos_threshold=0.45, train_limit=100,
    )
    want = sorted((vid, cid) for vid, cid in con.execute(sql).fetchall())
    assert got == want


def test_pq_fit_matches_sliced_kmeans(spark):
    """Each PQ subspace codebook must equal kmeans_fit run on the
    manually sliced vector frame — pq_fit inherits init/tie/mean
    semantics from kmeans_fit rather than re-implementing them."""
    from dataclass_array_spark.operators.clustering import kmeans_fit
    from dataclass_array_spark.operators.pq import pq_fit

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cbs = pq_fit(
        e, "vec_id", "embedding", dim=64, m=4, codes=4, iters=2, train_limit=100
    )
    assert len(cbs) == 4 and all(len(cb) == 4 for cb in cbs)
    sliced = e.select(
        "vec_id",
        F.slice(F.col("embedding").cast("array<double>"), 17, 16).alias("v"),
    )
    want = kmeans_fit(sliced, "vec_id", "v", k=4, iters=2, train_limit=100)
    assert cbs[1] == want


def _ref_pq_codes(v, cbs):
    """Per-subspace nearest code: squared L2 as a dim-major fold, the
    first minimum winning ties."""
    d = len(cbs[0][0])
    sub = [v[j * d : (j + 1) * d] for j in range(len(cbs))]
    return [
        min(
            range(len(cb)),
            key=lambda c: _fold((x - y) * (x - y) for x, y in zip(s, cb[c])),
        )
        for s, cb in zip(sub, cbs)
    ]


def test_pq_encode_expr_matches_arrow(spark):
    """The Arrow encoder must agree bit-for-bit with a pure-Python
    encoder (same dim-major fold, same first-min tie-break)."""
    import dataclass_array_spark.operators.pq as pqmod

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cbs = pqmod.pq_fit(
        e, "vec_id", "embedding", dim=64, m=4, codes=4, iters=1, train_limit=50
    )
    want = {
        r["vec_id"]: _ref_pq_codes(list(r["embedding"]), cbs) for r in e.collect()
    }
    arrow = {
        r["vec_id"]: list(r["codes"])
        for r in pqmod.pq_encode(e, "vec_id", "embedding", cbs).collect()
    }
    assert arrow == want


def test_pq_topk_recall(spark):
    """ADC top-k on planted clusters: same-cluster jittered copies map
    to the same codes, so the approximate neighbors must overlap the
    exact L2 neighbors substantially."""
    import pandas as pd

    from dataclass_array_spark.operators.pq import pq_fit, pq_topk

    rng = np.random.RandomState(7)
    base = rng.randn(10, 8)
    vecs = (np.repeat(base, 5, axis=0) + 0.01 * rng.randn(50, 8)).astype(np.float32)
    pdf = pd.DataFrame({"id": range(50), "v": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf).select(
        "id", F.col("v").cast("array<float>").alias("v")
    )
    cbs = pq_fit(df, "id", "v", dim=8, m=2, codes=16, iters=3)
    q = df.filter(F.col("id") < 5)
    approx = pq_topk(q, df, "id", "id", "v", cbs, k=3, exclude_self=True).toPandas()
    V = vecs.astype(np.float64)
    hits = 0
    for qid in range(5):
        d2 = ((V - V[qid]) ** 2).sum(axis=1)
        d2[qid] = np.inf
        exact = set(np.argsort(d2, kind="stable")[:3])
        hits += len(exact & set(approx[approx.qid == qid].nid))
    assert hits >= 0.6 * 15, hits


def test_dedup_chunks_survival(spark):
    """A doc that repeats another doc's chunks verbatim keeps nothing;
    unique docs keep everything; partial overlap keeps the unique tail."""
    import pandas as pd

    from dataclass_array_spark.operators.dedup import dedup_chunks

    a = " ".join(f"w{i}" for i in range(8))          # 2 chunks of 4
    b = " ".join(f"x{i}" for i in range(8))          # unique
    c = a                                             # full dup of a
    d = a + " " + " ".join(f"y{i}" for i in range(4))  # 2 dup + 1 unique
    df = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2, 3, 4], "text": [a, b, c, d]})
    )
    got = {
        r["id"]: (r["n_chunks"], r["n_kept"])
        for r in dedup_chunks(df, "id", "text", chunk_size=4).collect()
    }
    assert got == {1: (2, 2), 2: (2, 2), 3: (2, 0), 4: (3, 1)}


def test_kmeans_driver_path_matches_distributed(spark, monkeypatch):
    """Sampled training now runs Lloyd's on the driver (one cluster job);
    it must be bit-identical to the distributed cached-sample path —
    same dim-major accumulation, first-min ties, and double→DECIMAL(38,9)
    HALF_UP cast chain."""
    import dataclass_array_spark.operators.clustering as cl

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    driver = cl.kmeans_fit(e, "vec_id", "embedding", k=5, iters=3, train_limit=120)
    monkeypatch.setattr(cl, "_DRIVER_TRAIN_LIMIT", 0)
    dist = cl.kmeans_fit(e, "vec_id", "embedding", k=5, iters=3, train_limit=120)
    assert driver == dist


def test_simhash_pairs_planted(spark):
    """Identical docs must pair at hamming 0; unrelated docs (disjoint
    vocabularies — expected ~n_bits/2 apart) must not pair.  All hashes
    are md5-derived, so the fixture is deterministic forever."""
    import pandas as pd

    from dataclass_array_spark.operators.dedup import simhash_pairs

    texts = {
        1: "alpha beta gamma delta epsilon zeta eta theta",
        2: "alpha beta gamma delta epsilon zeta eta theta",   # dup of 1
        3: "one two three four five six seven eight",
        4: "one two three four five six seven eight",         # dup of 3
        5: "lorem ipsum dolor sit amet consectetur adipiscing elit",
    }
    df = spark.createDataFrame(
        pd.DataFrame({"id": list(texts), "text": list(texts.values())})
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(df, "id", "text").collect()
    }
    assert got.get((1, 2)) == 0 and got.get((3, 4)) == 0
    assert all(p in {(1, 2), (3, 4)} for p in got), got


def test_dedup_incremental_planted(spark):
    """New batch vs store: exact copies flag exact_dup (and near),
    near-copies (one token changed) flag near_dup only, fresh docs flag
    neither.  Batch-internal duplicates must NOT flag (store-only
    comparison by design)."""
    import pandas as pd

    from dataclass_array_spark.operators.dedup import dedup_incremental

    store_texts = {
        100: "the quick brown fox jumps over the lazy dog today",
        101: "pack my box with five dozen liquor jugs tonight",
        102: "sphinx of black quartz judge my vow quickly now",
    }
    new_texts = {
        1: "the quick brown fox jumps over the lazy dog today",   # exact
        2: "the quick brown fox jumps over the lazy cat today",   # near
        3: "completely fresh unrelated words nothing shared here at all",
        4: "completely fresh unrelated words nothing shared here at all",  # dup of 3 (batch-internal)
    }
    mk = lambda d: spark.createDataFrame(
        pd.DataFrame({"id": list(d), "text": list(d.values())})
    )
    got = {
        r["doc_id"]: (r["exact_dup"], r["near_dup"])
        for r in dedup_incremental(
            mk(new_texts), mk(store_texts), "id", "text", threshold=0.3
        ).collect()
    }
    assert got[1] == (True, True)
    assert got[2] == (False, True)
    assert got[3] == (False, False) and got[4] == (False, False)


def test_pq_fit_driver_path_matches_distributed(spark, monkeypatch):
    """pq_fit's one-collect driver training must be bit-identical to the
    distributed cached-sample path (which itself defers to kmeans_fit
    per subspace)."""
    import dataclass_array_spark.operators.pq as pqmod

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    driver = pqmod.pq_fit(
        e, "vec_id", "embedding", dim=64, m=4, codes=4, iters=2, train_limit=100
    )
    # ONE dispatch site since round 8: pq_fit shares clustering's
    # _collect_train_sample, so patching the clustering limit flips
    # BOTH consumers to the distributed path (the drift the shared
    # helper exists to prevent)
    import dataclass_array_spark.operators.clustering as cl

    monkeypatch.setattr(cl, "_DRIVER_TRAIN_LIMIT", 0)
    dist = pqmod.pq_fit(
        e, "vec_id", "embedding", dim=64, m=4, codes=4, iters=2, train_limit=100
    )
    assert driver == dist


def test_ivf_pq_topk_kmeans_cells_recall(spark):
    """ivf_pq_topk(centroids="kmeans"): trained cells must retrieve the
    planted-cluster neighbors at least as well as data-blind first-n
    cells (the same bar the other trained-centroid modes meet)."""
    import pandas as pd

    from dataclass_array_spark.operators.pq import ivf_pq_topk, pq_fit

    rng = np.random.RandomState(13)
    base = rng.randn(8, 8)
    vecs = (np.repeat(base, 8, axis=0) + 0.01 * rng.randn(64, 8)).astype(np.float32)
    pdf = pd.DataFrame({"id": range(64), "v": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf).select(
        "id", F.col("v").cast("array<float>").alias("v")
    )
    cbs = pq_fit(df, "id", "v", dim=8, m=2, codes=16, iters=2)
    q = df.filter(F.col("id") < 6)
    V = vecs.astype(np.float64)
    exact = {}
    for qid in range(6):
        d2 = ((V - V[qid]) ** 2).sum(axis=1)
        d2[qid] = np.inf
        exact[qid] = set(np.argsort(d2, kind="stable")[:3])

    def recall(mode):
        out = ivf_pq_topk(
            q, df, "id", "id", "v", cbs, n_centroids=8, nprobe=2, k=3,
            centroids=mode, kmeans_iters=2, kmeans_train_limit=32,
        ).toPandas()
        return sum(
            len(exact[qid] & set(out[out.qid == qid].nid)) for qid in range(6)
        )

    r_first, r_kmeans = recall("first"), recall("kmeans")
    assert r_kmeans >= r_first - 1  # trained cells no worse (1-hit jitter slack)
    assert r_kmeans >= 0.5 * 18


def test_edit_distance_join_planted(spark):
    """Known pairs at dist 1/2 are found; strings beyond k are not;
    duplicated carrier rows collapse to the distinct-name pair set."""
    import pandas as pd

    from dataclass_array_spark.operators.fuzzy import edit_distance_join

    names = ["cold ring", "old ring", "gold ring", "red bolt", "red bolt",
             "blue anvil", "xylophone"]
    df = spark.createDataFrame(pd.DataFrame({"nm": names}))
    got = {
        (r["name_a"], r["name_b"]): r["dist"]
        for r in edit_distance_join(df, "nm", k=2).collect()
    }
    assert got[("cold ring", "old ring")] == 1
    assert got[("gold ring", "old ring")] == 1
    assert got[("cold ring", "gold ring")] == 1
    assert all("red bolt" not in p and "xylophone" not in p for p in got), got


def test_pagerank_star_graph(spark):
    """On a star graph (everyone links to the hub, hub links back to
    one spoke), the hub must rank highest, the linked-back spoke second,
    and total mass stays <= 1 (dangling leakage only)."""
    import pandas as pd

    from dataclass_array_spark.operators.graph import pagerank

    edges = pd.DataFrame(
        {"src": [1, 2, 3, 4, 0], "dst": [0, 0, 0, 0, 1]}
    )
    out = {
        r["node"]: r["r"]
        for r in pagerank(
            spark.createDataFrame(edges), "src", "dst", iters=5
        ).collect()
    }
    assert max(out, key=out.get) == 0
    assert out[1] > out[2] and abs(out[2] - out[3]) < 1e-15
    assert sum(out.values()) <= 1.0 + 1e-9


def test_pq_adc_matches_python_fold(spark):
    """The Arrow ADC scorer must agree bit-for-bit with a pure-Python
    ADC (a fold per subspace, subspace terms added in order) on full
    top-k output."""
    import dataclass_array_spark.operators.pq as pqmod

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cbs = pqmod.pq_fit(
        e, "vec_id", "embedding", dim=64, m=4, codes=4, iters=1, train_limit=50
    )
    q = e.filter(F.col("vec_id") < 5)
    d = len(cbs[0][0])
    vecs = {r["vec_id"]: list(r["embedding"]) for r in e.collect()}
    codes = {i: _ref_pq_codes(v, cbs) for i, v in vecs.items()}

    def adc(qv, cs):
        total = 0.0
        for j, c in enumerate(cs):
            total += _fold(
                (x - y) * (x - y) for x, y in zip(qv[j * d : (j + 1) * d], cbs[j][c])
            )
        return total

    want = {}
    for qid in sorted(i for i in vecs if i < 5):
        ranked = sorted((adc(vecs[qid], cs), n) for n, cs in codes.items() if n != qid)
        want.update({(qid, r + 1): (n, dist) for r, (dist, n) in enumerate(ranked[:4])})
    arrow = {
        (r["qid"], r["rank"]): (r["nid"], r["dist"])
        for r in pqmod.pq_topk(
            q, e, "vec_id", "vec_id", "embedding", cbs, k=4, exclude_self=True,
        ).collect()
    }
    assert arrow == want


def test_triangle_counts_known_graph(spark):
    """K4 minus one edge: nodes {1,2,3,4} with (1,2)(1,3)(2,3)(2,4)(3,4)
    has exactly two triangles (1,2,3) and (2,3,4); multi-edges and
    reversed duplicates collapse."""
    import pandas as pd

    from dataclass_array_spark.operators.graph import triangle_counts

    edges = pd.DataFrame(
        {"src": [1, 3, 2, 2, 4, 2, 9], "dst": [2, 1, 3, 4, 3, 1, 9]}
    )
    got = {
        r["node"]: r["n_tri"]
        for r in triangle_counts(spark.createDataFrame(edges)).collect()
    }
    assert got == {1: 1, 2: 2, 3: 2, 4: 1}


def test_dq_report_flags(spark):
    """Constructed violations must flag: a dup key, a null FK, an
    orphan FK; row_count passes on presence."""
    import pandas as pd

    from dataclass_array_spark.operators.dq import (
        dq_metrics,
        dq_report,
        referential_violations,
    )

    child = spark.createDataFrame(
        pd.DataFrame({"id": [1, 1, 2, 3], "fk": [10.0, 10.0, None, 99.0]})
    )
    parent = spark.createDataFrame(pd.DataFrame({"pk": [10.0, 20.0]}))
    m = dq_metrics(
        child,
        {
            "row_count": F.count("*"),
            "id_dups": F.count("*") - F.countDistinct("id"),
            "fk_nulls": F.count("*") - F.count("fk"),
        },
    )
    ref = referential_violations(child, parent, "fk", "pk", "orphans")
    got = {
        r["check"]: (r["observed"], r["passed"])
        for r in dq_report(m, ref, zero_ok=("row_count",)).collect()
    }
    assert got == {
        "row_count": (4, True),
        "id_dups": (1, False),
        "fk_nulls": (1, False),
        "orphans": (1, False),
    }


def test_profile_columns_exact(spark):
    """Profiler stats on a known frame: nulls, distincts, and the
    dtype-normalized min/max (double floor-scaled, string null)."""
    import pandas as pd

    from dataclass_array_spark.operators.dq import profile_columns

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "a": [1, 2, 2, None],
                "b": [0.5, -1.25, 3.0, 3.0],
                "s": ["x", "y", None, "y"],
            }
        )
    ).select(F.col("a").cast("long").alias("a"), "b", "s")
    got = {
        r["col"]: (
            r["n_rows"], r["n_nulls"], r["n_distinct"], r["min_v"], r["max_v"]
        )
        for r in profile_columns(df, ["a", "b", "s"]).collect()
    }
    assert got["a"] == (4, 1, 2, 1, 2)
    assert got["b"] == (4, 0, 3, -1250000, 3000000)
    assert got["s"] == (4, 1, 2, None, None)


def test_budget_select_edges(spark):
    """Inclusive budget semantics and tie-breaks: a doc is kept iff the
    running total INCLUDING it fits; equal scores rank by id."""
    import pandas as pd

    from dataclass_array_spark.operators.sampling import budget_select

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [1, 2, 3, 4],
                "g": ["a", "a", "a", "b"],
                "q": [2.0, 2.0, 1.0, 5.0],
                "n": [3, 3, 3, 100],
            }
        )
    )
    got = {
        r["id"]: r["cum_tokens"]
        for r in budget_select(
            df, "id", "g", score=F.col("q"), n_tokens=F.col("n"), budget=6
        ).collect()
    }
    # group a: ids 1,2 (score tie -> id order) fill the budget exactly;
    # id 3 would exceed it.  group b: the single 100-token doc exceeds
    # the budget outright and is dropped.
    assert got == {1: 3, 2: 6}


def test_auto_k_plan_bounds_driver_centroids():
    """The auto-k sizing policy must keep driver-held centroid count
    <= auto_k_cap for ANY corpus size — the round-7 100 TB blocker."""
    from dataclass_array_spark.operators.clustering import _auto_k_plan

    cap = 65536
    for n in (1, 100, 10**6, 10**9, 10**11, 10**13):
        mode, sized = _auto_k_plan(n, 256, cap)
        assert sized <= cap, (n, mode, sized)
        if mode == "single":
            assert sized == max(1, -(-n // 256))
        else:
            # two-level: driver holds only the coarse set
            import math
            k = max(1, -(-n // 256))
            assert k > cap
            assert sized == min(math.isqrt(k - 1) + 1, cap)
    # boundary: exactly cap stays single-level
    assert _auto_k_plan(256 * 65536, 256, cap) == ("single", 65536)
    assert _auto_k_plan(256 * 65536 + 1, 256, cap)[0] == "two_level"


def test_semantic_dedup_auto_delegates_to_two_level(spark):
    """Past auto_k_cap, semantic_dedup(k='auto') must switch to the
    two-level partition: composite cluster ids, exact duplicates still
    dropped keep-lowest, and the survivor set valid."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(20, 8)).astype(np.float64)
    vecs = [list(map(float, base[i % 20] * (1.0 + 0.3 * (i // 20)))) for i in range(40)]
    # ids 100..103 are EXACT copies of id 0's vector (same argmin path
    # -> same (cell, fine) cluster -> cosine 1.0 pairs)
    dup = list(map(float, base[0]))
    pdf = pd.DataFrame(
        {
            "vec_id": list(range(40)) + [100, 101, 102, 103],
            "embedding": [np.array(v) for v in vecs] + [np.array(dup)] * 4,
        }
    )
    # vec 0 uses base[0] scaled 1.0 -> identical to dup rows
    df = spark.createDataFrame(pdf)

    from dataclass_array_spark.operators.clustering import semantic_dedup

    surv = semantic_dedup(
        df, "vec_id", "embedding", k="auto", iters=2, cos_threshold=0.999,
        target_cluster_size=4, auto_k_cap=2,  # ceil(44/4)=11 > 2 -> two-level
    ).collect()
    ids = {r["vec_id"] for r in surv}
    assert 0 in ids
    assert ids.isdisjoint({100, 101, 102, 103})  # exact dups of id 0 dropped
    assert ids <= set(range(40)) | {100, 101, 102, 103}
    # composite labels decompose into (cell < k_coarse=2, fine >= 0)
    for r in surv:
        cell, fine = divmod(r["cluster"], 2 ** 32)
        assert 0 <= cell < 2 and fine >= 0


def test_two_level_assignment_structure(spark):
    """kmeans_assign_two_level: every input row gets exactly one
    (cell, fine) pair, cells < k_coarse, and each row's dist equals the
    squared L2 distance to SOME fine centroid of its cell (sanity via
    non-negativity + reproducibility)."""
    from dataclass_array_spark.operators.clustering import kmeans_assign_two_level

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = kmeans_assign_two_level(
        e, "vec_id", "embedding", k_coarse=3, iters=2,
        target_cluster_size=32, coarse_train_limit=128, fine_train_limit=64,
    )
    rows = out.collect()
    assert len(rows) == e.count()
    assert len({r["vec_id"] for r in rows}) == len(rows)
    assert all(0 <= r["cell"] < 3 for r in rows)
    assert all(r["fine"] >= 0 and r["dist"] >= 0.0 for r in rows)
    # deterministic end to end
    again = {
        (r["vec_id"], r["cell"], r["fine"], r["dist"])
        for r in kmeans_assign_two_level(
            e, "vec_id", "embedding", k_coarse=3, iters=2,
            target_cluster_size=32, coarse_train_limit=128,
            fine_train_limit=64,
        ).collect()
    }
    assert again == {(r["vec_id"], r["cell"], r["fine"], r["dist"]) for r in rows}


def test_chunk_tokens_empty_and_null_text(spark):
    """sequence(0, -1) is DESCENDING in Spark — zero-token documents
    must produce an EMPTY chunk array, not two garbage chunks
    (round-8 regression)."""
    from dataclass_array_spark.operators.text import chunk_tokens

    pdf = pd.DataFrame({"t": ["", "   ", None, "a b c"]})
    rows = (
        spark.createDataFrame(pdf)
        .select(F.size(chunk_tokens(F.col("t"), 2, 0)).alias("n"))
        .collect()
    )
    assert [r["n"] for r in rows] == [0, 0, 0, 2]


def test_dedup_chunks_reports_tokenless_docs(spark):
    """Token-less documents must appear in the survival report as
    (id, 0, 0, md5('')) instead of silently vanishing (round-7
    ADVICE)."""
    import hashlib

    from dataclass_array_spark.operators.dedup import dedup_chunks

    pdf = pd.DataFrame(
        {"id": [1, 2, 3], "t": ["alpha beta gamma", "", "alpha beta gamma"]}
    )
    out = {
        r["id"]: (r["n_chunks"], r["n_kept"], r["kept_md5"])
        for r in dedup_chunks(
            spark.createDataFrame(pdf), "id", "t", chunk_size=2
        ).collect()
    }
    emp = hashlib.md5(b"").hexdigest()
    assert out[2] == (0, 0, emp)
    assert out[1][0] == 2 and out[1][1] == 2
    assert out[3] == (2, 0, emp)


def test_bigram_xent_scores_hand_example_and_edges(spark):
    """Add-one-smoothed bigram LM cross-entropy on a hand-checkable
    corpus, plus the edge docs (empty, single-token) that must score
    (0, 0.0).  Expected values computed with math.log — ln_exact
    agrees with libm to well past 1e-12 for these tiny integers."""
    import math

    from dataclass_array_spark.operators.text import bigram_xent_scores

    df = spark.createDataFrame(
        [
            (1, "a b a b"),   # bigrams: (a,b) (b,a) (a,b)
            (2, "a b c"),     # bigrams: (a,b) (b,c)
            (3, "x"),         # 1 token -> no bigrams
            (4, ""),          # empty
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["xent_nats"])
        for r in bigram_xent_scores(df, "text", "doc_id").collect()
    }
    # corpus: cb = {(a,b):3, (b,a):1, (b,c):1}; cu = {a:3, b:2}; V=4 (a b c x)
    V = 4
    p_ab = (3 + 1) / (3 + V)
    p_ba = (1 + 1) / (2 + V)
    p_bc = (1 + 1) / (2 + V)
    want1 = -(math.log(p_ab) + math.log(p_ba) + math.log(p_ab)) / 3
    want2 = -(math.log(p_ab) + math.log(p_bc)) / 2
    assert got[1][0] == 3 and abs(got[1][1] - want1) < 1e-12
    assert got[2][0] == 2 and abs(got[2][1] - want2) < 1e-12
    assert got[3] == (0, 0.0)
    assert got[4] == (0, 0.0)
    # smoothing sanity: the repeated bigram is MORE predictable
    assert got[1][1] < got[2][1]


def test_bigram_xent_heldout_oov_and_self_equivalence(spark):
    import math

    from dataclass_array_spark.operators.text import (
        bigram_xent_scores,
        bigram_xent_scores_heldout,
    )

    train = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], "doc_id long, text string"
    )
    score = spark.createDataFrame(
        [
            (10, "a b"),     # seen bigram
            (11, "c a"),     # seen prefix c? c never a prefix -> unseen prefix
            (12, "q r s"),   # fully OOV: every bigram scores ln V
            (13, "x"),       # no bigrams
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["xent_nats"])
        for r in bigram_xent_scores_heldout(
            train, score, "text", "doc_id"
        ).collect()
    }
    V = 3  # train vocab: a b c
    p_ab = (3 + 1) / (3 + V)
    assert got[10][0] == 1 and abs(got[10][1] + math.log(p_ab)) < 1e-12
    # unseen prefix: nll = ln(0 + V) - ln(0 + 1) = ln V
    assert got[11][0] == 1 and abs(got[11][1] - math.log(V)) < 1e-12
    assert got[12][0] == 2 and abs(got[12][1] - math.log(V)) < 1e-12
    assert got[13] == (0, 0.0)

    # self-scoring == the strict-join form, bit for bit
    a = {
        r["doc_id"]: (r["n_bigrams"], r["xent_nats"])
        for r in bigram_xent_scores(train, "text", "doc_id").collect()
    }
    b = {
        r["doc_id"]: (r["n_bigrams"], r["xent_nats"])
        for r in bigram_xent_scores_heldout(
            train, train, "text", "doc_id"
        ).collect()
    }
    assert a == b


def test_countmin_overestimate_and_merge(spark, sf_dir):
    """Count-min invariants on real tokens: (a) est >= exact for every
    item; (b) sketches of two shards MERGE by cell-summing into exactly
    the whole-corpus sketch; (c) estimates are reproducible run to run
    (deterministic md5 hashing)."""
    from dataclass_array_spark.operators.sketch import (
        countmin_build,
        countmin_lookup,
    )
    from dataclass_array_spark.operators.text import tokens

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tok = d.select(F.explode(tokens(F.col("text"))).alias("t"))
    exact = {r["t"]: r["c"] for r in tok.groupBy("t").agg(
        F.count("*").alias("c")).collect()}
    sk = countmin_build(tok, "t", depth=4, width=512)
    items = tok.select("t").distinct()
    est = {r["t"]: r["est"] for r in countmin_lookup(
        sk, items, "t", depth=4, width=512).collect()}
    assert set(est) == set(exact)
    assert all(est[t] >= c for t, c in exact.items())
    # with 512*4 cells the heavy hitters should estimate near-exactly
    top = max(exact, key=lambda t: (exact[t], t))
    assert est[top] <= exact[top] * 2

    # mergeability: shard sketches cell-sum to the full sketch
    a = countmin_build(
        d.filter(F.col("doc_id") % 2 == 0).select(
            F.explode(tokens(F.col("text"))).alias("t")), "t", 4, 512)
    b = countmin_build(
        d.filter(F.col("doc_id") % 2 == 1).select(
            F.explode(tokens(F.col("text"))).alias("t")), "t", 4, 512)
    merged = (
        a.unionByName(b).groupBy("j", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    full = {(r["j"], r["bucket"]): r["cnt"] for r in sk.collect()}
    got = {(r["j"], r["bucket"]): r["cnt"] for r in merged.collect()}
    assert got == full

    # unseen item: all-empty buckets -> 0 (or collision count >= 0)
    unseen = spark.createDataFrame([("zzz-never-a-token-qq",)], "t string")
    e = countmin_lookup(sk, unseen, "t", 4, 512).collect()[0]["est"]
    assert e >= 0


def test_hll_distinct_accuracy_and_branches(spark, sf_dir):
    """Portable HLL: (a) estimates land within the expected ~1.04/sqrt(m)
    band on real data; (b) the small-range (linear counting) branch is
    exercised by a tiny group and is ACCURATE there; (c) shard sketches
    merge by (group, bucket) MAX into the full estimate."""
    from dataclass_array_spark.operators.sketch import hll_distinct

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    exact = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    est = {
        r["event_type"]: r["est"]
        for r in hll_distinct(e, ["event_type"], "user_id", b=8).collect()
    }
    assert set(est) == set(exact)
    for k, n in exact.items():
        assert abs(est[k] - n) / n < 0.25, (k, n, est[k])

    # tiny group -> raw E <= 2.5m with empty buckets -> linear counting
    tiny = spark.createDataFrame(
        [("g", f"u{i % 37}") for i in range(500)], "g string, u string"
    )
    r = hll_distinct(tiny, ["g"], "u", b=8).collect()[0]
    assert r["n_buckets_used"] <= 37
    assert abs(r["est"] - 37) < 5, r["est"]

    # merge: per-shard (group,bucket,M) MAX-merge == full-corpus sketch
    from dataclass_array_spark.operators.sketch import _hash60

    m = 256
    h = _hash60(F.col("user_id").cast("string"))
    w = F.shiftright(h, 8)
    rho = F.when(w == 0, F.lit(53).cast("long")).otherwise(
        F.lit(52).cast("long") - (F.length(F.bin(w)) - 1)
    )

    def pb(df):
        return (
            df.select(
                "event_type",
                h.bitwiseAND(F.lit(m - 1).cast("long")).alias("b"),
                rho.alias("r"),
            )
            .groupBy("event_type", "b")
            .agg(F.max("r").alias("M"))
        )

    full = {(r["event_type"], r["b"]): r["M"] for r in pb(e).collect()}
    sh = [pb(e.filter(F.col("event_id") % 2 == i)) for i in (0, 1)]
    merged_df = (
        sh[0].unionByName(sh[1]).groupBy("event_type", "b")
        .agg(F.max("M").alias("M"))
    )
    merged = {(r["event_type"], r["b"]): r["M"] for r in merged_df.collect()}
    assert merged == full


def test_token_entropy_hand_example(spark):
    """H = ln n - (1/n) sum c ln c on hand-checkable docs + edges."""
    import math

    from dataclass_array_spark.operators.text import token_entropy_scores

    df = spark.createDataFrame(
        [
            (1, "a a a a"),      # one token: H = 0
            (2, "a b c d"),      # all distinct: H = ln 4
            (3, "a a b b"),      # H = ln4 - (1/4)(2ln2 + 2ln2) = ln2
            (4, ""),             # empty: (0, 0.0)
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["entropy_nats"])
        for r in token_entropy_scores(df, "text", "doc_id").collect()
    }
    assert got[1][0] == 4 and abs(got[1][1]) < 1e-12
    assert got[2][0] == 4 and abs(got[2][1] - math.log(4)) < 1e-12
    assert got[3][0] == 4 and abs(got[3][1] - math.log(2)) < 1e-12
    assert got[4] == (0, 0.0)


LM_SCORERS = {  # the seven n-gram LM scorers -> their n-gram order
    "unigram_xent_scores": 1,
    "bigram_xent_scores": 2,
    "bigram_xent_scores_heldout": 2,
    "kneser_ney_xent_scores": 2,
    "kneser_ney_xent_scores_heldout": 2,
    "kneser_ney3_xent_scores": 3,
    "kn3_score_from_counts": 3,
}


def lm_score(name, train, score):
    """Run LM scorer ``name`` on ``score``: self-scoring forms ignore
    ``train``, held-out forms train on it, and ``kn3_score_from_counts``
    takes its trigram count table."""
    from dataclass_array_spark.operators import text as tx

    fn = getattr(tx, name)
    if name == "kn3_score_from_counts":
        return fn(tx._ngram_counts(train, "text", 3), score, "text", "doc_id")
    if name.endswith("_heldout"):
        return fn(train, score, "text", "doc_id")
    return fn(score, "text", "doc_id")


@pytest.mark.parametrize(
    "scorer", ["token_entropy_scores", *LM_SCORERS]
)
def test_token_entropy_null_ids_keep_one_row_each(spark, scorer):
    """NULL-id docs are not merged into one group: each keeps its own
    row and n-gram count, next to the non-NULL ids — in the token
    entropy and in every LM scorer (held-out forms with train = score)."""
    data = [(None, "a a"), (None, "b c d"), (7, "x y")]
    df = spark.createDataFrame(data, "doc_id long, text string")
    order = LM_SCORERS.get(scorer, 1)
    if scorer == "token_entropy_scores":
        from dataclass_array_spark.operators.text import token_entropy_scores

        out = token_entropy_scores(df, "text", "doc_id")
    else:
        out = lm_score(scorer, df, df)
    assert sorted((r[0] is None, r[1]) for r in out.collect()) == sorted(
        (i is None, max(len(t.split()) - order + 1, 0)) for i, t in data
    )


def test_bloom_no_false_negatives_and_union_merge(spark, sf_dir):
    from dataclass_array_spark.operators.sketch import bloom_build, bloom_probe

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    s = o.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_orderkey").alias("key")
    )
    members = {r["key"] for r in s.distinct().collect()}
    bloom = bloom_build(s, "key", n_bits=1 << 16, k=5)
    probes = o.select(F.col("o_orderkey").alias("key")).distinct()
    got = {
        r["key"]: r["in_bloom"]
        for r in bloom_probe(bloom, probes, "key", 1 << 16, 5).collect()
    }
    # NO false negatives, ever
    assert all(got[k] for k in members)
    # false-positive rate sane for these parameters (k=5, m=65536)
    non = [k for k in got if k not in members]
    fp = sum(1 for k in non if got[k])
    assert fp / max(len(non), 1) < 0.05, fp

    # union merge: bloom(A ∪ B) == bloom(A) ∪ bloom(B) as position sets
    a = bloom_build(s.filter(F.col("key") % 2 == 0), "key", 1 << 16, 5)
    b = bloom_build(s.filter(F.col("key") % 2 == 1), "key", 1 << 16, 5)
    merged = {r["pos"] for r in a.unionByName(b).distinct().collect()}
    full = {r["pos"] for r in bloom.collect()}
    assert merged == full


def test_ols2_matches_numpy_lstsq(spark, sf_dir):
    """Cramer-over-decimal-moments == numpy least squares (well within
    double noise on this well-conditioned system), and the singular
    (collinear) case yields NULLs rather than garbage."""
    import numpy as np

    from dataclass_array_spark.operators.robust import ols2_by_group

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag", "l_quantity", "l_discount", "l_extendedprice"
    )
    got = {
        r["l_returnflag"]: (r["b1"], r["b2"], r["intercept"])
        for r in ols2_by_group(
            li, "l_returnflag", "l_quantity", "l_discount", "l_extendedprice"
        ).collect()
    }
    pdf = li.toPandas()
    for flag, g in pdf.groupby("l_returnflag"):
        X = np.column_stack(
            [g["l_quantity"], g["l_discount"], np.ones(len(g))]
        ).astype(float)
        beta, *_ = np.linalg.lstsq(X, g["l_extendedprice"].astype(float), rcond=None)
        b1, b2, b0 = got[flag]
        assert abs(b1 - beta[0]) < 1e-6 * max(1, abs(beta[0]))
        assert abs(b2 - beta[1]) < 1e-4 * max(1, abs(beta[1]))
        assert abs(b0 - beta[2]) < 1e-6 * max(1, abs(beta[2]))

    sing = spark.createDataFrame(
        [("g", 1.0, 2.0, 5.0), ("g", 2.0, 4.0, 7.0), ("g", 3.0, 6.0, 9.0)],
        "g string, x1 double, x2 double, y double",
    )
    r = ols2_by_group(sing, "g", "x1", "x2", "y").collect()[0]
    assert r["b1"] is None and r["b2"] is None and r["intercept"] is None


def test_sq8_recall_vs_brute_force(spark, sf_dir):
    """SQ8 quantization sanity: with 256 levels per dim the top-5
    neighbor sets should overlap heavily with exact brute force, and
    dequantization error is bounded by the per-dim step size."""
    from dataclass_array_spark.operators.pq import (
        sq8_bounds,
        sq8_encode,
        sq8_topk,
    )
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    bounds = sq8_bounds(e, "embedding", 64)
    assert len(bounds) == 64 and all(mn <= mx for mn, mx in bounds)
    q = e.filter(F.col("vec_id") < 8)
    approx = sq8_topk(
        q, e, "vec_id", "vec_id", "embedding", bounds, k=5, exclude_self=True
    )
    a = {(r["qid"], r["nid"]) for r in approx.collect()}
    # exact L2 top-5 via numpy
    import numpy as np

    pdf = e.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy()
    V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    b = set()
    for qid in range(8):
        qi = np.flatnonzero(ids == qid)[0]
        d2 = ((V - V[qi]) ** 2).sum(axis=1)
        order = np.lexsort((ids, d2))
        picked = [int(ids[j]) for j in order if ids[j] != qid][:5]
        b |= {(qid, n) for n in picked}
    assert len(a & b) / len(b) >= 0.8, (len(a & b), len(b))
    # codes in range
    codes = sq8_encode(e.limit(50), "vec_id", "embedding", bounds).collect()
    for r in codes:
        assert all(0 <= c <= 255 for c in r["codes"])


def test_hist_quantiles_accuracy_and_merge(spark, sf_dir):
    """Histogram quantile sketch: estimates within one bucket width of
    exact numpy percentiles, and shard histograms cell-SUM into the
    full histogram."""
    import numpy as np

    from dataclass_array_spark.operators.sketch import hist_build, hist_quantiles

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag", "l_orderkey", F.col("l_extendedprice").cast("double").alias("x")
    )
    r = li.agg(F.min("x"), F.max("x")).collect()[0]
    lo, hi = float(r[0]), float(r[1])
    nb = 4096
    h = hist_build(li, ["l_returnflag"], "x", lo, hi, nb)
    est = {
        r["l_returnflag"]: (r["p50_est"], r["p95_est"])
        for r in hist_quantiles(h, ["l_returnflag"], [0.5, 0.95], lo, hi, nb).collect()
    }
    width = (hi - lo) / nb
    pdf = li.toPandas()
    for flag, g in pdf.groupby("l_returnflag"):
        xs = np.sort(g["x"].to_numpy())
        for p, got in zip((0.5, 0.95), est[flag]):
            exact = xs[int(np.ceil(p * len(xs))) - 1]
            assert abs(got - exact) <= width, (flag, p, got, exact, width)

    a = hist_build(li.filter(F.col("l_orderkey") % 2 == 0), ["l_returnflag"], "x", lo, hi, nb)
    b = hist_build(li.filter(F.col("l_orderkey") % 2 == 1), ["l_returnflag"], "x", lo, hi, nb)
    merged = (
        a.unionByName(b).groupBy("l_returnflag", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    full = {(r["l_returnflag"], r["bucket"]): r["cnt"] for r in h.collect()}
    got = {(r["l_returnflag"], r["bucket"]): r["cnt"] for r in merged.collect()}
    assert got == full


def test_hll_set_operations(spark, sf_dir):
    """HLL set-op estimates: the sketch-level MAX-merge union equals
    HLL built directly over the union (exact sketch identity), and
    inclusion-exclusion lands near the exact intersection."""
    from dataclass_array_spark.operators.sketch import (
        hll_estimate,
        hll_per_bucket,
    )

    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.lit("all").alias("tag"), "user_id", "event_type"
    )
    a = e.filter(F.col("event_type") == "click")
    b = e.filter(F.col("event_type") == "purchase")
    pa = hll_per_bucket(a, ["tag"], "user_id")
    pb = hll_per_bucket(b, ["tag"], "user_id")
    merged = (
        pa.unionByName(pb).groupBy("tag", "__bkt").agg(F.max("__M").alias("__M"))
    )
    direct = hll_per_bucket(a.unionByName(b), ["tag"], "user_id")
    assert {tuple(r) for r in merged.collect()} == {
        tuple(r) for r in direct.collect()
    }
    est_u = hll_estimate(merged, ["tag"]).collect()[0]["est"]
    est_a = hll_estimate(pa, ["tag"]).collect()[0]["est"]
    est_b = hll_estimate(pb, ["tag"]).collect()[0]["est"]
    cu = a.select("user_id").distinct()
    pu = b.select("user_id").distinct()
    n_both = cu.join(pu, "user_id").count()
    est_i = (est_a + est_b) - est_u
    assert abs(est_i - n_both) / max(n_both, 1) < 0.35, (est_i, n_both)


def test_hist_quantiles_rejects_colliding_labels(spark):
    from dataclass_array_spark.operators.sketch import hist_quantiles

    h = spark.createDataFrame([("g", 0, 1)], "g string, bucket int, cnt long")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="colliding column labels"):
        hist_quantiles(h, ["g"], [0.95, 0.955], 0.0, 1.0, nbuckets=16)
    with _pytest.raises(ValueError, match="colliding column labels"):
        hist_quantiles(h, ["g"], [0.5, 0.5], 0.0, 1.0, nbuckets=16)


def test_kneser_ney_xent_matches_fraction_reference(spark):
    """Interpolated KN (D=3/4): per-doc xent must match a
    Fraction-exact Python reference (probabilities are ratios of
    integers by construction), and the smoothed distribution must sum
    to EXACTLY 1 over the vocabulary per prefix."""
    import math
    from collections import Counter
    from fractions import Fraction

    from dataclass_array_spark.operators.text import kneser_ney_xent_scores

    docs = [
        ("d1", "a b a b c"),
        ("d2", "a b c c b"),
        ("d3", "b a"),
        ("d4", "x"),       # no bigrams
        ("d5", ""),        # empty
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["xent_nats"])
        for r in kneser_ney_xent_scores(df, "text", "doc_id").collect()
    }

    bigs = {}
    cb = Counter()
    for did, t in docs:
        toks = t.split()
        bl = list(zip(toks, toks[1:]))
        bigs[did] = bl
        cb.update(bl)
    cu = Counter()
    n1w1 = Counter()
    ncw2 = Counter()
    for (w1, w2), c in cb.items():
        cu[w1] += c
        n1w1[w1] += 1
        ncw2[w2] += 1
    T = len(cb)
    D = Fraction(3, 4)

    def p(w1, w2):
        return (Fraction(cb[(w1, w2)]) - D) / cu[w1] + (
            D * n1w1[w1] / cu[w1]
        ) * Fraction(ncw2[w2], T)

    # sums to exactly 1 over the vocab, per prefix
    vocab = set(ncw2)
    for w1 in cu:
        assert sum(
            (p(w1, w2) if (w1, w2) in cb else (D * n1w1[w1] / cu[w1]) * Fraction(ncw2[w2], T))
            for w2 in vocab
        ) == 1, w1

    for did, bl in bigs.items():
        n, xe = got[did]
        assert n == len(bl)
        if not bl:
            assert xe == 0.0
            continue
        want = sum(-math.log(p(w1, w2)) for w1, w2 in bl) / len(bl)
        assert abs(xe - want) < 1e-9, (did, xe, want)


def test_checked_i64_guard_fires_past_bigint(spark):
    """The KN overflow guard (round-13, VERDICT r12 item 5): a
    decimal(38,0) product past 2^63-1 must raise loudly instead of
    wrapping — including one so large the decimal itself overflows to
    NULL — while in-range values cast through unchanged."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dataclass_array_spark.operators.text import _dec38, checked_i64

    one = spark.range(1)
    # in range: identity
    assert one.select(
        checked_i64(_dec38(F.lit((1 << 62) - 1)), "x").alias("v")
    ).collect()[0]["v"] == (1 << 62) - 1
    # 4·c·T with c,T near 2^31.5 → just past 2^63-1
    with _pytest.raises(Exception, match="exceeds BIGINT"):
        one.select(
            checked_i64(
                _dec38(F.lit(1 << 31)) * 4 * _dec38(F.lit(1 << 31)), "4*c*T"
            )
        ).collect()
    # decimal(38,0) itself overflows (NULL under non-ANSI) → same raise
    with _pytest.raises(Exception, match="exceeds BIGINT"):
        one.select(
            checked_i64(
                _dec38(F.lit((1 << 62) + 1)) * _dec38(F.lit((1 << 62) + 1)),
                "t^2",
            )
        ).collect()


def test_kneser_ney_heldout_self_scoring_equivalence(spark):
    """heldout(train=d, score=d) must reproduce the self-scoring
    operator BIT-identically — every scored bigram is observed, so the
    OOV branches never fire and branch 1 shares the exact expressions."""
    from dataclass_array_spark.operators.text import (
        kneser_ney_xent_scores,
        kneser_ney_xent_scores_heldout,
    )

    docs = [
        ("d1", "a b a b c"),
        ("d2", "a b c c b"),
        ("d3", "b a"),
        ("d4", "x"),
        ("d5", ""),
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    a = {
        r["doc_id"]: (r["n_bigrams"], r["xent_nats"])
        for r in kneser_ney_xent_scores(df, "text", "doc_id").collect()
    }
    b = {
        r["doc_id"]: (r["n_bigrams"], r["xent_nats"])
        for r in kneser_ney_xent_scores_heldout(
            df, df, "text", "doc_id"
        ).collect()
    }
    assert a == b  # exact, including float bits


def test_kneser_ney_heldout_matches_fraction_reference(spark):
    """All three held-out branches against a Fraction-exact Python
    reference: seen bigram, unseen bigram w/ seen prefix (seen and OOV
    continuation word), and unseen prefix."""
    import math
    from collections import Counter
    from fractions import Fraction

    from dataclass_array_spark.operators.text import (
        kneser_ney_xent_scores_heldout,
    )

    train = [
        ("t1", "a b a b c"),
        ("t2", "a b c c b"),
        ("t3", "b a"),
    ]
    score = [
        ("s1", "a b c"),      # all bigrams seen (branch 1)
        ("s2", "a c b"),      # (a,c): unseen bigram, seen prefix+cont (b2)
        ("s3", "a z b"),      # (a,z): b2 with OOV cont; (z,b): unseen prefix
        ("s4", "z q"),        # unseen prefix + OOV cont (branch 4, floor)
        ("s5", "x"),          # no bigrams
    ]
    tdf = spark.createDataFrame(train, "doc_id string, text string")
    sdf = spark.createDataFrame(score, "doc_id string, text string")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["xent_nats"])
        for r in kneser_ney_xent_scores_heldout(
            tdf, sdf, "text", "doc_id"
        ).collect()
    }

    cb = Counter()
    for _, t in train:
        toks = t.split()
        cb.update(zip(toks, toks[1:]))
    cu, n1w1, ncw2 = Counter(), Counter(), Counter()
    for (w1, w2), c in cb.items():
        cu[w1] += c
        n1w1[w1] += 1
        ncw2[w2] += 1
    T = len(cb)

    def p(w1, w2):
        ncf = max(ncw2[w2], 1)
        if (w1, w2) in cb:
            return Fraction(
                (4 * cb[(w1, w2)] - 3) * T + 3 * n1w1[w1] * ncw2[w2],
                4 * cu[w1] * T,
            )
        if w1 in cu:
            return Fraction(3 * n1w1[w1] * ncf, 4 * cu[w1] * T)
        return Fraction(ncf, T)

    for did, t in score:
        toks = t.split()
        bl = list(zip(toks, toks[1:]))
        n, xe = got[did]
        assert n == len(bl)
        if not bl:
            assert xe == 0.0
            continue
        want = sum(-math.log(p(w1, w2)) for w1, w2 in bl) / len(bl)
        assert abs(xe - want) < 1e-9, (did, xe, want)


def test_kneser_ney_heldout_empty_train_raises(spark):
    """Empty training corpus → loud assert (T = 0 would feed ln(0))."""
    import pytest as _pytest

    from dataclass_array_spark.operators.text import (
        kneser_ney_xent_scores_heldout,
    )

    empty = spark.createDataFrame([], "doc_id string, text string")
    sdf = spark.createDataFrame([("s1", "a b")], "doc_id string, text string")
    with _pytest.raises(Exception, match="empty training corpus"):
        kneser_ney_xent_scores_heldout(empty, sdf, "text", "doc_id").collect()


def test_classifier_score_matches_python_reference(spark):
    """Hashed-n-gram linear classifier vs a straight-line Python model
    (hashlib md5 buckets, Fraction-exact dot product): n_features,
    score, and margin must match on mixed docs including empties,
    repeated n-grams, and sub-bigram docs."""
    import hashlib
    from fractions import Fraction

    from dataclass_array_spark.operators.classifier import (
        classifier_score,
        hash_weights,
    )

    nb = 64  # tiny → guaranteed bucket collisions
    docs = [
        ("d1", "the quick brown fox the quick"),
        ("d2", "single"),
        ("d3", ""),
        ("d4", "a a a a"),
        ("d5", "  spaced   out  tokens "),
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    got = {
        r["doc_id"]: (r["n_features"], r["score"], r["margin"])
        for r in classifier_score(
            df, hash_weights(spark, nb), "text", "doc_id", nb
        ).collect()
    }

    def bucket(f):
        return int(hashlib.md5(f"clf|{f}".encode()).hexdigest()[:15], 16) % nb

    def w(b):
        return Fraction((b * 2654435761 + 12345) % 2000001 - 1000000, 10**6)

    for did, t in docs:
        toks = t.lower().split()
        feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        s = sum((w(bucket(f)) for f in feats), Fraction(0))
        n, score, margin = got[did]
        assert n == len(feats), (did, n, len(feats))
        assert score == float(s), (did, score, float(s))
        want_m = float(s) / len(feats) if feats else 0.0
        assert margin == want_m, (did, margin, want_m)


def test_pmi_collocations_matches_python_reference(spark):
    """PMI over adjacent pairs vs a Counter/math Python reference:
    values, min_count filter, top-k order (pmi DESC, w1, w2)."""
    import math
    from collections import Counter

    from dataclass_array_spark.operators.text import pmi_collocations

    docs = [
        ("d1", "new york new york city"),
        ("d2", "new york is a big city"),
        ("d3", "a big apple in new york"),
        ("d4", "city of new york"),
        ("d5", ""),
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    got = [
        (r["w1"], r["w2"], r["n_pair"], r["pmi"])
        for r in pmi_collocations(df, "text", min_count=2, top_k=5).collect()
    ]

    cb = Counter()
    for _, t in docs:
        toks = t.split()
        cb.update(zip(toks, toks[1:]))
    c1, c2 = Counter(), Counter()
    for (w1, w2), c in cb.items():
        c1[w1] += c
        c2[w2] += c
    n = sum(cb.values())
    cands = [
        (w1, w2, c, math.log(c * n) - math.log(c1[w1] * c2[w2]))
        for (w1, w2), c in cb.items()
        if c >= 2
    ]
    cands.sort(key=lambda x: (-x[3], x[0], x[1]))
    want = cands[:5]
    assert [(a, b, c) for a, b, c, _ in want] == [
        (a, b, c) for a, b, c, _ in got
    ]
    for (_, _, _, wp), (_, _, _, gp) in zip(want, got):
        assert abs(wp - gp) < 1e-9


def test_dsir_log_weights_matches_python_reference(spark):
    """DSIR importance weights vs a hashlib/math Python reference:
    Laplace-smoothed hashed-feature distributions, per-doc ordered sum,
    empty-doc zero.  Target docs must score higher than off-target."""
    import hashlib
    import math

    from dataclass_array_spark.operators.classifier import dsir_log_weights

    nb = 128
    target = [("t1", "the cat sat on the mat"), ("t2", "the cat ran")]
    source = target + [
        ("s1", "der hund lief schnell weg"),
        ("s2", "el gato corre"),
        ("s3", ""),
    ]
    tdf = spark.createDataFrame(target, "doc_id string, text string")
    sdf = spark.createDataFrame(source, "doc_id string, text string")
    got = {
        r["doc_id"]: (r["n_features"], r["log_weight"])
        for r in dsir_log_weights(
            tdf, sdf, sdf, "text", "doc_id", nb
        ).collect()
    }

    def feats(t):
        toks = t.lower().split()
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def bucket(f):
        return int(hashlib.md5(f"dsir|{f}".encode()).hexdigest()[:15], 16) % nb

    ct, cs = {}, {}
    for _, t in target:
        for f in feats(t):
            ct[bucket(f)] = ct.get(bucket(f), 0) + 1
    for _, t in source:
        for f in feats(t):
            cs[bucket(f)] = cs.get(bucket(f), 0) + 1
    nt, ns = sum(ct.values()) + nb, sum(cs.values()) + nb
    scal = math.log(ns) - math.log(nt)
    for did, t in source:
        fs = feats(t)
        s = 0.0
        for f in fs:
            b = bucket(f)
            s += math.log(ct.get(b, 0) + 1) - math.log(cs.get(b, 0) + 1)
        want = s + len(fs) * scal if fs else 0.0
        n, lw = got[did]
        assert n == len(fs), (did, n, len(fs))
        assert abs(lw - want) < 1e-9, (did, lw, want)
    # in-target docs outscore off-target docs
    assert min(got["t1"][1], got["t2"][1]) > max(got["s1"][1], got["s2"][1])
    assert got["s3"] == (0, 0.0)


def test_grouped_ntile_matches_window_ntile(spark):
    """grouped_ntile (two-phase, no single-task-per-group sort) must be
    value-identical to F.ntile over the same fully tie-broken order —
    including groups smaller than n, ties in the order value, and
    uneven divisions."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dataclass_array_spark.operators.rank import (
        grouped_ntile,
        grouped_rank,
    )

    rng = random.Random(13)
    rows = [
        (f"g{rng.randint(0, 4)}", float(rng.randint(0, 9)), i)
        for i in range(500)
    ] + [("tiny", 1.0, 1000), ("tiny", 1.0, 1001)]  # group smaller than n
    df = spark.createDataFrame(rows, "g string, v double, id long").repartition(8)

    for n in (2, 3, 4, 7):
        got = {
            r["id"]: r["bucket"]
            for r in grouped_ntile(df, "g", ["v", "id"], n).collect()
        }
        w = Window.partitionBy("g").orderBy(F.asc("v"), F.asc("id"))
        want = {
            r["id"]: r["b"]
            for r in df.select(
                "id", F.ntile(n).over(w).cast("long").alias("b")
            ).collect()
        }
        assert got == want, (n, {k: (got[k], want[k]) for k in got if got[k] != want[k]})

    # rank itself: dense global order per group
    ranked = {
        r["id"]: r["rank"]
        for r in grouped_rank(df, "g", ["v", "id"]).collect()
    }
    wr = Window.partitionBy("g").orderBy(F.asc("v"), F.asc("id"))
    want_r = {
        r["id"]: r["r"]
        for r in df.select(
            "id", F.row_number().over(wr).cast("long").alias("r")
        ).collect()
    }
    assert ranked == want_r


def test_temperature_rates_arbitrary_alpha_matches_pow(spark):
    """exp_exact(alpha*ln_exact(n)) must agree with libm pow for
    realistic counts (1e-6 relative on the final rate — the weight
    TOTAL is quantized to decimal(38,6) for order-independent
    summation, which dominates the tolerance; the exp/ln pair itself
    is ~1e-15), and rates must be re-run stable."""
    from dataclass_array_spark.operators.sampling import (
        temperature_mixture_rates,
    )

    df = spark.createDataFrame(
        [(f"d{i % 7}", i) for i in range(300)], "dom string, id long"
    )
    rates = temperature_mixture_rates(df, "dom", 100.0, alpha=0.3)
    rows = {r["dom"]: (r["n_docs"], r["rate"]) for r in rates.collect()}
    import math

    wts = {d: math.pow(n, 0.3) for d, (n, _) in rows.items()}
    tot = sum(wts.values())
    for d, (n, rate) in rows.items():
        want = min(1.0, 100.0 * (wts[d] / tot) / n)
        assert rate == pytest.approx(want, rel=1e-6), d
    again = {r["dom"]: r["rate"] for r in
             temperature_mixture_rates(df, "dom", 100.0, alpha=0.3).collect()}
    assert again == {d: r for d, (_, r) in rows.items()}


def test_temperature_mixture_weight_overflow_raises(spark):
    """Round-14 ADVICE (medium): a weight past the decimal(38,6)
    accumulator (n^alpha >= 1e32) must raise LOUDLY — before the fix,
    Spark's non-ANSI cast overflowed to NULL and F.sum silently
    SKIPPED the weight (inflating every other domain's rate) while the
    DuckDB mirror raised on the identical cast.  alpha=30 with a
    12-row domain gives 12^30 ~ 2.4e32: inside exp_exact's 2^124
    domain, outside the accumulator's."""
    from dataclass_array_spark.operators.sampling import (
        temperature_mixture_rates,
    )

    df = spark.createDataFrame(
        [("big", i) for i in range(12)] + [("small", 100 + i) for i in range(3)],
        "dom string, id long",
    )
    with pytest.raises(Exception, match="exceeds decimal"):
        temperature_mixture_rates(df, "dom", 10.0, alpha=30.0).collect()


def test_temperature_mixture_in_domain_unaffected_by_guard(spark):
    """The overflow guard must be value-transparent in-domain (gate
    values pinned)."""
    from dataclass_array_spark.operators.sampling import (
        temperature_mixture_rates,
    )

    df = spark.createDataFrame(
        [(f"d{i % 4}", i) for i in range(100)], "dom string, id long"
    )
    rows = {r["dom"]: r["rate"] for r in
            temperature_mixture_rates(df, "dom", 40.0, alpha=0.5).collect()}
    import math

    wts = {f"d{k}": math.sqrt(25.0) for k in range(4)}
    tot = sum(wts.values())
    for d, rate in rows.items():
        want = min(1.0, 40.0 * (wts[d] / tot) / 25.0)
        assert rate == pytest.approx(want, rel=1e-9), d
