"""Every bounded driver fold equals its distributed path.

Operators whose input is bounded by construction (sketch tables,
vocabularies, per-partition partial sums) fold it on the driver when
``core.table.collect_bounded`` returns its rows.  Each case runs once
with the default dispatch and once under ``force_distributed``, and the
collected results and schemas must be identical.  Group keys include
NULLs: the q-digest folds drop those groups exactly as the distributed
equi-joins (and the DuckDB oracle) do, grouped_cumsum keeps them as
their own group on both paths."""

import random

import pytest
from pyspark.sql import functions as F

BITS, K = 10, 32


def _key(df):
    return sorted(df.collect(), key=repr), df.schema


def _prices(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.when(F.col("l_orderkey") % 5 == 0, F.lit(None))
        .otherwise(F.col("l_returnflag"))
        .alias("g"),
        F.col("l_orderkey"),
        F.col("l_extendedprice").cast("double").alias("x"),
    )
    r = li.agg(F.min("x"), F.max("x")).collect()[0]
    return li, float(r[0]), float(r[1])


def _null_nodes(spark):
    # NULL-key nodes at the bottom, the middle and the top of the trie,
    # plus one top-level node of a real group for the merge to absorb
    return spark.createDataFrame(
        [(None, 0, 7, 5), (None, 3, 1, 2), (None, BITS, 0, 4), ("A", BITS, 0, 3)],
        "g string, lvl long, id long, cnt long",
    )


def case_qdigest_build(spark, sf_dir):
    from dataclass_array_spark.operators.qdigest import qdigest_build

    li, lo, hi = _prices(spark, sf_dir)
    return [
        _key(qdigest_build(li, gc, "x", lo, hi, BITS, K)) for gc in (["g"], [])
    ]


def case_qdigest_merge(spark, sf_dir):
    from dataclass_array_spark.operators.qdigest import (
        qdigest_build,
        qdigest_merge,
    )

    li, lo, hi = _prices(spark, sf_dir)
    halves = [li.filter(F.col("l_orderkey") % 2 == b) for b in (0, 1)]
    grouped = [qdigest_build(h, ["g"], "x", lo, hi, BITS, K) for h in halves]
    flat = [qdigest_build(h, [], "x", lo, hi, BITS, K) for h in halves]
    return [
        _key(qdigest_merge(grouped + [_null_nodes(spark)], ["g"], BITS, K)),
        _key(qdigest_merge(flat, [], BITS, K)),
    ]


def case_qdigest_quantiles(spark, sf_dir):
    from dataclass_array_spark.operators.qdigest import (
        qdigest_build,
        qdigest_quantiles,
    )

    li, lo, hi = _prices(spark, sf_dir)
    ps = [0.5, 0.9, 0.99]
    digest = qdigest_build(li, ["g"], "x", lo, hi, BITS, K).unionByName(
        _null_nodes(spark)
    )
    flat = qdigest_build(li, [], "x", lo, hi, BITS, K)
    return [
        _key(qdigest_quantiles(digest, ["g"], ps, lo, hi, BITS)),
        _key(qdigest_quantiles(flat, [], ps, lo, hi, BITS)),
    ]


def case_hist_quantiles(spark, sf_dir):
    from dataclass_array_spark.operators.sketch import hist_build, hist_quantiles

    li, lo, hi = _prices(spark, sf_dir)
    nb = 512
    out = []
    for gc in (["g"], []):
        h = hist_build(li, gc, "x", lo, hi, nb)
        out.append(_key(hist_quantiles(h, gc, [0.5, 0.95], lo, hi, nb)))
    return out


def case_grouped_cumsum(spark, sf_dir):
    from dataclass_array_spark.operators.packing import grouped_cumsum

    rng = random.Random(461)
    rows = [
        (float(i), rng.choice(["a", "b", None]), rng.randint(0, 9),
         rng.randint(-5, 5))
        for i in range(1200)
    ]
    df = spark.createDataFrame(rows, "k double, g string, v long, w long")
    got = grouped_cumsum(df, ["g"], "k", ["v", "w"], out_col=["cv", "cw"])
    return [_key(got)]


def case_bpe_train_encode(spark, sf_dir):
    from dataclass_array_spark.operators.bpe import bpe_encode, bpe_train

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(80)
        .select("doc_id", "text")
        .unionByName(
            spark.createDataFrame([(10**9, None)], "doc_id long, text string")
        )
    )
    merges = bpe_train(docs, "text", 12, min_count=2, batch_pairs=16)
    table = [tuple(r) for r in merges.orderBy("merge_rank").collect()]
    assert len(table) > 0
    return [(table, merges.schema), _key(bpe_encode(docs, "text", "doc_id", merges))]


def case_bpe_word_symbols(spark, sf_dir):
    from dataclass_array_spark.operators.bpe import _word_counts, bpe_word_symbols

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    words = _word_counts(docs, "text")
    merges = [("t", "h"), ("th", "e"), ("i", "n"), ("e", "r")]
    ints = spark.createDataFrame([(12, 3), (7, 2)], "wid long, cnt long")
    return [
        _key(bpe_word_symbols(words, merges)),
        _key(bpe_word_symbols(ints, merges)),
    ]


CASES = {
    name[len("case_"):]: fn for name, fn in globals().items() if name.startswith("case_")
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_driver_fold_equals_distributed(
    spark, sf_dir, case, monkeypatch, force_distributed
):
    from dataclass_array_spark.core import table

    folded = []
    bounded = table.collect_bounded

    def spy(df, cap=1 << 16):
        rows = bounded(df, cap)
        folded.append(rows is not None)
        return rows

    with monkeypatch.context() as m:
        m.setattr(table, "collect_bounded", spy)
        driver = CASES[case](spark, sf_dir)
    assert any(folded), "the default dispatch never took a driver fold"
    with force_distributed():
        distributed = CASES[case](spark, sf_dir)
    for (d_rows, d_schema), (x_rows, x_schema) in zip(driver, distributed):
        assert d_rows and d_rows == x_rows
        assert d_schema == x_schema
