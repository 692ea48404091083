"""Bucketed-table join: the write-time layout lever that removes the
shuffle from repeated big-big joins (PERF.md star-join note).  Verifies
the physical plan has NO Exchange on either side of the join."""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F


def _write_bucketed(df, path, n, col, table_name):
    df.write.mode("overwrite").bucketBy(n, col).sortBy(col).option(
        "path", path
    ).saveAsTable(table_name)


@pytest.fixture(scope="module")
def warehouse(spark, sf_dir, tmp_path_factory):
    wh = tmp_path_factory.mktemp("warehouse")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    _write_bucketed(li, str(wh / "li_b"), 8, "l_orderkey", "li_b")
    _write_bucketed(o, str(wh / "o_b"), 8, "o_orderkey", "o_b")
    return wh


def test_bucketed_join_no_shuffle(spark, warehouse):
    j = (
        spark.table("li_b")
        .join(
            spark.table("o_b").hint("merge"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey")
        .count()
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        j.explain("formatted")
    plan = buf.getvalue()
    # the join itself must consume bucketed scans directly: no Exchange
    # between the scans and the SortMergeJoin
    join_part = plan.split("HashAggregate")[0]
    assert "SortMergeJoin" in plan
    assert "Exchange" not in join_part, join_part


def test_bucketed_join_correct(spark, warehouse, sf_dir):
    got = (
        spark.table("li_b")
        .join(spark.table("o_b"), F.col("l_orderkey") == F.col("o_orderkey"))
        .count()
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    exp = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).count()
    assert got == exp
