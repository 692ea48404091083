"""The session's schema catalog behind ``session.read_parquet``, the
package's one Parquet table reader: an unchanged table reads with the
schema recorded at its last read and runs no Spark job; a rewritten
file, a new part file or a flipped inference conf re-infers; the
catalog holds schemas, never frames."""

import os
import pathlib
import re
import uuid

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from dataclass_array_spark.session import read_parquet
from dataclass_array_spark.workload.base import load_tables


def _probe(spark, fn):
    """``(fn(), number of Spark jobs fn ran)``."""
    sc = spark.sparkContext
    group = f"catalog-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "schema catalog probe")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _ts_us(df):
    return [r[0] for r in df.orderBy("event_id").select("ts_us").collect()]


def test_unchanged_table_reads_without_a_job(spark, sf_dir):
    first = load_tables(spark, sf_dir, ["orders"])["orders"]
    again, jobs = _probe(spark, lambda: load_tables(spark, sf_dir, ["orders"])["orders"])
    assert (jobs, again.schema) == (0, first.schema)


def test_rewritten_file_reinfers(spark, sf_dir, tmp_path):
    """``events.ts`` rewritten from TIMESTAMP(MICROS) to TIMESTAMP(NANOS)
    at the same path: the next read re-infers (ts arrives as nanos
    longs) and ``ts_us`` is unchanged."""
    events = pq.read_table(f"{sf_dir}/events.parquet")
    ts = events.schema.get_field_index("ts")
    path = tmp_path / "events.parquet"
    pq.write_table(events.set_column(ts, "ts", events["ts"].cast(pa.timestamp("us"))), path)
    micros = _ts_us(load_tables(spark, str(tmp_path), ["events"])["events"])
    tmp = tmp_path / "events.tmp"
    nanos = events.set_column(ts, "ts", events["ts"].cast(pa.timestamp("ns")))
    pq.write_table(nanos, tmp, version="2.6", coerce_timestamps=None)
    os.replace(tmp, path)
    again, jobs = _probe(spark, lambda: load_tables(spark, str(tmp_path), ["events"])["events"])
    assert jobs >= 1 and _ts_us(again) == micros and len(micros) == events.num_rows


def test_new_part_file_reinfers(spark, tmp_path):
    d = str(tmp_path / "t.parquet")
    spark.range(10).write.parquet(d)
    assert read_parquet(spark, d).count() == 10
    spark.range(5).write.mode("append").parquet(d)
    df, jobs = _probe(spark, lambda: read_parquet(spark, d))
    assert jobs >= 1 and df.count() == 15


def test_flipped_inference_conf_reinfers(spark, tmp_path):
    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x", b"y"], pa.binary())}), path)
    assert read_parquet(spark, path).dtypes == [("b", "binary")]
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        df, jobs = _probe(spark, lambda: read_parquet(spark, path))
    finally:
        spark.conf.set("spark.sql.parquet.binaryAsString", "false")
    assert (jobs, df.dtypes) == (1, [("b", "string")])


def test_self_join_of_two_reads(spark, sf_dir):
    """Two ``load_tables`` calls return two scans with their own
    attribute ids, so a self-join on them is a real self-join."""
    a = load_tables(spark, sf_dir, ["orders"])["orders"]
    b = load_tables(spark, sf_dir, ["orders"])["orders"]
    got = a.join(b, a["o_custkey"] == b["o_custkey"]).where(
        a["o_orderkey"] < b["o_orderkey"]
    ).count()
    want = duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/orders.parquet' a "
        f"JOIN '{sf_dir}/orders.parquet' b ON a.o_custkey = b.o_custkey "
        "WHERE a.o_orderkey < b.o_orderkey"
    ).fetchone()[0]
    assert got == want > 0


def test_missing_path_raises_path_not_found(spark, tmp_path):
    """``events_stream`` falls back to its canonical schema on exactly
    this condition."""
    with pytest.raises(AnalysisException) as e:
        read_parquet(spark, str(tmp_path / "not-yet.parquet"))
    assert e.value.getCondition() == "PATH_NOT_FOUND"


def test_one_parquet_table_reader_in_the_package():
    """Every Parquet read without a given schema goes through
    ``session.read_parquet``."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "dataclass_array_spark"
    hits = [
        f"{p.relative_to(pkg)}:{i}"
        for p in sorted(pkg.rglob("*.py"))
        if p.name != "session.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if re.search(r"\.read\.parquet\(", line)
    ]
    assert hits == []
