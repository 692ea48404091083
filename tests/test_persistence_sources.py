"""Persistence (save/load with shape+statics sidecar), tree protocol,
tree_map, session guard, and multi-format source roundtrips."""

import numpy as np
import pytest
from pyspark.sql import functions as F

import dataclass_array_spark as das
from dataclass_array_spark import sources
from dataclass_array_spark.core.schema import f32
from dataclass_array_spark.core.table import assert_same_session
from dataclass_array_spark.core.tree import tree_map
from tests.conftest import assert_np_equal


@das.dataclass_array(broadcast=True, cast_dtype=True)
class WS(das.DcaTable):
    x: f32["*b 3"]
    tag: str


def test_save_load_roundtrip(spark, tmp_path):
    x = np.arange(12, dtype=np.float32).reshape(2, 2, 3)
    w = WS(spark, x=x, tag="hello")
    p = str(tmp_path / "ws")
    w.save(p)
    back = WS.load(spark, p)
    assert back.shape == (2, 2)
    assert back.tag == "hello"
    assert_np_equal(back, {"x": x})


def test_tree_protocol(spark):
    w = WS(spark, x=np.zeros((3, 3), np.float32), tag="t")
    df, meta = w.tree_flatten()
    assert meta["shape"] == [3]
    again = WS.tree_unflatten(df, meta)
    assert again.shape == (3,) and again.tag == "t"


def test_tree_map(spark):
    w = WS(spark, x=np.ones((2, 3), np.float32), tag="t")
    tree = {"a": w, "b": [w, w]}
    out = tree_map(lambda t: t.map_leaves(lambda c: c * 2), tree)
    assert_np_equal(out["b"][1], {"x": np.full((2, 3), 2, np.float32)})


def test_assert_same_session(spark):
    w = WS(spark, x=np.ones((2, 3), np.float32), tag="t")
    assert_same_session(w, w)  # no raise


@pytest.mark.parametrize("fmt", ["parquet", "orc", "csv", "json"])
def test_source_roundtrips(spark, sf_dir, tmp_path, fmt):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    ).limit(100)
    p = str(tmp_path / f"rt_{fmt}")
    sources.write(li, p, fmt=fmt)
    kw = {} if fmt in ("parquet", "orc") else {"schema": li.schema}
    back = sources.read_table(spark, p, fmt=fmt, **kw)
    assert back.count() == 100
    a = li.agg(F.sum("l_quantity")).collect()[0][0]
    b = back.agg(F.sum("l_quantity")).collect()[0][0]
    assert abs(a - b) < 1e-9


def test_lakehouse_formats_gated(spark):
    with pytest.raises(NotImplementedError, match="delta"):
        sources.read_table(spark, "/tmp/x", fmt="delta")


def test_partition_pruning(spark, sf_dir, tmp_path):
    """partitionBy writes → a filtered read must prune partitions at
    plan time (PartitionFilters in the scan, only matching dirs read)."""
    import io
    from contextlib import redirect_stdout

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    p = str(tmp_path / "parted")
    sources.write(li, p, partition_by=["l_returnflag"])
    back = spark.read.parquet(p).filter(F.col("l_returnflag") == "R")
    buf = io.StringIO()
    with redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "l_returnflag" in plan
    exp = li.filter(F.col("l_returnflag") == "R").count()
    assert back.count() == exp


def test_read_text_docs_and_binary_media(spark, tmp_path):
    from dataclass_array_spark.sources import read_binary_media, read_text_docs

    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.txt").write_text("first doc\nsecond doc\n")
    (d / "b.txt").write_text("third doc\n")
    docs = read_text_docs(spark, str(d)).collect()
    assert sorted(r["text"] for r in docs) == ["first doc", "second doc", "third doc"]
    # ids are stable across re-reads (md5 of path+order, not partition-dependent)
    again = read_text_docs(spark, str(d)).collect()
    assert {r["doc_id"] for r in docs} == {r["doc_id"] for r in again}
    assert len({r["doc_id"] for r in docs}) == 3
    media = read_binary_media(spark, str(d), glob="*.txt").collect()
    got = {r["path"].split("/")[-1]: bytes(r["content"]) for r in media}
    assert got["b.txt"] == b"third doc\n"
    assert all(r["length"] == len(bytes(r["content"])) for r in media)


def test_avro_jar_gate(spark, tmp_path):
    import pytest
    from dataclass_array_spark.sources import read_avro

    with pytest.raises(NotImplementedError, match="spark-avro"):
        read_avro(spark, str(tmp_path / "x.avro"))


def _wet_bytes(crlf=False, recs=None):
    nl = "\r\n" if crlf else "\n"
    if recs is None:
        recs = [
            ("warcinfo", None, "robots: classic"),
            ("conversion", "http://example.com/a", "Hello world.\nSecond line."),
            ("conversion", "https://example.org/b?x=1", "Single body line"),
            ("conversion", "http://example.com/empty", ""),
        ]
    out = []
    for t, uri, body in recs:
        out.append("WARC/1.0")
        out.append(f"WARC-Type: {t}")
        if uri:
            out.append(f"WARC-Target-URI: {uri}")
        out.append("WARC-Date: 2024-01-01T00:00:00Z")
        out.append(f"Content-Length: {len(body)}")
        out.append("")
        out.append(body)
        out.append("")
    return (nl.join(out) + nl).encode()


def test_read_wet_plain_and_gz(spark, tmp_path):
    """WET ingestion: record split, header extraction, body text, CRLF
    tolerance, transparent .gz, stable (path, rec_idx) keys — all pure
    column expressions (no Python eval in the plan)."""
    import gzip
    import io
    from contextlib import redirect_stdout

    from dataclass_array_spark.sources import read_wet

    d = tmp_path / "wet"
    d.mkdir()
    (d / "shard0.wet").write_bytes(_wet_bytes())
    with gzip.open(d / "shard1.wet.gz", "wb") as f:
        f.write(_wet_bytes(crlf=True))

    df = read_wet(spark, str(d))
    rows = sorted(
        (r["path"].rsplit("/", 1)[-1], r["rec_idx"], r["warc_type"],
         r["target_uri"], r["text"], r["n_chars"])
        for r in df.collect()
    )
    assert len(rows) == 8  # 4 records x 2 files
    for fname in ("shard0.wet", "shard1.wet.gz"):
        sub = [r for r in rows if r[0] == fname]
        assert [r[1] for r in sub] == [0, 1, 2, 3]
        assert [r[2] for r in sub] == ["warcinfo"] + ["conversion"] * 3
        assert sub[1][3] == "http://example.com/a"
        assert sub[1][4] == "Hello world.\nSecond line."
        assert sub[1][5] == len("Hello world.\nSecond line.")
        assert sub[2][4] == "Single body line"
        assert sub[3][4] == "" and sub[3][5] == 0
    # conversion-only filter + URL canonicalization compose in-plan
    from dataclass_array_spark.operators.url import canonicalize_url
    from pyspark.sql import functions as F

    conv = df.filter(F.col("warc_type") == "conversion").select(
        canonicalize_url(F.col("target_uri")).alias("cu")
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        conv.explain("formatted")
    p = buf.getvalue()
    assert "BatchEvalPython" not in p and "MapInPandas" not in p and "MapInArrow" not in p
    assert conv.count() == 6


def test_read_wet_body_warc_line_does_not_split(spark, tmp_path):
    """Regression (r12 advice): a conversion record whose extracted
    page text contains a line that merely says 'WARC/1.0' must NOT be
    split into two bogus records — the split requires a following
    WARC- header line (lookahead)."""
    from dataclass_array_spark.sources import read_wet

    body = "Quote of the spec:\nWARC/1.0\nis the version line."
    d = tmp_path / "wet2"
    d.mkdir()
    (d / "s.wet").write_bytes(
        _wet_bytes(recs=[("conversion", "http://example.com/q", body)])
    )
    rows = read_wet(spark, str(d)).collect()
    assert len(rows) == 1
    assert rows[0]["text"] == body
    assert rows[0]["n_chars"] == len(body)


def test_read_text_docs_whole_file_mode(spark, tmp_path):
    """Regression (round 12): .option('wholetext', <bool>) is silently
    ignored by the text source — whole_file=True must yield ONE row per
    file, not one per line."""
    from dataclass_array_spark.sources import read_text_docs

    d = tmp_path / "txt"
    d.mkdir()
    (d / "a.txt").write_text("line1\nline2\n")
    (d / "b.txt").write_text("only\n")
    whole = read_text_docs(spark, str(d), whole_file=True)
    assert whole.count() == 2
    texts = {r["text"].strip() for r in whole.collect()}
    assert "line1\nline2" in texts
    lines = read_text_docs(spark, str(d), whole_file=False)
    assert lines.count() == 3
