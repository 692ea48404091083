"""Persistence (save/load with shape+statics sidecar), tree protocol,
tree_map and the session guard."""

import numpy as np

import dataclass_array_spark as das
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


def test_load_reads_with_the_recorded_schema(spark, tmp_path):
    """The sidecar records the frame's schema, so a load runs no Parquet
    footer-inference job: no Spark job runs between ``load()`` and the
    first action, and the round trip is equal."""
    x = np.arange(12, dtype=np.float32).reshape(2, 2, 3)
    w = WS(spark, x=x, tag="hello")
    p = str(tmp_path / "ws")
    w.save(p)
    sc = spark.sparkContext
    sc.setJobGroup("load-probe", "load with a recorded schema")
    try:
        back = WS.load(spark, p)
        schema = back.df.schema
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("load-probe") == []
    assert schema == spark.read.parquet(p).schema
    assert back.shape == (2, 2) and back.tag == "hello"
    assert_np_equal(back, {"x": x})


def test_load_without_a_recorded_schema_infers(spark, tmp_path):
    """A sidecar written before schemas were recorded still loads."""
    import json

    from dataclass_array_spark.core.table import _hadoop_read_text, _hadoop_write_text

    x = np.arange(6, dtype=np.float32).reshape(2, 3)
    p = str(tmp_path / "ws")
    WS(spark, x=x, tag="old").save(p)
    meta = json.loads(_hadoop_read_text(spark, p + "/_dca_meta.json"))
    del meta["schema"]
    _hadoop_write_text(spark, p + "/_dca_meta.json", json.dumps(meta))
    back = WS.load(spark, p)
    assert back.shape == (2,) and back.tag == "old"
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
