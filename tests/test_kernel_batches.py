"""Every numpy kernel of the operator layer on degenerate batches: an
input filtered to zero rows, and an input whose rows all sit in one of
four partitions (the other three tasks see empty input), with row counts
and schemas pinned; and each Arrow UDF and map kernel called directly
on a 0-row Arrow batch.  The kernels have no empty-batch branch of
their own: static inner dims keep a 0-row batch at ``(0, dim)``."""

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type

from dataclass_array_spark.operators import clustering, pq, similarity

def _shrink(df, key, variant):
    if variant == "empty":
        return df.filter(F.col(key) < 0)
    return df.repartition(4).filter(F.spark_partition_id() == 0)


@pytest.fixture(scope="module")
def inputs(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = (
        e.orderBy("vec_id").limit(8)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").cast("array<double>").alias("cent_v"),
            similarity.norm2(F.col("embedding")).alias("cent_n2"),
        )
        .collect()
    )
    cbs = pq.pq_fit(e, "vec_id", "embedding", dim=64, m=4, codes=4, iters=1, train_limit=50)
    return e, cents, cbs, spark.read.parquet(f"{sf_dir}/documents.parquet")


def _argmin(spark, e, corpus, cents, cbs):
    C = [list(r["cent_v"]) for r in cents[:6]]
    best = clustering._argmin_udf(C)(F.col("embedding").cast("array<double>"))
    return e.select("vec_id", best.alias("b"))


def _argmin_matrix(spark, e, corpus, cents, cbs):
    # cell c's codebook has c + 2 rows: the matrices differ in length
    cm = spark.createDataFrame(
        [(c, [list(r["cent_v"]) for r in cents[: c + 2]]) for c in range(3)],
        "cell long, cm array<array<double>>",
    )
    rows = e.select(
        "vec_id", (F.col("vec_id") % 3).alias("cell"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    best = clustering._argmin_matrix_udf(64)(F.col("cell"), F.col("v"), F.col("cm"))
    return rows.join(F.broadcast(cm), on="cell").select("vec_id", best.alias("b"))


def _cell_probe(spark, e, corpus, cents, cbs):
    return similarity.assign_cells(e, "vec_id", "embedding", cents, nprobe=2)


def _pair_cosine(spark, e, corpus, cents, cbs):
    return similarity.ivf_topk(
        e, corpus, "vec_id", "vec_id", "embedding", n_centroids=4, nprobe=2, k=3
    )


def _pq_encode(spark, e, corpus, cents, cbs):
    return pq.pq_encode(e, "vec_id", "embedding", cbs)


def _pq_adc(spark, e, corpus, cents, cbs):
    return pq.pq_topk(e, corpus, "vec_id", "vec_id", "embedding", cbs, k=4, exclude_self=True)


def _cogroup_block(spark, e, corpus, cents, cbs):
    return similarity.knn_join(
        e, corpus, "vec_id", "vec_id", "embedding", n_centroids=5, nprobe=2, k=3,
        exclude_self=True,
    )


def _ffd(spark, d):
    from dataclass_array_spark.operators.packing import pack_sequences_ffd
    from dataclass_array_spark.operators.text import token_count

    docs = d.select("doc_id", token_count(F.col("text")).alias("n"))
    return pack_sequences_ffd(docs, "doc_id", "n", 256, nbuckets=8)


def _decode_media(spark, d):
    from dataclass_array_spark.operators.multimodal import attach_media, decode_media

    return decode_media(attach_media(d, "doc_id", "text"))


def _sample_frames(spark, d):
    from dataclass_array_spark.operators.multimodal import attach_media, sample_frames

    return sample_frames(attach_media(d, "doc_id", "text"))


EMBEDDING_KERNELS = {
    "kmeans_argmin": _argmin,
    "kmeans_argmin_matrix": _argmin_matrix,
    "cell_probe": _cell_probe,
    "pair_cosine": _pair_cosine,
    "pq_encode": _pq_encode,
    "pq_adc": _pq_adc,
    "cogroup_block": _cogroup_block,
}
DOCUMENT_KERNELS = {
    "ffd": _ffd,
    "decode_media": _decode_media,
    "sample_frames": _sample_frames,
}

# (schema, rows for "empty", rows for "one_partition")
EXPECTED = {
    "kmeans_argmin": (
        [("vec_id", "bigint", True), ("b", "struct<cluster:bigint,dist:double>", True)],
        0,
        125,
    ),
    "kmeans_argmin_matrix": (
        [("vec_id", "bigint", True), ("b", "struct<fine:bigint,dist:double>", True)],
        0,
        125,
    ),
    "cell_probe": (
        [
            ("__id", "bigint", True),
            ("__v", "array<float>", True),
            ("__n2", "double", True),
            ("cell", "bigint", True),
        ],
        0,
        250,
    ),
    "pair_cosine": (
        [
            ("qid", "bigint", True),
            ("rank", "int", False),
            ("nid", "bigint", True),
            ("cosine", "double", True),
        ],
        0,
        375,
    ),
    "pq_encode": (
        [("vec_id", "bigint", True), ("codes", "array<bigint>", True)],
        0,
        125,
    ),
    "pq_adc": (
        [
            ("qid", "bigint", True),
            ("rank", "int", False),
            ("nid", "bigint", True),
            ("dist", "double", True),
        ],
        0,
        500,
    ),
    "cogroup_block": (
        [
            ("qid", "bigint", True),
            ("rank", "int", False),
            ("nid", "bigint", True),
            ("cosine", "double", True),
        ],
        0,
        375,
    ),
    "ffd": (
        [
            ("doc_id", "bigint", True),
            ("n", "bigint", True),
            ("bucket", "bigint", True),
            ("bin", "bigint", True),
            ("bin_off", "bigint", True),
        ],
        0,
        125,
    ),
    "decode_media": (
        [
            ("doc_id", "bigint", False),
            ("width", "int", True),
            ("height", "int", True),
            ("n_bytes", "bigint", True),
        ],
        0,
        125,
    ),
    "sample_frames": (
        [("doc_id", "bigint", False), ("frame_idx", "int", False), ("frame_md5", "string", True)],
        0,
        88,
    ),
}


@pytest.mark.parametrize("variant", ["empty", "one_partition"])
@pytest.mark.parametrize("kernel", [*EMBEDDING_KERNELS, *DOCUMENT_KERNELS])
def test_kernel_empty_and_sparse_batches(spark, inputs, kernel, variant):
    e, cents, cbs, d = inputs
    if kernel in EMBEDDING_KERNELS:
        out = EMBEDDING_KERNELS[kernel](spark, _shrink(e, "vec_id", variant), e, cents, cbs)
    else:
        out = DOCUMENT_KERNELS[kernel](spark, _shrink(d, "doc_id", variant))
    schema, n_empty, n_one = EXPECTED[kernel]
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in out.schema] == schema
    assert out.count() == (n_empty if variant == "empty" else n_one)


VEC = pa.list_(pa.float64())


def _udf_cases(cents, cbs):
    """kernel → (Arrow UDF, its argument types)."""
    return {
        "kmeans_argmin": (clustering._argmin_udf([list(r["cent_v"]) for r in cents]), [VEC]),
        "kmeans_argmin_matrix": (
            clustering._argmin_matrix_udf(64), [pa.int64(), VEC, pa.list_(VEC)]
        ),
        "cell_probe": (similarity._cells_udf(cents, 2), [VEC]),
        "pair_cosine": (
            similarity._pair_cosine_arrow(64), [VEC, VEC, pa.float64(), pa.float64()]
        ),
        "pq_encode": (pq._pq_encode_udf(cbs), [VEC]),
        "pq_adc": (pq._adc_udf(cbs), [VEC, pa.list_(pa.int64())]),
    }


@pytest.mark.parametrize(
    "kernel",
    [*(k for k in EMBEDDING_KERNELS if k != "cogroup_block"), "decode_media", "sample_frames"],
)
def test_kernel_on_empty_arrow_batch(spark, inputs, kernel):
    from dataclass_array_spark.operators import multimodal

    _, cents, cbs, _ = inputs
    if kernel in ("decode_media", "sample_frames"):
        fn, schema = {
            "decode_media": (multimodal.fake_decode_batch, multimodal.DECODED_SCHEMA),
            "sample_frames": (multimodal.sample_frames_batch, multimodal.FRAMES_SCHEMA),
        }[kernel]
        empty = pa.RecordBatch.from_pydict(
            {"doc_id": pa.array([], pa.int64()), "payload": pa.array([], pa.binary())}
        )
        out = list(fn(iter([empty])))
        assert sum(b.num_rows for b in out) == 0
        assert all(b.schema == to_arrow_schema(schema) for b in out)
        return
    udf, types = _udf_cases(cents, cbs)[kernel]
    out = udf.func(*[pa.array([], t) for t in types])
    assert len(out) == 0
    assert out.cast(to_arrow_type(udf.returnType)).type == to_arrow_type(udf.returnType)
