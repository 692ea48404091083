"""Multimodal column support: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched numpy kernels.

The container has no image/audio codecs, so the actual decode is a
clearly-marked deterministic STUB (`fake_decode_batch`) — but all the
Spark-side plumbing is real and tested: BinaryType columns, metadata
structs, mapInArrow batch iteration through the core Arrow decoder and
encoder, explicit output schemas, and partition-preserving flow.  Swap
``_decode_payload`` for PIL/ffmpeg on a real cluster and nothing else
changes.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataclass_array_spark.core.schema import ArraySpec
from dataclass_array_spark.core.table import arrow_table, np_columns

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("media_type", T.StringType(), True),
                    T.StructField("n_bytes", T.LongType(), True),
                    T.StructField("content_md5", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)


def attach_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Build a multimodal table: payload = utf-8 bytes of the text (the
    deterministic stand-in for real image bytes), plus a typed metadata
    struct.  Pure column expressions — the metadata never requires
    decoding the payload."""
    payload = F.encode(F.col(text_col), "utf-8")
    media_type = F.element_at(
        F.array(F.lit("image/png"), F.lit("audio/wav"), F.lit("video/mp4")),
        (F.col(id_col) % 3 + 1).cast("int"),
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        payload.alias("payload"),
        F.struct(
            media_type.alias("media_type"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.md5(payload).alias("content_md5"),
        ).alias("meta"),
    )


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_bytes", T.LongType(), True),
    ]
)


def _decode_payload(payload: bytes) -> tuple[int, int]:
    """STUB decoder.  A real implementation would be e.g.::

        from PIL import Image; Image.open(io.BytesIO(payload)).size

    Here: deterministic fake dimensions derived from the content hash so
    the pipeline (and its oracle) is reproducible."""
    h = hashlib.md5(payload).hexdigest()
    width = 1 + int(h[:2], 16) % 512
    height = 1 + int(h[2:4], 16) % 512
    return width, height


def fake_decode_batch(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel: Arrow batches in, decoded metadata out.  This
    is the exact shape a real decoder runs in (vectorized I/O at the
    batch level, per-row codec calls inside)."""
    for batch in batches:
        g = np_columns(batch, {"doc_id": ArraySpec(np.int64), "payload": ArraySpec(object)})
        dims = np.asarray([_decode_payload(p) for p in g["payload"]], np.int32).reshape(-1, 2)
        yield from arrow_table(
            {
                "doc_id": g["doc_id"],
                "width": dims[:, 0],
                "height": dims[:, 1],
                "n_bytes": np.asarray([len(p) for p in g["payload"]], dtype=np.int64),
            },
            DECODED_SCHEMA,
        ).to_batches()


def decode_media(media: DataFrame) -> DataFrame:
    """Run the (stub) decoder over a multimodal table.  Column pruning
    matters at scale: select only payload+id into the Python worker."""
    return media.select("doc_id", "payload").mapInArrow(
        fake_decode_batch, schema=DECODED_SCHEMA
    )


# ---------------------------------------------------------------- frames
FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_md5", T.StringType(), True),
    ]
)


def sample_frames_batch(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel with 1->N output: each video doc yields
    ``1 + md5(payload)[4:6] % 4`` frames (the deterministic stand-in for
    ffmpeg keyframe extraction); each frame id is a content-derived md5
    so downstream exact-dedup over frames is meaningful."""
    for batch in batches:
        g = np_columns(batch, {"doc_id": ArraySpec(np.int64), "payload": ArraySpec(object)})
        ids, idxs, md5s = [], [], []
        for doc_id, p in zip(g["doc_id"], g["payload"]):
            h = hashlib.md5(p).hexdigest()
            for i in range(1 + int(h[4:6], 16) % 4):
                ids.append(doc_id)
                idxs.append(i)
                md5s.append(hashlib.md5(f"{h}:{i}".encode()).hexdigest())
        yield from arrow_table(
            {
                "doc_id": np.asarray(ids, dtype=np.int64),
                "frame_idx": np.asarray(idxs, dtype=np.int32),
                "frame_md5": np.asarray(md5s, dtype=object),
            },
            FRAMES_SCHEMA,
        ).to_batches()


def sample_frames(media: DataFrame) -> DataFrame:
    """Frame-sample the video rows of a multimodal table.  The
    media_type filter prunes BEFORE the Python worker (metadata lives
    outside the payload), and only id+payload cross the Arrow boundary."""
    vids = media.filter(F.col("meta.media_type") == "video/mp4")
    return vids.select("doc_id", "payload").mapInArrow(
        sample_frames_batch, schema=FRAMES_SCHEMA
    )
