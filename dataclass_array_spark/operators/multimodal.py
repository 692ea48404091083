"""Multimodal column support: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched pandas UDFs.

The container has no image/audio codecs, so the actual decode is a
clearly-marked deterministic STUB (`fake_decode_batch`) — but all the
Spark-side plumbing is real and tested: BinaryType columns, metadata
structs, mapInPandas batch iteration, explicit output schemas, and
partition-preserving flow.  Swap ``_decode_payload`` for PIL/ffmpeg on a
real cluster and nothing else changes.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


def fake_decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: Arrow batches in, decoded metadata out.  This
    is the exact shape a real decoder runs in (vectorized I/O at the
    batch level, per-row codec calls inside)."""
    for pdf in batches:
        dims = [_decode_payload(bytes(p)) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": [w for w, _ in dims],
                "height": [h for _, h in dims],
                "n_bytes": [len(bytes(p)) for p in pdf["payload"]],
            }
        )


def decode_media(media: DataFrame) -> DataFrame:
    """Run the (stub) decoder over a multimodal table.  Column pruning
    matters at scale: select only payload+id into the Python worker."""
    return media.select("doc_id", "payload").mapInPandas(
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


def sample_frames_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel with 1->N output: each video doc yields
    ``1 + md5(payload)[4:6] % 4`` frames (the deterministic stand-in for
    ffmpeg keyframe extraction); each frame id is a content-derived md5
    so downstream exact-dedup over frames is meaningful."""
    for pdf in batches:
        ids, idxs, md5s = [], [], []
        for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
            h = hashlib.md5(bytes(p)).hexdigest()
            n_frames = 1 + int(h[4:6], 16) % 4
            for i in range(n_frames):
                ids.append(doc_id)
                idxs.append(i)
                md5s.append(hashlib.md5(f"{h}:{i}".encode()).hexdigest())
        yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame_md5": md5s})


def sample_frames(media: DataFrame) -> DataFrame:
    """Frame-sample the video rows of a multimodal table.  The
    media_type filter prunes BEFORE the Python worker (metadata lives
    outside the payload), and only id+payload cross the Arrow boundary."""
    vids = media.filter(F.col("meta.media_type") == "video/mp4")
    return vids.select("doc_id", "payload").mapInPandas(
        sample_frames_batch, schema=FRAMES_SCHEMA
    )


# ---------------------------------------------------------------- resize
RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("resized_md5", T.StringType(), True),
    ]
)


def resize_media(media: DataFrame, max_dim: int = 256) -> DataFrame:
    """STUB resize: clamp the (fake-decoded) dimensions to ``max_dim``
    preserving aspect, emit a content-derived id for the resized bytes.
    Real kernel: PIL ``Image.thumbnail``; the batch shape is identical."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, md5s = [], [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                w, h = _decode_payload(bytes(p))
                scale = min(1.0, max_dim / max(w, h))
                w2, h2 = max(1, int(w * scale)), max(1, int(h * scale))
                ids.append(doc_id)
                ws.append(w2)
                hs.append(h2)
                md5s.append(
                    hashlib.md5(
                        f"{hashlib.md5(bytes(p)).hexdigest()}:{w2}x{h2}".encode()
                    ).hexdigest()
                )
            yield pd.DataFrame(
                {"doc_id": ids, "width": ws, "height": hs, "resized_md5": md5s}
            )

    return media.select("doc_id", "payload").mapInPandas(kernel, schema=RESIZED_SCHEMA)


# ---------------------------------------------------------------- features
def extract_media_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """STUB featurizer: payload -> float vector (md5-seeded, unit-free),
    the binary->embedding bridge into the similarity/clustering ops.
    Real kernel: a vision/audio encoder over the batch; the output
    contract (id + array<float>) is what ann/kmeans consume."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = []
            for p in pdf["payload"]:
                h = hashlib.md5(bytes(p)).digest()
                # expand the 16-byte digest deterministically to `dim` floats
                raw = (h * ((dim // len(h)) + 1))[:dim]
                vecs.append([(b - 127.5) / 127.5 for b in raw])
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "embedding": vecs})

    return media.select("doc_id", "payload").mapInPandas(kernel, schema=schema)
