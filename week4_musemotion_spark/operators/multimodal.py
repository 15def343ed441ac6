"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through Spark as ``binary`` columns with a
typed metadata struct alongside — the engine never interprets bytes
JVM-side; decode / feature-extraction runs in Arrow-batched Pandas
iterators (``mapInPandas``), the idiomatic slow-path for per-row
Python at scale (one Python roundtrip per ~10k-row Arrow batch, not
per row).

The actual codec step is STUBBED here (no image/audio libraries are
a dependency): :func:`extract_media_meta` uses a deterministic fake
"decode" (md5-derived dimensions) so the distributed plumbing —
schema, batching, partitioning — is real and testable end-to-end.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Output schema of the metadata extractor.
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("format", T.StringType()),
    ]
)


def attach_binary(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Materialize an opaque binary payload column (here: utf-8 bytes
    of the text — stands in for image/audio bytes) plus source id.

    NULL-source rows are dropped: a media row without a payload has
    nothing to decode, and letting NULLs through would crash the
    Arrow-batched stubs (``bytes(None)``) the first time the driver
    regenerates testdata with missing text.  Every multimodal oracle
    carries the matching ``WHERE text IS NOT NULL``."""
    return df.select(
        F.col(id_col), F.encode(F.col(text_col), "UTF-8").alias("payload")
    ).filter(F.col("payload").isNotNull())


def _fake_dims(payload: bytes) -> tuple[int, int, str]:
    """Deterministic fake decode: md5-derived dimensions.

    Mirrors functions.hashing.stable_hash64 (md5-prefix 60-bit int) so
    a SQL oracle can replay it exactly.
    """
    h = int(hashlib.md5(b"dim:" + payload).hexdigest()[:15], 16)
    width = 64 + h % 960
    height = 64 + (h // 960) % 960
    fmt = "png" if h % 2 == 0 else "jpeg"
    return width, height, fmt


def extract_media_meta(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched metadata extraction over a binary column.

    ``mapInPandas``: each task pulls Arrow batches, runs vectorized
    Python once per batch, and emits the typed metadata schema.  The
    decode call is the deterministic stub (see module docstring)."""
    binary = attach_binary(df, id_col=id_col) if "payload" not in df.columns else df

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = [_fake_dims(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": [len(bytes(p)) for p in pdf["payload"]],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "format": [d[2] for d in dims],
                }
            )

    return binary.mapInPandas(_extract, schema=MEDIA_META_SCHEMA)


#: Output schema of the frame sampler (one row per sampled frame).
FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_fp", T.LongType()),
    ]
)

#: frame-sampling stride (keep every k-th frame)
FRAME_STRIDE = 4


def _fake_frame_count(payload: bytes) -> int:
    """Deterministic fake probe: md5-derived frame count (8..63) —
    stands in for reading the container header."""
    h = int(hashlib.md5(b"vid:" + payload).hexdigest()[:15], 16)
    return 8 + h % 56


def _fake_frame_fp(payload: bytes, idx: int) -> int:
    """Deterministic fake per-frame fingerprint (60-bit, mirrors
    functions.hashing.stable_hash64 so SQL can replay it)."""
    return int(
        hashlib.md5(b"frame:" + payload + b":" + str(idx).encode()).hexdigest()[:15], 16
    )


def sample_frames(
    df: DataFrame, id_col: str = "doc_id", every_k: int = FRAME_STRIDE
) -> DataFrame:
    """Uniform-stride frame sampling over a binary "video" column —
    the 1→many multimodal shape (a 2-hour video → a few hundred
    training frames).  ``mapInPandas`` lets one Arrow batch of videos
    emit a variable number of frame rows with zero JVM involvement in
    the decode; downstream the frame rows are ordinary (doc_id,
    frame_idx, fingerprint) tuples that join/dedup like any table.

    The decode is the deterministic stub (no codecs in this
    environment): frame count and per-frame fingerprints are
    md5-derived from the payload, so an SQL oracle replays the whole
    operator exactly.  At scale the sampler is embarrassingly
    parallel and emits ~1/k of the decoded volume; nothing
    materializes per-video beyond one batch row.
    """
    binary = attach_binary(df, id_col=id_col) if "payload" not in df.columns else df

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nfs, idxs, fps = [], [], [], []
            for did, p in zip(pdf[id_col], pdf["payload"]):
                b = bytes(p)
                nf = _fake_frame_count(b)
                for k in range(0, nf, every_k):
                    ids.append(int(did))
                    nfs.append(nf)
                    idxs.append(k)
                    fps.append(_fake_frame_fp(b, k))
            yield pd.DataFrame(
                {"doc_id": ids, "n_frames": nfs, "frame_idx": idxs, "frame_fp": fps}
            )

    return binary.mapInPandas(_sample, schema=FRAME_SAMPLE_SCHEMA)


#: dimensionality of the stub media embedding
EMBED_DIM = 8


def _fake_embed(payload: bytes, dim: int = EMBED_DIM) -> list[float]:
    """Deterministic fake feature-extraction: per dimension a
    60-bit md5-derived integer mapped onto exact thousandths in
    [-1, 1] (mirrors functions.hashing.stable_hash64 so SQL replays
    it).  Stands in for a real vision/audio encoder forward pass."""
    out = []
    for i in range(dim):
        h = int(
            hashlib.md5(b"emb:" + payload + b":" + str(i).encode()).hexdigest()[:15], 16
        )
        out.append((h % 2001 - 1000) / 1000.0)
    return out


def embed_media(df: DataFrame, id_col: str = "doc_id", dim: int = EMBED_DIM) -> DataFrame:
    """Media feature extraction through the Arrow-batched
    ``mapInPandas`` path: each binary payload emits one fixed-dim
    float64 embedding row — the binary→vector bridge that feeds the
    similarity-search operators (knn_brute_force / cosine_pairs /
    IVF take its output unchanged via ``vec_col``).

    STUB decode (no codecs in this container): the "encoder" is the
    deterministic md5 feature map above — swap ``_fake_embed`` for a
    real model forward pass (ONNX/torch batch inference fits the same
    Arrow batch shape) and nothing else changes: schema, batching,
    partition behavior, and every downstream similarity operator stay
    as-is.  At scale this is the classic embed stage: embarrassingly
    parallel, output is dim×8 bytes/row regardless of payload size,
    so the vector table is usually orders of magnitude smaller than
    the media it summarizes."""
    binary = attach_binary(df, id_col=id_col) if "payload" not in df.columns else df
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )

    def _embed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64"),
                    "embedding": [_fake_embed(bytes(p), dim) for p in pdf["payload"]],
                }
            )

    return binary.mapInPandas(_embed, schema=schema)
