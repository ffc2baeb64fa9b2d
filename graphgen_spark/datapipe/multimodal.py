"""Multimodal column plumbing: image/audio/video as opaque binary
columns tagged with their modality.

The reference routes image/table/formula chunks through MMKGBuilder
(``operators/build_kg/build_mm_kg.py``); this module provides the
Spark-side plumbing a 100 TB multimodal pipeline needs — schema,
partitioning, Arrow batch shapes, UDF signatures — for two operators:
``extract_features`` (one feature vector per media row) and
``byte_histograms`` (a decode-free content fingerprint).  The codec
work is stubbed: the container has no image/audio libraries, so
decode runs a deterministic fake when ``use_fake=True`` (default) and
raises ``NotImplementedError`` pointing at the real dependency
otherwise.  Everything around the stub (column layout, mapInPandas
iterator batching) is real and tested.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), False),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("modality", T.StringType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), False),
        T.StructField("feat_dim", T.IntegerType(), False),
    ]
)

FEATURE_DIM = 32


def _decode_real(payload: bytes, modality: str):
    raise NotImplementedError(
        "real decode needs Pillow/torchaudio/PyAV — not installed in "
        "this container; run with use_fake=True for the deterministic "
        "stand-in (same schema/batch shape)"
    )


def _fake_feature(payload: bytes) -> np.ndarray:
    """Deterministic content-derived feature: byte histogram folded to
    FEATURE_DIM and L2-normalized — a stand-in with the exact shape a
    real encoder would emit."""
    arr = np.frombuffer(payload or b"\x00", dtype=np.uint8)
    hist = np.bincount(arr % FEATURE_DIM, minlength=FEATURE_DIM).astype(
        np.float32
    )
    norm = np.linalg.norm(hist)
    return hist / norm if norm > 0 else hist


def extract_features(
    media: DataFrame, use_fake: bool = True
) -> DataFrame:
    """media -> (media_id, modality, feature[FEATURE_DIM], feat_dim);
    Arrow-batched mapInPandas, repartition-friendly (no state)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, modality, payload in zip(
                pdf["media_id"], pdf["modality"], pdf["payload"]
            ):
                if use_fake:
                    feat = _fake_feature(bytes(payload or b""))
                else:
                    feat = _decode_real(payload, modality)
                rows.append(
                    (mid, modality, feat.tolist(), FEATURE_DIM)
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "modality", "feature", "feat_dim"],
            )

    return media.select("media_id", "modality", "payload").mapInPandas(
        gen, schema=FEATURE_SCHEMA
    )


HIST_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("modality", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("hist", T.ArrayType(T.LongType()), False),
    ]
)


def byte_histograms(media: DataFrame) -> DataFrame:
    """Binary-column content fingerprint WITHOUT decoding: the folded
    byte histogram (mod FEATURE_DIM) as exact integers — the counts
    behind _fake_feature before L2 normalization.  Useful on its own
    for payload dedup/corruption checks, and the hash-checkable face
    of the media plumbing (pure ints; the driver oracle recomputes
    the histograms independently in plain Python)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, modality, payload in zip(
                pdf["media_id"], pdf["modality"], pdf["payload"]
            ):
                b = bytes(payload or b"")
                arr = np.frombuffer(b or b"\x00", dtype=np.uint8)
                hist = np.bincount(
                    arr % FEATURE_DIM, minlength=FEATURE_DIM
                ).astype(np.int64)
                rows.append((mid, modality, len(b), hist.tolist()))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "modality", "n_bytes", "hist"],
            )

    return media.select("media_id", "modality", "payload").mapInPandas(
        gen, schema=HIST_SCHEMA
    )


def synth_media_expected(n: int) -> list:
    """Pure-Python expectation for byte_histograms(synth_media_df(n)) —
    no Spark, no pandas: the independent recomputation the driver
    oracle inlines as literal rows."""
    import hashlib

    modalities = ["image", "audio", "video"]
    out = []
    for i in range(n):
        payload = hashlib.blake2b(
            f"media-{i}".encode(), digest_size=32
        ).digest() * (4 + i % 5)
        hist = [0] * FEATURE_DIM
        for byte in payload:
            hist[byte % FEATURE_DIM] += 1
        out.append(
            (f"m{i}", modalities[i % 3], len(payload), hist)
        )
    return out


def synth_media_df(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for tests/benches (payload bytes
    derived from the id; modality round-robins image/audio/video).
    Partition count scales with n (a 128-row table across 32 default
    partitions would spin up ~2 Python workers per row downstream)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        modalities = ["image", "audio", "video"]
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                modality = modalities[i % 3]
                payload = hashlib.blake2b(
                    f"media-{i}".encode(), digest_size=32
                ).digest() * (4 + i % 5)
                rows.append((f"m{i}", modality, payload))
            yield pd.DataFrame(
                rows, columns=["media_id", "modality", "payload"]
            )

    n_parts = max(2, min(32, n // 16))
    return spark.range(0, n, 1, n_parts).mapInPandas(
        gen, schema=MEDIA_SCHEMA
    )
