"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Spark-side design (the part that matters at 100 TB):
- media rows are (id, media: binary, media_type, meta: struct) — binary stays
  opaque through shuffles; metadata is columnar and prunable;
- decode / feature-extract run as Arrow-batched
  `mapInPandas` stages so bytes move Python-side once per batch, not per row;
- partitioning: blobs are large → `spark.sql.files.maxPartitionBytes` governs
  scan parallelism; repartition by id before UDF stages to balance batches.

Codec reality: `decode_media(..., codec="real")` ACTUALLY decodes the
uncompressed formats numpy/stdlib can handle — PPM (P6) images and PCM WAV
audio — and raises NotImplementedError for compressed codecs (JPEG/PNG/
MP3/video) at the exact spot PIL/ffmpeg/torchaudio plug in (unavailable in
this environment). The default deterministic fake decoder exercises the
full schema/batching path and keeps the queries oracle-checkable.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), False),  # image | audio | video
        StructField("media", BinaryType(), True),  # opaque encoded bytes
        StructField("source_uri", StringType(), True),
        StructField("byte_len", LongType(), True),
    ]
)


def fake_media_table(spark: SparkSession, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media rows (bytes = sha256 stream) for tests."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        blob = hashlib.sha256(f"{seed}:{i}".encode()).digest() * (4 + i % 7)
        rows.append((i, kinds[i % 3], bytearray(blob), f"synthetic://media/{i}", len(blob)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def attach_media_metadata(df: DataFrame) -> DataFrame:
    """Cheap JVM-side metadata: byte length + content digest (no Python)."""
    return df.withColumns(
        {
            "byte_len": F.length(F.col("media")).cast("long"),
            "content_sha": F.sha2(F.col("media"), 256),
        }
    )


def _fake_decode(media_type: str, blob: bytes) -> dict:
    """Deterministic stand-in for a codec: derives plausible dimensions from
    a content digest. Replace with PIL/torchaudio/ffmpeg in production.

    The digest hashes the blob's lowercase-hex string (not the raw bytes) so
    the fake decode is reproducible in engines whose hash functions only
    accept strings — which is what makes `media_features` oracle-checkable."""
    h = hashlib.sha256((blob or b"").hex().encode()).digest()
    if media_type == "image":
        return {"width": 64 + h[0], "height": 64 + h[1], "n_frames": 1, "sample_rate": None}
    if media_type == "audio":
        return {"width": None, "height": None, "n_frames": 1000 + h[2] * 4, "sample_rate": 16000}
    return {"width": 128 + h[0], "height": 128 + h[1], "n_frames": 24 + h[3], "sample_rate": None}


DECODED_SCHEMA = (
    "media_id long, media_type string, width int, height int, n_frames int, sample_rate int"
)


def _decode_real(blob: bytes) -> dict:
    """REAL decode for the uncompressed formats numpy/stdlib can handle:

    - PPM (P6) raster images: header parse + raw RGB dims;
    - PCM WAV audio: stdlib ``wave`` for frames/rate/channels.

    Compressed codecs (JPEG/PNG/MP3/H.264) genuinely need external
    libraries, absent in this environment — those raise NotImplementedError
    at this exact integration point (swap in PIL/ffmpeg/torchaudio here).
    """
    if blob[:2] == b"P6":
        # PPM: 'P6' <ws> width <ws> height <ws> maxval '\n' raw RGB
        import re as _re

        m = _re.match(rb"P6\s+(?:#[^\n]*\n\s*)*(\d+)\s+(\d+)\s+(\d+)\s", blob)
        if not m:
            raise ValueError("malformed PPM header")
        w, h = int(m.group(1)), int(m.group(2))
        return {"width": w, "height": h, "n_frames": 1, "sample_rate": None}
    if blob[:4] == b"RIFF" and blob[8:12] == b"WAVE":
        import io
        import wave

        with wave.open(io.BytesIO(blob)) as wf:
            return {
                "width": None,
                "height": None,
                "n_frames": wf.getnframes(),
                "sample_rate": wf.getframerate(),
            }
    raise NotImplementedError(
        "compressed media codecs (JPEG/PNG/MP3/video) need PIL/ffmpeg/"
        "torchaudio, unavailable in this environment; PPM and PCM-WAV decode "
        "natively, or use codec='fake' to exercise the pipeline shape"
    )


def decode_media(df: DataFrame, codec: str = "fake") -> DataFrame:
    """Decode blobs → typed dimensions. Arrow-batched mapInPandas.

    codec="real" decodes uncompressed formats for real (PPM images, PCM WAV
    audio — numpy/stdlib only) and raises NotImplementedError for
    compressed codecs at the exact spot PIL/ffmpeg/torchaudio plug in.
    codec="fake" is the deterministic stand-in that keeps the full
    schema/batching path exercised (and oracle-checkable) without binaries.
    """
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            if codec == "real":
                meta = [
                    _decode_real(bytes(b) if b is not None else b"")
                    for b in pdf["media"]
                ]
            else:
                meta = [
                    _fake_decode(t, bytes(b) if b is not None else b"")
                    for t, b in zip(pdf["media_type"], pdf["media"])
                ]
            out = pd.DataFrame(meta)
            out.insert(0, "media_id", pdf["media_id"].values)
            out.insert(1, "media_type", pdf["media_type"].values)
            yield out

    return df.select("media_id", "media_type", "media").mapInPandas(gen, DECODED_SCHEMA)


FEATURE_SCHEMA = "media_id long, feature array<float>"


def extract_features(df: DataFrame, dim: int = 16) -> DataFrame:
    """Content-derived fixed-dim feature vector (fake embedding): the batch
    shape, schema and partition behavior match a real encoder."""
    import numpy as np
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            feats = []
            for b in pdf["media"]:
                h = hashlib.sha256((bytes(b) if b is not None else b"").hex().encode()).digest()
                feats.append(np.frombuffer((h * ((dim * 4) // len(h) + 1))[: dim * 4], dtype="<u4").astype("float32") / 2**32)
            yield pd.DataFrame({"media_id": pdf["media_id"].values, "feature": [f.tolist() for f in feats]})

    return df.select("media_id", "media").mapInPandas(gen, FEATURE_SCHEMA)
