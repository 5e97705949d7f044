"""Real-codec tests for the multimodal decode path (multimodal/blobs.py):
PPM images and PCM WAV audio decode natively (numpy/stdlib), compressed
formats raise at the integration point."""

from __future__ import annotations

import io
import wave

import numpy as np
import pytest

from datapipeline_spark.multimodal.blobs import MEDIA_SCHEMA, decode_media


def _ppm_bytes(w: int, h: int, seed: int = 0) -> bytes:
    rng = np.random.RandomState(seed)
    pixels = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.tobytes()


def _wav_bytes(n_frames: int, rate: int = 16000) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        t = np.arange(n_frames)
        wf.writeframes((np.sin(t / 10.0) * 20000).astype("<i2").tobytes())
    return buf.getvalue()


def _media_df(spark, rows):
    return spark.createDataFrame(
        [
            (i, kind, bytearray(blob), f"mem://{i}", len(blob))
            for i, (kind, blob) in enumerate(rows)
        ],
        MEDIA_SCHEMA,
    )


def test_real_decode_ppm_and_wav(spark):
    df = _media_df(
        spark,
        [
            ("image", _ppm_bytes(320, 200)),
            ("image", _ppm_bytes(64, 48, seed=7)),
            ("audio", _wav_bytes(12345, rate=22050)),
        ],
    )
    got = {r.media_id: r for r in decode_media(df, codec="real").collect()}
    assert (got[0].width, got[0].height, got[0].n_frames) == (320, 200, 1)
    assert (got[1].width, got[1].height) == (64, 48)
    assert (got[2].n_frames, got[2].sample_rate) == (12345, 22050)
    assert got[2].width is None


def test_real_decode_rejects_compressed(spark):
    jpeg_ish = b"\xff\xd8\xff\xe0" + b"\x00" * 64  # JPEG SOI marker
    df = _media_df(spark, [("image", jpeg_ish)])
    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        decode_media(df, codec="real").collect()


def test_fake_codec_still_available(spark):
    df = _media_df(spark, [("image", _ppm_bytes(8, 8))])
    row = decode_media(df, codec="fake").collect()[0]
    assert row.width is not None  # fake path unaffected
