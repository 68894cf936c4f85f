"""Multimodal column plumbing: mapInPandas schema/batching, the decoder
registry, and the REAL pure-numpy image codecs (PPM/PGM/BMP) backing the
decode / stats / resize paths (SURVEY.md §2.11)."""

from __future__ import annotations

import numpy as np
import pytest

from ohlc_spark_streaming_spark.operators import multimodal
from ohlc_spark_streaming_spark.sources.batch import load_table

from .conftest import SF_SMOKE


def _assets(spark):
    return multimodal.attach_payloads(load_table(spark, SF_SMOKE, "documents"))


def _ppm_bytes(arr: np.ndarray) -> bytes:
    return multimodal.encode_ppm(arr.astype(np.uint8))


def _bmp_bytes(arr: np.ndarray) -> bytes:
    """Minimal 24-bit bottom-up BMP encoder for test fixtures."""
    h, w, _ = arr.shape
    row = w * 3
    pad = (4 - row % 4) % 4
    body = b"".join(
        bytes(arr[y, :, ::-1].tobytes()) + b"\x00" * pad for y in range(h - 1, -1, -1)
    )
    off = 14 + 40
    header = (
        b"BM"
        + (off + len(body)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(body).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return header + body


def test_custom_decoder_registration(spark):
    """A registered decoder replaces the default for its modality."""
    multimodal.DECODERS["text"] = lambda payload: f"custom:{len(payload)}"
    try:
        row = (
            multimodal.extract_features(_assets(spark))
            .where("asset_id = 0")
            .collect()[0]
        )
        assert row.feature == f"custom:{row.n_bytes}"
    finally:
        del multimodal.DECODERS["text"]


def test_payloads_roundtrip_bytes(spark):
    """payload is the exact utf-8 encoding; metadata map carries modality."""
    docs = load_table(spark, SF_SMOKE, "documents").limit(5).collect()
    assets = {r.asset_id: r for r in _assets(spark).limit(5).collect()}
    for d in docs:
        if d.doc_id in assets:
            a = assets[d.doc_id]
            assert bytes(a.payload) == d.text.encode("utf-8")
            assert a.meta["modality"] == "text"


# --- real image codec value checks ------------------------------------------


def test_ppm_decode_known_pixels():
    arr = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    decoded, fmt = multimodal.image_array(_ppm_bytes(arr))
    assert fmt == "ppm"
    assert decoded.shape == (2, 3, 3)
    assert (decoded == arr).all()


def test_ppm_decode_with_comments():
    arr = np.full((1, 2, 3), 7, dtype=np.uint8)
    data = b"P6\n# a comment\n2 1\n# another\n255\n" + arr.tobytes()
    decoded, fmt = multimodal.image_array(data)
    assert fmt == "ppm" and (decoded == 7).all()


def test_pgm_grayscale_decode():
    arr = np.array([[0, 128], [255, 1]], dtype=np.uint8)[..., None]
    decoded, fmt = multimodal.image_array(_ppm_bytes(arr))
    assert fmt == "pgm" and decoded.shape == (2, 2, 1) and (decoded == arr).all()


def test_bmp_decode_matches_source_rgb():
    """BMP round-trip: padding, bottom-up raster, and BGR→RGB all undone."""
    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)
    decoded, fmt = multimodal.image_array(_bmp_bytes(arr))
    assert fmt == "bmp"
    assert decoded.shape == (5, 3, 3)
    assert (decoded == arr).all()


def test_decode_image_feature_string():
    arr = np.full((2, 2, 3), 10, dtype=np.uint8)
    assert multimodal.decode_image(_ppm_bytes(arr)) == "ppm;2x2;mean=10.000000"


def test_unknown_payload_raises_value_error():
    with pytest.raises(ValueError, match="unsupported image payload"):
        multimodal.image_array(b"GIF89a....")


def test_synth_and_stats_end_to_end(spark):
    """The registered multimodal_image_decode pipeline: synthesized PPM
    bytes decode to the closed-form statistics."""
    ids = spark.range(3).withColumnRenamed("id", "doc_id")
    stats = {
        r.asset_id: r
        for r in multimodal.decode_image_stats(
            multimodal.synth_ppm_assets(ids)
        ).collect()
    }
    for d in range(3):
        r = stats[d]
        expect_mean = sum((d * 31 + i) % 256 for i in range(144)) / 144.0
        assert (r.fmt, r.width, r.height, r.n_bytes) == ("ppm", 8, 6, 155)
        assert r.mean_pixel == expect_mean


def test_wav_roundtrip_and_chunk_walk():
    """encode_wav → parse_wav identity, including a payload with an
    extra (odd-sized, word-aligned) chunk before the data chunk."""
    import struct

    import numpy as np

    from ohlc_spark_streaming_spark.operators.multimodal import (
        encode_wav,
        parse_wav,
    )

    samples = ((np.arange(512, dtype=np.int64) * 13 + 7) % 4096) - 2048
    data = encode_wav(samples, rate=8000)
    got, rate = parse_wav(data)
    assert rate == 8000
    assert np.array_equal(got, samples)

    # Inject a 3-byte LIST chunk (padded to 4) after "WAVE": the parser
    # must skip it by the chunk walk, not a fixed 44-byte offset.
    extra = b"LIST" + struct.pack("<I", 3) + b"abc\x00"
    patched = data[:12] + extra + data[12:]
    got2, rate2 = parse_wav(patched)
    assert rate2 == 8000
    assert np.array_equal(got2, samples)


def test_decode_audio_chunks_matches_numpy(spark):
    import numpy as np

    from ohlc_spark_streaming_spark.operators.multimodal import (
        decode_audio_chunks,
        synth_wav_assets,
    )

    ids = spark.createDataFrame([(3,), (17,)], "doc_id long")
    rows = decode_audio_chunks(synth_wav_assets(ids)).collect()
    assert len(rows) == 2 * 4  # 1024 samples / 256-chunks
    for r in rows:
        i = np.arange(r["chunk_id"] * 256, (r["chunk_id"] + 1) * 256)
        a = np.abs(((r["asset_id"] * 7 + i * 13) % 4096) - 2048)
        assert r["n_samples"] == 256
        assert r["sum_abs"] == int(a.sum())
        assert r["peak"] == int(a.max())
        assert r["sample_rate"] == 16000
