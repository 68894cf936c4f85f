"""Multimodal column operators (SURVEY.md §2.11).

Convention: an asset is an opaque ``binary`` payload plus typed metadata
(``map<string,string>``); Parquet column pruning means the blob bytes are
never read unless the payload column is selected — which is the entire
point of the layout at 100 TB (metadata-only scans stay cheap).

The decode/feature-extract steps run as Arrow-batched ``mapInPandas``
UDFs. Image decoding is REAL in-container: a pure-numpy parser for
binary PPM/PGM (netpbm P6/P5) and uncompressed 24-bit BMP backs the
default image decode and stats paths — no third-party imaging wheel
required. ``DECODERS`` stays the extension
point where a deployment registers richer codecs (PIL/libjpeg-class);
registered entries take precedence over the built-ins.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "asset_id long, modality string, n_bytes long, payload_hash string, "
    "feature string"
)

#: modality → decoder(payload bytes) -> feature string. Pre-populated with
#: the pure-numpy image decoder below; deployments may override any entry
#: (e.g. a PIL-backed decoder) — the registry always wins over built-ins.
DECODERS: dict[str, Callable[[bytes], str]] = {}


def _fake_decode(payload: bytes) -> str:
    """Deterministic byte-stats feature for modalities with no registered
    decoder — keeps unknown-modality pipelines testable end-to-end."""
    return f"len={len(payload)};head={payload[:4].hex()}"


# --- pure-numpy image codecs (PPM/PGM + BMP) --------------------------------


def _parse_netpbm(data: bytes) -> tuple[np.ndarray, str]:
    """Binary netpbm (P6 → HxWx3, P5 → HxWx1) to a uint8 array.

    Full header grammar: whitespace-separated width/height/maxval with
    ``#`` comments, one whitespace byte before the raster.
    """
    magic = data[:2]
    if magic not in (b"P6", b"P5"):
        raise ValueError("not a binary PPM/PGM payload")
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        vals.append(int(data[start:pos]))
    pos += 1  # the single whitespace byte separating header from raster
    w, h, maxval = vals
    if maxval > 255:
        raise ValueError("16-bit netpbm not supported")
    channels = 3 if magic == b"P6" else 1
    n = w * h * channels
    arr = np.frombuffer(data, dtype=np.uint8, count=n, offset=pos)
    return arr.reshape(h, w, channels), ("ppm" if channels == 3 else "pgm")


def _parse_bmp(data: bytes) -> tuple[np.ndarray, str]:
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER) to an HxWx3 RGB array.
    Handles 4-byte row padding and both bottom-up and top-down rasters."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = int.from_bytes(data[10:14], "little")
    w = int.from_bytes(data[18:22], "little", signed=True)
    h = int.from_bytes(data[22:26], "little", signed=True)
    bpp = int.from_bytes(data[28:30], "little")
    comp = int.from_bytes(data[30:34], "little")
    if bpp != 24 or comp != 0:
        raise ValueError("only uncompressed 24-bit BMP is supported")
    bottom_up, h_abs = h > 0, abs(h)
    row_bytes = (w * 3 + 3) // 4 * 4
    arr = np.frombuffer(data, dtype=np.uint8, count=row_bytes * h_abs, offset=off)
    arr = arr.reshape(h_abs, row_bytes)[:, : w * 3].reshape(h_abs, w, 3)
    if bottom_up:
        arr = arr[::-1]
    return arr[:, :, ::-1], "bmp"  # BGR storage → RGB


def image_array(payload: bytes) -> tuple[np.ndarray, str]:
    """Decode a PPM/PGM/BMP payload to (uint8 array HxWxC, format name);
    raises ValueError for any other byte stream."""
    if payload[:2] in (b"P6", b"P5"):
        return _parse_netpbm(payload)
    if payload[:2] == b"BM":
        return _parse_bmp(payload)
    raise ValueError("unsupported image payload (expected PPM/PGM/BMP)")


def encode_ppm(arr: np.ndarray) -> bytes:
    """uint8 HxWx3 (or HxWx1 → P5) array back to binary netpbm bytes."""
    h, w, c = arr.shape
    magic = b"P6" if c == 3 else b"P5"
    return b"%s\n%d %d\n255\n" % (magic, w, h) + arr.tobytes()


def decode_image(payload: bytes) -> str:
    """Default image feature: format, dimensions, exact mean pixel value.
    The mean is an integer sum divided once — bit-stable everywhere."""
    arr, fmt = image_array(payload)
    h, w, _c = arr.shape
    mean = int(arr.sum(dtype=np.int64)) / arr.size
    return f"{fmt};{w}x{h};mean={mean:.6f}"


DECODERS["image"] = decode_image


def attach_payloads(df: DataFrame, text_col: str = "text", modality: str = "text") -> DataFrame:
    """Derive a multimodal asset table from a text table: payload = utf-8
    bytes, metadata map with modality + source columns. Used to exercise
    the binary-column plumbing against real data."""
    return df.select(
        F.col("doc_id").alias("asset_id"),
        F.lit(modality).alias("modality"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.create_map(
            F.lit("modality"), F.lit(modality),
            F.lit("source"), F.col("source"),
        ).alias("meta"),
    )


def extract_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``mapInPandas`` keeps the blobs executor-local (no shuffle): each
    partition's batches stream through the Python worker once.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for batch in batches:
            payloads = batch["payload"]
            modalities = batch["modality"]
            features = []
            for payload, modality in zip(payloads, modalities):
                decoder = DECODERS.get(modality, _fake_decode)
                features.append(decoder(bytes(payload)))
            yield pd.DataFrame(
                {
                    "asset_id": batch["asset_id"],
                    "modality": modalities,
                    "n_bytes": payloads.map(len),
                    "payload_hash": payloads.map(
                        lambda b: hashlib.sha256(bytes(b)).hexdigest()
                    ),
                    "feature": features,
                }
            )

    return assets.mapInPandas(run, schema=FEATURE_SCHEMA)


def blob_stats(assets: DataFrame) -> DataFrame:
    """Metadata-only scan: per-modality/source byte accounting. Stays
    JVM-side; the payload column is touched only for length/digest."""
    return (
        assets.groupBy("modality", F.col("meta").getItem("source").alias("source"))
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum(F.length("payload")).alias("total_bytes"),
            F.countDistinct(F.sha2("payload", 256)).alias("n_distinct_payloads"),
        )
    )


FRAME_SCHEMA = "asset_id long, frame_id long, frame_len long, frame_head string"


def sample_frames(
    assets: DataFrame, frame_size: int = 32, every: int = 4
) -> DataFrame:
    """Frame sampling over binary payloads: treat the payload as a
    sequence of fixed-size frames and keep every ``every``-th one.

    The byte-slicing plumbing is REAL (no media library needed) — a video
    pipeline swaps the fixed-size slicer for a container demuxer and
    keeps the same Arrow-batched shape. One pass, executor-local, output
    rows ~ payload_bytes / (frame_size * every).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids, fids, lens, heads = [], [], [], []
            for asset_id, payload in zip(batch["asset_id"], batch["payload"]):
                data = bytes(payload)
                n_frames = max((len(data) + frame_size - 1) // frame_size, 1)
                for i in range(0, n_frames, every):
                    frame = data[i * frame_size : (i + 1) * frame_size]
                    ids.append(asset_id)
                    fids.append(i)
                    lens.append(len(frame))
                    heads.append(frame[:4].hex())
            yield pd.DataFrame(
                {
                    "asset_id": ids,
                    "frame_id": fids,
                    "frame_len": lens,
                    "frame_head": heads,
                }
            )

    return assets.select("asset_id", "payload").mapInPandas(run, FRAME_SCHEMA)


SYNTH_PPM_WIDTH, SYNTH_PPM_HEIGHT = 8, 6


def synth_ppm_assets(
    ids: DataFrame,
    id_col: str = "doc_id",
    width: int = SYNTH_PPM_WIDTH,
    height: int = SYNTH_PPM_HEIGHT,
) -> DataFrame:
    """Deterministic REAL image payloads from an id column: pixel i of
    asset d is ``(d*31 + i) mod 256``, encoded as binary PPM (P6). The
    container ships no image files, so this is the in-repo stand-in for
    an image-blob scan — the bytes are genuine netpbm that any external
    tool decodes, and the closed-form pixel rule lets a SQL oracle state
    the expected decode statistics arithmetically. Executor-local
    (mapInPandas over the id column; no shuffle)."""
    n = width * height * 3

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = np.arange(n, dtype=np.int64)
        for batch in batches:
            payloads = [
                encode_ppm(
                    (((int(d) * 31 + idx) % 256).astype(np.uint8)).reshape(
                        height, width, 3
                    )
                )
                for d in batch[id_col]
            ]
            yield pd.DataFrame(
                {
                    "asset_id": batch[id_col],
                    "modality": "image",
                    "payload": payloads,
                }
            )

    return ids.select(id_col).mapInPandas(
        run, "asset_id long, modality string, payload binary"
    )


IMAGE_STATS_SCHEMA = (
    "asset_id long, fmt string, width long, height long, n_bytes long, "
    "mean_pixel double"
)


def decode_image_stats(assets: DataFrame) -> DataFrame:
    """Decode every payload with the pure-numpy image parser and emit
    relational statistics (format, dimensions, byte size, exact mean
    pixel). The mean is an integer sum divided once, so it is bit-stable
    across engines and partitionings — hash-checkable by a SQL oracle.
    Executor-local Arrow pass; blobs never shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids, fmts, ws, hs, sizes, means = [], [], [], [], [], []
            for asset_id, payload in zip(batch["asset_id"], batch["payload"]):
                data = bytes(payload)
                arr, fmt = image_array(data)
                h, w, _c = arr.shape
                ids.append(asset_id)
                fmts.append(fmt)
                ws.append(w)
                hs.append(h)
                sizes.append(len(data))
                means.append(int(arr.sum(dtype=np.int64)) / arr.size)
            yield pd.DataFrame(
                {
                    "asset_id": ids,
                    "fmt": fmts,
                    "width": ws,
                    "height": hs,
                    "n_bytes": sizes,
                    "mean_pixel": means,
                }
            )

    return assets.select("asset_id", "payload").mapInPandas(
        run, IMAGE_STATS_SCHEMA
    )


# --- audio: real RIFF/WAVE PCM synth + chunked decode ------------------------

SYNTH_PCM_SAMPLES = 1024
SYNTH_PCM_RATE = 16_000
AUDIO_CHUNK = 256


def encode_wav(samples: np.ndarray, rate: int = SYNTH_PCM_RATE) -> bytes:
    """Mono 16-bit PCM RIFF/WAVE bytes (the 44-byte canonical header) —
    genuine WAV any external tool plays."""
    pcm = samples.astype("<i2").tobytes()
    import struct

    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF",
        36 + len(pcm),
        b"WAVE",
        b"fmt ",
        16,
        1,  # PCM
        1,  # mono
        rate,
        rate * 2,  # byte rate
        2,  # block align
        16,  # bits
        b"data",
        len(pcm),
    )
    return hdr + pcm


def parse_wav(data: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE → (int16 sample array, sample rate). Walks the chunk
    list (not a fixed 44-byte assumption) so files with extra chunks
    parse too."""
    import struct

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, samples = 12, None, None
    while pos + 8 <= len(data):
        cid, size = data[pos : pos + 4], struct.unpack(
            "<I", data[pos + 4 : pos + 8]
        )[0]
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt, ch, rate, _br, _ba, bits = struct.unpack("<HHIIHH", body[:16])
            if (fmt, ch, bits) != (1, 1, 16):
                raise ValueError("only mono 16-bit PCM supported")
        elif cid == b"data":
            samples = np.frombuffer(body, dtype="<i2").astype(np.int64)
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or samples is None:
        raise ValueError("missing fmt/data chunk")
    return samples, rate


def synth_wav_assets(
    ids: DataFrame, id_col: str = "doc_id", n_samples: int = SYNTH_PCM_SAMPLES
) -> DataFrame:
    """Deterministic REAL audio payloads from an id column: sample i of
    asset d is ``((d*7 + i*13) mod 4096) - 2048`` (int16), wrapped in a
    genuine RIFF/WAVE container — the audio twin of synth_ppm_assets,
    with the same closed-form rule so a SQL oracle can state chunk
    statistics arithmetically. Executor-local mapInPandas; no shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = np.arange(n_samples, dtype=np.int64)
        for batch in batches:
            payloads = [
                encode_wav(((int(d) * 7 + idx * 13) % 4096) - 2048)
                for d in batch[id_col]
            ]
            yield pd.DataFrame(
                {
                    "asset_id": batch[id_col],
                    "modality": "audio",
                    "payload": payloads,
                }
            )

    return ids.select(id_col).mapInPandas(
        run, "asset_id long, modality string, payload binary"
    )


AUDIO_CHUNK_SCHEMA = (
    "asset_id long, chunk_id long, sample_rate long, n_samples long, "
    "sum_abs long, peak long"
)


def decode_audio_chunks(
    assets: DataFrame, chunk: int = AUDIO_CHUNK
) -> DataFrame:
    """Parse each WAV payload and window its samples into fixed-length
    chunks (the framing step every audio featurizer — VAD, fbank,
    codec — starts with), emitting exact integer per-chunk stats:
    Σ|amplitude| and peak. Integer arithmetic end-to-end, so the output
    is bit-stable and SQL-oracle-checkable. Executor-local Arrow pass;
    payload bytes never shuffle — only the #chunks-sized stats do."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = {k: [] for k in (
                "asset_id", "chunk_id", "sample_rate", "n_samples",
                "sum_abs", "peak",
            )}
            for asset_id, payload in zip(batch["asset_id"], batch["payload"]):
                samples, rate = parse_wav(bytes(payload))
                for c in range(0, len(samples), chunk):
                    win = samples[c : c + chunk]
                    a = np.abs(win)
                    out["asset_id"].append(asset_id)
                    out["chunk_id"].append(c // chunk)
                    out["sample_rate"].append(rate)
                    out["n_samples"].append(len(win))
                    out["sum_abs"].append(int(a.sum()))
                    out["peak"].append(int(a.max()) if len(win) else 0)
            yield pd.DataFrame(out)

    return assets.select("asset_id", "payload").mapInPandas(
        run, AUDIO_CHUNK_SCHEMA
    )
