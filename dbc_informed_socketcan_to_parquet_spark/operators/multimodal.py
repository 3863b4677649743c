"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata.

Image/audio/video content rides as binary columns with a metadata struct;
decode / feature-extraction / resize / frame-sampling run as Arrow-batched
``mapInPandas`` operators.  IMAGE codecs (PIL) are not in this container,
so those decode kernels are stubs: the *deterministic fake* path keeps
schema, batch shape, partitioning, and UDF signatures real and testable,
and the real path raises ``NotImplementedError`` behind an import-try —
swap-in-able without touching any Spark plumbing.  AUDIO kernels are
fully REAL: RIFF/WAVE headers and 16-bit PCM need only struct + numpy
(:func:`wav_metadata`, :func:`audio_features`).

Scale: binary payloads make wide rows — the operators repartition by a
size-aware key before the Python stage so one task never holds a skewed
byte volume, and metadata-only transforms stay pure-Column (no Python).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Feature vector size produced by the (fake) image featurizer.
FAKE_FEATURE_DIM = 8


def attach_media(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Synthesize a multimodal table from a text corpus: content = utf-8
    bytes (stand-in for an image payload), typed metadata derived
    deterministically.  Pure Column algebra."""
    content = F.encode(F.col(text_col), "utf-8")
    size = F.length(content)
    return df.select(
        F.col(id_col),
        content.alias("content"),
        F.when(size % 3 == 0, "image/png").when(size % 3 == 1, "audio/wav").otherwise("video/mp4").alias("media_type"),
        (size % 640 + 16).cast("int").alias("width"),
        (size % 480 + 16).cast("int").alias("height"),
        (size % 120 + 1).cast("int").alias("n_frames"),
        size.alias("n_bytes"),
    )


def _fake_decode(content: bytes) -> list[float]:
    """Deterministic stand-in for a pixel decode: sha256-derived features.

    Real path (absent libs):
        from PIL import Image  # raises ImportError in this container
    """
    d = hashlib.sha256(content).digest()
    return [b / 255.0 for b in d[:FAKE_FEATURE_DIM]]


def _have_real_codecs() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def _real_decode(content: bytes) -> list[float]:
    """Real image featurizer: decode with PIL, 8-bin grayscale histogram
    normalized to [0, 1] — deterministic, codec-backed, same shape as the
    fake path (FAKE_FEATURE_DIM floats)."""
    import io

    from PIL import Image

    img = Image.open(io.BytesIO(content)).convert("L")
    hist = img.histogram()  # 256 bins
    n_px = float(img.width * img.height)
    bins = [sum(hist[i * 32:(i + 1) * 32]) / n_px for i in range(FAKE_FEATURE_DIM)]
    return bins


def extract_features(df: DataFrame, content_col: str = "content", id_col: str = "doc_id", real: bool = False) -> DataFrame:
    """mapInPandas featurizer: (id, content) → (id, features array<double>).

    ``real=True`` decodes with PIL (8-bin grayscale histogram) and raises
    ``NotImplementedError`` when no codec is installed — the contract
    point where a richer PIL/torch kernel plugs in.  The fake path
    exercises the identical Arrow batch flow, schema, and partitioning.
    """
    if real and not _have_real_codecs():
        raise NotImplementedError("real media decode requires PIL/librosa/ffmpeg — not available; use real=False")

    out_schema = f"{id_col} long, features array<double>"
    decode = _real_decode if real else _fake_decode

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "features": [decode(bytes(c)) for c in pdf[content_col]],
                }
            )

    # Size-aware rebalance: hash-distribute on id so a few huge payloads
    # don't serialize through one Arrow batch.
    return df.select(id_col, content_col).repartition(F.col(id_col)).mapInPandas(kernel, out_schema)


def frame_sample_plan(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Metadata-only frame sampling plan: which frame indices to decode —
    stays pure Column (sequence + filter), no Python; the decode of the
    chosen frames is `extract_features`' job."""
    idx = F.sequence(F.lit(0), F.col("n_frames") - 1)
    chosen = F.filter(idx, lambda i: i % every_n == 0)
    return df.withColumn("sample_frames", chosen)


def _fake_resize(content: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in for a pixel resize: sha256-keyed byte stream
    of length ∝ width × height (3 bytes/pixel, capped) so downstream size
    accounting and schema plumbing behave like the real kernel."""
    import hashlib

    n = min(width * height * 3, 1 << 16)
    seed = hashlib.sha256(content + f"{width}x{height}".encode()).digest()
    reps = (n // len(seed)) + 1
    return (seed * reps)[:n]


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    content_col: str = "content",
    id_col: str = "doc_id",
    real: bool = False,
) -> DataFrame:
    """Resize image payloads to ``width × height`` — Arrow-batched
    ``mapInPandas``, binary in → binary out plus typed size metadata.

    Like :func:`extract_features`, the pixel kernel is a declared stub
    (PIL is not in this container; ``real=True`` raises) while the Spark
    side — schema, size-aware repartition, batch shape — is real and
    tested.  Output: ``(id, content binary, width int, height int)``.
    """
    if real and not _have_real_codecs():
        raise NotImplementedError("real image resize requires PIL — not available; use real=False")

    out_schema = f"{id_col} long, {content_col} binary, width int, height int"

    def _real_resize(content: bytes) -> bytes:
        import io

        from PIL import Image

        img = Image.open(io.BytesIO(content))
        out = io.BytesIO()
        img.resize((width, height)).save(out, format="PNG")
        return out.getvalue()

    def resize(c: bytes) -> bytes:
        return _real_resize(c) if real else _fake_resize(c, width, height)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    content_col: [resize(bytes(c)) for c in pdf[content_col]],
                    "width": width,
                    "height": height,
                }
            )

    return df.select(id_col, content_col).repartition(F.col(id_col)).mapInPandas(kernel, out_schema)


# -- audio: REAL kernels (RIFF/PCM need no external codec) -------------------

def _parse_wav_header(content: bytes) -> tuple | None:
    """(n_channels, sample_rate, bits_per_sample, data_offset, data_size)
    from a RIFF/WAVE byte string, or None if malformed.  Walks the chunk
    list (fmt may not be first; LIST/fact chunks are common)."""
    import struct

    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(content):
        cid, size = content[pos:pos + 4], struct.unpack_from("<I", content, pos + 4)[0]
        body = pos + 8
        if cid == b"fmt " and body + 16 <= len(content):
            _, ch, sr, _, _, bits = struct.unpack_from("<HHIIHH", content, body)
            fmt = (ch, sr, bits)
        elif cid == b"data":
            data = (body, min(size, len(content) - body))
        pos = body + size + (size & 1)          # chunks are word-aligned
    if fmt is None or data is None or fmt[0] == 0 or fmt[1] == 0 or fmt[2] == 0:
        return None
    return (*fmt, *data)


def wav_metadata(df: DataFrame, content_col: str = "content", id_col: str = "doc_id") -> DataFrame:
    """REAL audio metadata extraction — RIFF/WAVE headers are plain struct
    parsing, no codec needed: ``(id, n_channels, sample_rate,
    bits_per_sample, n_samples, duration_s)``; malformed payloads yield
    NULLs (quarantine-friendly) instead of failing the task.

    Arrow-batched ``mapInPandas`` with the same size-aware repartition as
    the image kernels.
    """
    out_schema = (
        f"{id_col} long, n_channels int, sample_rate int, bits_per_sample int, "
        "n_samples long, duration_s double"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, c in zip(pdf[id_col], pdf[content_col]):
                h = _parse_wav_header(bytes(c)) if c is not None else None
                if h is None:
                    rows.append((i, None, None, None, None, None))
                    continue
                ch, sr, bits, _, dsize = h
                n = dsize // (ch * (bits // 8)) if bits >= 8 else 0
                rows.append((i, ch, sr, bits, n, n / sr))
            yield pd.DataFrame(rows, columns=[
                id_col, "n_channels", "sample_rate", "bits_per_sample",
                "n_samples", "duration_s",
            ])

    return df.select(id_col, content_col).repartition(F.col(id_col)).mapInPandas(kernel, out_schema)


def audio_features(df: DataFrame, content_col: str = "content", id_col: str = "doc_id") -> DataFrame:
    """REAL audio feature extraction over 16-bit PCM WAV payloads — pure
    numpy DSP, no codec: ``(id, rms double, peak double,
    zero_crossing_rate double)``, amplitudes normalized to [-1, 1] and
    channels averaged.  Non-PCM16 / malformed payloads yield NULLs.

    The numpy work is vectorized per payload inside the Arrow batch —
    the classic silence-trim / energy-gate features a speech-corpus
    pipeline filters on.
    """
    import numpy as np

    out_schema = f"{id_col} long, rms double, peak double, zero_crossing_rate double"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, c in zip(pdf[id_col], pdf[content_col]):
                b = bytes(c) if c is not None else b""
                h = _parse_wav_header(b)
                if h is None or h[2] != 16:
                    rows.append((i, None, None, None))
                    continue
                ch, sr, _, off, dsize = h
                usable = dsize - (dsize % (2 * ch))
                if usable <= 0:
                    rows.append((i, None, None, None))
                    continue
                pcm = np.frombuffer(b, dtype="<i2", count=usable // 2, offset=off)
                x = pcm.reshape(-1, ch).mean(axis=1) / 32768.0
                rms = float(np.sqrt(np.mean(x * x)))
                peak = float(np.max(np.abs(x)))
                zcr = (
                    float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1])))
                    if len(x) > 1 else 0.0
                )
                rows.append((i, rms, peak, zcr))
            yield pd.DataFrame(rows, columns=[id_col, "rms", "peak", "zero_crossing_rate"])

    return df.select(id_col, content_col).repartition(F.col(id_col)).mapInPandas(kernel, out_schema)
