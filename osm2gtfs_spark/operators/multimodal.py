"""Multimodal column plumbing: opaque media bytes + typed metadata.

Images/audio/video ride as opaque ``binary`` columns (or ``media_ref``
pointers) with typed metadata. The Spark-side plumbing — schema, Arrow
batch shapes, ``mapInPandas`` signatures, partitioning — is real and
tested, and so is the decode for self-describing formats:

- ``fake=False`` parses REAL bytes from a ``media_blob`` binary column:
  PNG (IHDR), GIF (logical screen descriptor + frame count), JPEG
  (SOF0/1/2 scan), BMP, and WAV (fmt/data chunks → sampled frame
  count) via pure stdlib byte parsing — no external decoder needed.
  If PIL is importable it upgrades the image path (any PIL-supported
  format, true n_frames for animated media); the container has no PIL,
  so the header parsers are the default real path. Features are a
  16-bin normalized byte histogram — deterministic and content-derived.
- ``fake=True`` keeps the hash-derived deterministic stub for rows that
  carry only a ``media_ref`` (no bytes), so ref-only corpora still
  exercise the full distributed pipeline.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # optional upgrade: full-format decode when PIL is installed
    from PIL import Image as _PILImage
    import io as _io

    _HAS_PIL = True
except Exception:  # pragma: no cover - container has no PIL
    _PILImage = None
    _io = None
    _HAS_PIL = False

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)

FEATURE_DIM = 16


# ---------------------------------------------------------------------------
# real byte decoders (stdlib-only header parsers)
# ---------------------------------------------------------------------------

def _parse_png(b: bytes):
    # IHDR is the first chunk after the 8-byte signature
    if len(b) < 24:
        return None
    w, h = struct.unpack(">II", b[16:24])
    return int(w), int(h), 1


def _skip_subblocks(b: bytes, pos: int) -> int:
    while pos < len(b) and b[pos] != 0:
        pos += 1 + b[pos]
    return pos + 1


def _parse_gif(b: bytes):
    if len(b) < 13:
        return None
    w, h = struct.unpack("<HH", b[6:10])
    flags = b[10]
    pos = 13
    if flags & 0x80:  # global color table
        pos += 3 * (2 << (flags & 0x07))
    frames = 0
    while pos < len(b):
        intro = b[pos]
        if intro == 0x3B:  # trailer
            break
        if intro == 0x21:  # extension: label byte + sub-blocks
            pos = _skip_subblocks(b, pos + 2)
        elif intro == 0x2C:  # image descriptor
            frames += 1
            if pos + 10 > len(b):
                break
            lflags = b[pos + 9]
            pos += 10
            if lflags & 0x80:  # local color table
                pos += 3 * (2 << (lflags & 0x07))
            pos = _skip_subblocks(b, pos + 1)  # LZW min-code byte + data
        else:
            break  # corrupt stream: stop at what we counted
    return int(w), int(h), max(1, frames)


def _parse_jpeg(b: bytes):
    i, n = 2, len(b)
    while i + 9 < n:
        if b[i] != 0xFF:
            i += 1
            continue
        marker = b[i + 1]
        if marker in (0xC0, 0xC1, 0xC2):  # SOF0/1/2
            h, w = struct.unpack(">HH", b[i + 5 : i + 9])
            return int(w), int(h), 1
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        seg_len = struct.unpack(">H", b[i + 2 : i + 4])[0]
        i += 2 + seg_len
    return None


def _parse_bmp(b: bytes):
    if len(b) < 26:
        return None
    w, h = struct.unpack("<ii", b[18:26])
    return int(w), abs(int(h)), 1


def _parse_wav(b: bytes):
    # RIFF/WAVE: walk chunks for fmt (channels, bits) + data size
    if len(b) < 44 or b[8:12] != b"WAVE":
        return None
    pos, channels, bits, data_len, audio_fmt = 12, 1, 8, 0, 1
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        clen = struct.unpack("<I", b[pos + 4 : pos + 8])[0]
        if cid == b"fmt " and pos + 24 <= len(b):
            audio_fmt = struct.unpack("<H", b[pos + 8 : pos + 10])[0]
            channels = struct.unpack("<H", b[pos + 10 : pos + 12])[0] or 1
            bits = struct.unpack("<H", b[pos + 22 : pos + 24])[0] or 8
        elif cid == b"data":
            data_len = clen
        pos += 8 + clen + (clen % 2)
    # frame math below assumes whole-byte PCM samples; compressed
    # codecs (ADPCM etc.) and sub-byte widths would yield a bogus
    # byte-count-as-frames number — NULL dims instead
    if audio_fmt != 1 or bits < 8:
        return None
    frames = data_len // max(1, channels * (bits // 8))
    # audio: width=channels, height=bits, n_frames = sample frames
    return int(channels), int(bits), int(min(frames, 2**31 - 1))


def decode_bytes(b: bytes):
    """(width, height, n_frames) from real media bytes, or None."""
    if not b:
        return None
    # only true WAVE RIFF bypasses PIL — other RIFF containers (WebP)
    # are PIL-decodable images
    if _HAS_PIL and not (b.startswith(b"RIFF") and b[8:12] == b"WAVE"):
        try:
            img = _PILImage.open(_io.BytesIO(bytes(b)))
            return int(img.width), int(img.height), int(getattr(img, "n_frames", 1))
        except Exception:
            pass  # fall through to the header parsers
    if b.startswith(b"\x89PNG\r\n\x1a\n"):
        return _parse_png(b)
    if b.startswith((b"GIF87a", b"GIF89a")):
        return _parse_gif(b)
    if b.startswith(b"\xff\xd8"):
        return _parse_jpeg(b)
    if b.startswith(b"BM"):
        return _parse_bmp(b)
    if b.startswith(b"RIFF"):
        return _parse_wav(b)
    return None


def _byte_histogram(b: bytes) -> list[float]:
    """16-bin normalized byte histogram — deterministic content features."""
    if not b:
        return [0.0] * FEATURE_DIM
    arr = np.frombuffer(bytes(b), dtype=np.uint8)
    hist = np.bincount(arr >> 4, minlength=FEATURE_DIM).astype(np.float64)
    return (hist / hist.sum()).astype(np.float32).tolist()


def _fake_decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Deterministic fake decode: dims and features from the ref hash."""
    rows = []
    for doc_id, ref in zip(pdf.doc_id, pdf.media_ref):
        h = hashlib.md5(ref.encode()).digest()
        rng = np.random.default_rng(int.from_bytes(h[:8], "little"))
        rows.append(
            (
                doc_id,
                ref,
                int(64 + h[0] % 192),  # width
                int(64 + h[1] % 192),  # height
                int(1 + h[2] % 30),  # frame-sampled count
                rng.standard_normal(FEATURE_DIM).astype(np.float32).tolist(),
            )
        )
    return pd.DataFrame(rows, columns=[f.name for f in MEDIA_META_SCHEMA.fields])


def _real_decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for doc_id, ref, blob in zip(pdf.doc_id, pdf.media_ref, pdf.media_blob):
        raw = bytes(blob) if blob is not None else b""
        try:
            meta = decode_bytes(raw)
        except Exception:
            # corrupt/truncated container — NULL dims, never a task crash
            meta = None
        if meta is None:
            rows.append((doc_id, ref, None, None, None, _byte_histogram(raw)))
        else:
            w, h, nf = meta
            rows.append((doc_id, ref, w, h, nf, _byte_histogram(raw)))
    return pd.DataFrame(rows, columns=[f.name for f in MEDIA_META_SCHEMA.fields])


def decode_media(media: DataFrame, fake: bool = True, batch_hint: int = 1024) -> DataFrame:
    """mapInPandas decode/feature-extract over Arrow batches.

    ``fake=True``: rows carry (doc_id, media_ref); dims/features are
    hash-derived (deterministic stub for ref-only corpora).
    ``fake=False``: rows must also carry ``media_blob: binary``; dims
    come from real header parsing (PNG/GIF/JPEG/BMP/WAV stdlib
    parsers, PIL when installed), unparseable bytes yield NULL dims.
    Same schema, batch iterator shape, and partitioning either way.
    """
    if not fake and "media_blob" not in media.columns:
        raise ValueError("decode_media(fake=False) requires a media_blob binary column")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            yield _real_decode_batch(pdf) if not fake else _fake_decode_batch(pdf)

    return media.mapInPandas(gen, MEDIA_META_SCHEMA)


def frame_sample(
    meta: DataFrame,
    k: int,
    frames_col: str = "n_frames",
    keep_cols: tuple[str, ...] = ("doc_id", "media_ref"),
) -> DataFrame:
    """Evenly-spaced frame sampling plan for video/animated media:
    (keep_cols..., frame_idx) — at most ``k`` indices per asset,
    ``idx_j = j·n_frames div k`` for j ∈ [0, k), deduplicated, so every
    frame is selected when n_frames ≤ k and the spacing is uniform
    otherwise. This is the PLAN side of frame sampling (which frames a
    downstream decoder must extract — the per-frame pixel decode itself
    is the stubbed :func:`decode_media` path per the container's
    no-media-libs contract); the index math is pure codegen integer
    arithmetic, fanout exactly min(k, n_frames) rows per asset.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    j = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("_j")
    idx = F.expr(f"_j * {frames_col} div {k}").cast("int")
    # undecodable media (real-path decode yields NULL n_frames) and
    # zero-frame assets have no frame to extract — emit nothing rather
    # than a NULL/phantom index (review r5c)
    return (
        meta.filter(F.col(frames_col) >= 1)
        .select(*keep_cols, frames_col, j)
        .select(*keep_cols, idx.alias("frame_idx"))
        .distinct()
    )
