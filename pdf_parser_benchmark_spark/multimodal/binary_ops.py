"""Multimodal (image/audio/video) columns for training-data pipelines.

Model: media is an opaque `binary` column + a typed metadata struct
(mime/width/height/duration), exactly like the pages table carries HTML/PDF
bytes. All heavy per-row work is Arrow-batched `mapInPandas` — the Spark
plumbing (schemas, batch iteration, partitioning) is real and tested.

Codecs: PNG and binary PNM images plus WAV/PCM audio are decoded by
FROM-SCRATCH stdlib+numpy decoders (public specs: RFC 2083, RIFF/WAVE) —
real, deterministic, and tested in-container. Other image formats
(JPEG/WebP) route to PIL when importable (skip-if-absent test) and
otherwise land in the poison-tolerant `decode_error` column.
`deterministic_fake=True` remains for the exact-SQL-twin oracle path
(sha256-derived features).

Reference analog: the GPT-4o vision path rendered page PNGs and sent them
out-of-process (/root/reference/src/ingest.py:57-63,79-99); here the binary
→ feature step is in-process and vectorized.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

MEDIA_SCHEMA = (
    "media_id bigint, payload binary, "
    "meta struct<mime:string, width:int, height:int, duration_ms:int>"
)

IMAGE_FEATURES_SCHEMA = (
    "media_id bigint, mime string, width int, height int, "
    "feat array<float>, decode_error string"
)

FEAT_DIM = 16


def _png_decode(payload: bytes) -> np.ndarray:
    """From-scratch PNG decode (public spec RFC 2083): non-interlaced,
    bit-depth 8, color types 0 (gray), 2 (RGB), 6 (RGBA). Returns an
    (h, w) float64 luminance array in [0, 1]. zlib is stdlib; the per-row
    unfiltering is the spec's five filter types."""
    import struct
    import zlib as _z

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, w, h, ch = 8, None, None, None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,), typ = struct.unpack(">I", payload[pos : pos + 4]), payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if typ == b"IHDR":
            w, h, depth, ctype, _, _, interlace = struct.unpack(">IIBBBBB", data)
            if depth != 8 or ctype not in (0, 2, 6) or interlace:
                raise ValueError(f"unsupported PNG (depth={depth} ctype={ctype})")
            ch = {0: 1, 2: 3, 6: 4}[ctype]
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if w is None or h is None or ch is None or not idat:
        raise ValueError("truncated PNG")
    raw = _z.decompress(bytes(idat))
    stride = w * ch
    if len(raw) < h * (stride + 1):
        raise ValueError("short PNG pixel data")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f = raw[y * (stride + 1)]
        row = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).copy()
        if f == 0:
            pass
        elif f == 2:  # Up
            row += prev
        else:  # Sub/Average/Paeth carry left-to-right state per pixel
            rr = row.astype(np.int32)
            pv = prev.astype(np.int32)
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = cur[x - ch] if x >= ch else 0
                b = pv[x]
                if f == 1:
                    cur[x] = (rr[x] + a) & 0xFF
                elif f == 3:
                    cur[x] = (rr[x] + ((a + b) >> 1)) & 0xFF
                elif f == 4:
                    c = pv[x - ch] if x >= ch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[x] = (rr[x] + pr) & 0xFF
                else:
                    raise ValueError(f"bad PNG filter {f}")
            row = cur.astype(np.uint8)
        out[y] = row
        prev = row
    px = out.reshape(h, w, ch).astype(np.float64)
    if ch == 1:
        lum = px[:, :, 0]
    else:  # ITU-R BT.601 luma; alpha ignored
        lum = 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
    return lum / 255.0


def _pnm_decode(payload: bytes) -> np.ndarray:
    """Binary PGM (P5) / PPM (P6), maxval ≤ 255 → (h, w) luminance in [0,1]."""
    import re as _re

    m = _re.match(
        rb"(P[56])\s+(?:#[^\n]*\s+)*(\d+)\s+(\d+)\s+(\d+)\s", payload
    )
    if not m:
        raise ValueError("not a binary PNM")
    kind, w, h, maxval = m.group(1), int(m.group(2)), int(m.group(3)), int(m.group(4))
    if maxval > 255:
        raise ValueError("16-bit PNM unsupported")
    ch = 3 if kind == b"P6" else 1
    px = np.frombuffer(payload, dtype=np.uint8, count=w * h * ch, offset=m.end())
    px = px.reshape(h, w, ch).astype(np.float64)
    lum = px[:, :, 0] if ch == 1 else (
        0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
    )
    return lum / maxval


def _grid_features(lum: np.ndarray) -> np.ndarray:
    """(h, w) luminance → FEAT_DIM features: mean over a 4×4 spatial grid
    (deterministic, resolution-invariant)."""
    g = int(FEAT_DIM ** 0.5)
    h, w = lum.shape
    ys = np.linspace(0, h, g + 1).astype(int)
    xs = np.linspace(0, w, g + 1).astype(int)
    return np.array(
        [
            lum[ys[i] : max(ys[i + 1], ys[i] + 1),
                xs[j] : max(xs[j + 1], xs[j] + 1)].mean()
            for i in range(g)
            for j in range(g)
        ]
    )


def _decode_image_real(payload: bytes) -> np.ndarray:
    """Real decode: from-scratch PNG/PNM decoders (stdlib-only, always
    available, deterministic); PIL as an import-guarded fallback for other
    formats (JPEG etc.) on clusters that have it."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _grid_features(_png_decode(payload))
    if payload[:2] in (b"P5", b"P6"):
        return _grid_features(_pnm_decode(payload))
    if payload[:2] == b"\xff\xd8":
        from .jpeg import jpeg_decode  # from-scratch baseline JPEG (r5)

        px = jpeg_decode(payload).astype(np.float64)
        lum = px if px.ndim == 2 else (
            0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
        )
        return _grid_features(lum / 255.0)
    try:
        from PIL import Image  # optional dependency, absent in this container
    except ImportError:
        raise NotImplementedError(
            "unsupported image format (from-scratch decoders cover "
            "PNG/PNM/baseline-JPEG; install PIL on the cluster for WebP/…)"
        )
    import io

    img = Image.open(io.BytesIO(payload)).convert("L")
    lum = np.asarray(img, dtype=np.float64) / 255.0
    return _grid_features(lum)


# -- audio: from-scratch WAV (RIFF/PCM) decode --------------------------------

def _wav_decode(payload: bytes) -> np.ndarray:
    """From-scratch WAV parse (public RIFF/WAVE layout): PCM 8/16-bit,
    any channel count (averaged to mono) → float64 samples in [-1, 1]."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    fmt = data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + clen]
        pos += 8 + clen + (clen & 1)
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("truncated WAV")
    audio_fmt, n_ch, _rate, _, _, bits = fmt
    if audio_fmt != 1 or bits not in (8, 16):
        raise ValueError(f"unsupported WAV (fmt={audio_fmt} bits={bits})")
    if bits == 16:
        x = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    else:
        x = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    if n_ch > 1:
        x = x[: len(x) - len(x) % n_ch].reshape(-1, n_ch).mean(axis=1)
    return x


def _decode_image_fake(payload: bytes) -> np.ndarray:
    """Deterministic stand-in: 'pixels' derived from a sha256 stream of the
    payload — stable bytes→features, so tests can assert exact values."""
    h = hashlib.sha256(payload).digest()
    raw = (h * ((FEAT_DIM * 4) // len(h) + 1))[: FEAT_DIM * 4]
    arr = np.frombuffer(raw, dtype=np.uint32).astype(np.float64)
    return (arr % 1000) / 1000.0


def image_features(
    media: DataFrame, deterministic_fake: bool = False
) -> DataFrame:
    """binary → FEAT_DIM feature vector, Arrow-batched, poison-tolerant."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decode = _decode_image_fake if deterministic_fake else _decode_image_real
        for b in batches:
            out = []
            for mid, payload, meta in zip(b["media_id"], b["payload"], b["meta"]):
                rec = {
                    "media_id": int(mid),
                    "mime": meta["mime"] if meta is not None else None,
                    "width": meta["width"] if meta is not None else None,
                    "height": meta["height"] if meta is not None else None,
                    "feat": None,
                    "decode_error": None,
                }
                try:
                    vec = decode(bytes(payload))
                    rec["feat"] = [float(round(v, 6)) for v in vec]
                except Exception as e:
                    rec["decode_error"] = f"{type(e).__name__}: {e}"[:200]
                out.append(rec)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=IMAGE_FEATURES_SCHEMA)


def frame_sample_plan(
    media: DataFrame, every_ms: int = 1000
) -> DataFrame:
    """Video frame-sampling *plan*: one row per (media_id, frame_ts_ms) —
    pure built-ins (sequence+explode); the decode of each frame would go
    through image_features. Shows the explode-then-decode shape without
    codecs."""
    return media.select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col("meta.duration_ms") - 1, F.lit(0)),
                F.lit(every_ms),
            )
        ).alias("frame_ts_ms"),
    )
