"""Multimodal binary-column plumbing: schema, Arrow batching, poison
tolerance, deterministic fake decode, frame-sample plan."""

import pytest
from pyspark.sql import functions as F

from pdf_parser_benchmark_spark.multimodal.binary_ops import (
    MEDIA_SCHEMA,
    frame_sample_plan,
    image_features,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, b"\x89PNG fake bytes 1", ("image/png", 64, 48, 0)),
        (2, b"\x89PNG fake bytes 2", ("image/png", 32, 32, 0)),
        (3, b"RIFF fake wav", ("audio/wav", 0, 0, 5500)),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_fake_decode_deterministic(spark, media):
    a = image_features(media, deterministic_fake=True).collect()
    b = image_features(media, deterministic_fake=True).collect()
    fa = {r["media_id"]: r["feat"] for r in a}
    fb = {r["media_id"]: r["feat"] for r in b}
    assert fa == fb
    assert all(len(v) == 16 for v in fa.values())
    assert fa[1] != fa[2]  # content-derived


def test_real_decode_unsupported_formats_land_in_error_rows(spark, media):
    """Garbage/unsupported payloads become error rows, never task failures
    (the fixture bytes carry fake magic that fails signature checks)."""
    out = image_features(media, deterministic_fake=False).collect()
    assert all(r["decode_error"] is not None for r in out)
    assert all(r["feat"] is None for r in out)


def _make_png(pixels, ctype=2, filters=None):
    """Minimal PNG encoder for test fixtures (spec-true chunks + CRCs)."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w = px.shape[:2]
    ch = {0: 1, 2: 3, 6: 4}[ctype]
    raw = bytearray()
    filters = filters or [0] * h
    prev = np.zeros(w * ch, dtype=np.int32)
    for y, f in zip(range(h), filters):
        row = px[y].reshape(-1).astype(np.int32)
        if f == 0:
            enc = row
        elif f == 2:  # Up
            enc = (row - prev) & 0xFF
        elif f == 1:  # Sub
            left = np.concatenate([np.zeros(ch, dtype=np.int32), row[:-ch]])
            enc = (row - left) & 0xFF
        else:
            raise ValueError(f)
        raw.append(f)
        raw += enc.astype(np.uint8).tobytes()
        prev = row

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_from_scratch_decode_exact():
    """The from-scratch PNG decoder recovers the exact pixels we encoded
    (all of filter types 0/1/2 exercised) and grid features match numpy."""
    import numpy as np

    from pdf_parser_benchmark_spark.multimodal.binary_ops import (
        _decode_image_real,
        _grid_features,
        _png_decode,
    )

    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(8, 8, 3), dtype=np.uint8)
    data = _make_png(px, ctype=2, filters=[0, 1, 2, 1, 0, 2, 1, 2])
    lum = _png_decode(data)
    expect = (
        0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
    ) / 255.0
    assert np.allclose(lum, expect)
    assert np.allclose(_decode_image_real(data), _grid_features(expect))


def test_png_malformed_chunk_order_is_valueerror():
    """ADVICE r3: IDAT before IHDR (or IHDR absent) must raise ValueError
    ('truncated PNG'), not NameError from unbound h/ch."""
    import struct
    import zlib

    import pytest

    from pdf_parser_benchmark_spark.multimodal.binary_ops import _png_decode

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    no_ihdr = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IDAT", zlib.compress(b"\x00\x01\x02\x03"))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="truncated PNG"):
        _png_decode(no_ihdr)


def test_png_gray_and_rgba():
    import numpy as np

    from pdf_parser_benchmark_spark.multimodal.binary_ops import _png_decode

    g = np.arange(16, dtype=np.uint8).reshape(4, 4, 1)
    assert np.allclose(_png_decode(_make_png(g, ctype=0)), g[:, :, 0] / 255.0)
    rgba = np.zeros((2, 2, 4), dtype=np.uint8)
    rgba[:, :, 0] = 255  # pure red, alpha ignored
    assert np.allclose(_png_decode(_make_png(rgba, ctype=6)), 0.299)


def test_pnm_decode():
    import numpy as np

    from pdf_parser_benchmark_spark.multimodal.binary_ops import _pnm_decode

    pgm = b"P5\n# comment\n3 2\n255\n" + bytes(range(6))
    assert np.allclose(_pnm_decode(pgm), np.arange(6).reshape(2, 3) / 255.0)
    ppm = b"P6 2 1 255\n" + bytes([255, 0, 0, 0, 255, 0])
    assert np.allclose(_pnm_decode(ppm), [[0.299, 0.587]])


def test_wav_from_scratch_decode_and_features():
    """Stdlib-written WAV round-trips through the from-scratch RIFF parser
    that q_audio_rms computes its windowed-RMS features over; a payload
    that is not RIFF/WAVE raises."""
    import io
    import wave

    import numpy as np

    from pdf_parser_benchmark_spark.multimodal.binary_ops import _wav_decode

    t = np.arange(8000) / 8000.0
    samples = (np.sin(2 * np.pi * 440 * t) * 20000).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(samples.tobytes())
    x = _wav_decode(buf.getvalue())
    assert np.allclose(x, samples.astype(np.float64) / 32768.0)
    with pytest.raises(ValueError):
        _wav_decode(b"not audio at all")


def test_pil_fallback_for_other_formats():
    """JPEG etc. route to PIL when installed (skips in this container)."""
    pytest.importorskip("PIL")
    import io

    import numpy as np
    from PIL import Image

    from pdf_parser_benchmark_spark.multimodal.binary_ops import _decode_image_real

    buf = io.BytesIO()
    Image.fromarray(np.full((8, 8), 128, dtype=np.uint8)).save(buf, "JPEG")
    feats = _decode_image_real(buf.getvalue())
    assert len(feats) == 16


def test_real_png_through_spark_image_features(spark):
    import numpy as np

    px = np.full((4, 4, 3), 200, dtype=np.uint8)
    media = spark.createDataFrame(
        [(1, _make_png(px), ("image/png", 4, 4, 0))], MEDIA_SCHEMA
    )
    out = image_features(media, deterministic_fake=False).collect()[0]
    assert out["decode_error"] is None
    assert np.allclose(out["feat"], 200 / 255.0, atol=1e-5)


def test_metadata_passthrough(spark, media):
    out = {r["media_id"]: r for r in image_features(media, True).collect()}
    assert out[1]["mime"] == "image/png" and out[1]["width"] == 64
    assert out[3]["mime"] == "audio/wav"


def test_frame_sample_plan(spark, media):
    plan = frame_sample_plan(media, every_ms=1000)
    got = {
        (r["media_id"], r["frame_ts_ms"]) for r in plan.collect()
    }
    # 5500ms video → frames at 0..5000; images (duration 0) → single frame 0
    assert {(3, t) for t in (0, 1000, 2000, 3000, 4000, 5000)} <= got
    assert (1, 0) in got and (1, 1000) not in got


# --- from-scratch baseline JPEG codec (multimodal/jpeg.py, r5) --------------


def _smooth_gray(h=40, w=56):
    import numpy as np

    yy, xx = np.mgrid[0:h, 0:w]
    return (128 + 60 * np.sin(yy / 9.0) + 50 * np.cos(xx / 11.0)).clip(
        0, 255
    ).astype(np.uint8)


def test_jpeg_gray_roundtrip_tight():
    import numpy as np

    from pdf_parser_benchmark_spark.multimodal.jpeg import (
        jpeg_decode,
        jpeg_encode,
    )

    img = _smooth_gray()
    for q, tol in ((95, 2), (85, 3), (60, 6)):
        dec = jpeg_decode(jpeg_encode(img, quality=q))
        assert dec.shape == img.shape and dec.dtype == np.uint8
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= tol
    # flat image is exactly representable (DC only)
    flat = np.full((16, 16), 77, np.uint8)
    assert (jpeg_decode(jpeg_encode(flat, 90)) == 77).all()


def test_jpeg_color_444_and_420_roundtrip():
    import numpy as np

    from pdf_parser_benchmark_spark.multimodal.jpeg import (
        jpeg_decode,
        jpeg_encode,
    )

    h, w = 40, 56
    yy, xx = np.mgrid[0:h, 0:w]
    rgb = np.stack(
        [
            (128 + 70 * np.sin(yy / 7.0)).clip(0, 255),
            (128 + 70 * np.cos(xx / 9.0)).clip(0, 255),
            (128 + 50 * np.sin((xx + yy) / 13.0)).clip(0, 255),
        ],
        axis=-1,
    ).astype(np.uint8)
    d444 = jpeg_decode(jpeg_encode(rgb, quality=90, subsample=False))
    d420 = jpeg_decode(jpeg_encode(rgb, quality=90, subsample=True))
    assert d444.shape == rgb.shape == d420.shape
    assert np.abs(d444.astype(int) - rgb.astype(int)).max() <= 6
    # 4:2:0 loses chroma detail but smooth fields stay close
    assert np.abs(d420.astype(int) - rgb.astype(int)).mean() <= 4


def test_jpeg_restart_markers_and_odd_dims():
    import numpy as np

    from pdf_parser_benchmark_spark.multimodal.jpeg import (
        jpeg_decode,
        jpeg_encode,
    )

    img = _smooth_gray(33, 41)  # non-multiple-of-8/16 edges exercise padding
    enc = jpeg_encode(img, quality=85, restart_interval=3)
    assert b"\xff\xdd" in enc and b"\xff\xd0" in enc  # DRI + RST0 present
    dec = jpeg_decode(enc)
    assert dec.shape == img.shape
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 4
    # color 4:2:0 with odd dims (chroma pad + crop path)
    rgb = np.stack([img] * 3, axis=-1)
    assert jpeg_decode(jpeg_encode(rgb, 85, subsample=True)).shape == rgb.shape


def test_jpeg_encoder_bytes_pinned():
    """Encoder determinism: fixed input -> byte-identical JPEG. Change the
    tables/quantization intentionally -> update these digests."""
    import hashlib

    from pdf_parser_benchmark_spark.multimodal.jpeg import jpeg_encode

    img = _smooth_gray(24, 24)
    d1 = hashlib.sha256(jpeg_encode(img, quality=85)).hexdigest()
    d2 = hashlib.sha256(jpeg_encode(img, quality=85)).hexdigest()
    assert d1 == d2  # stable within-process
    import numpy as np

    rgb = np.stack([img] * 3, axis=-1)
    d3 = hashlib.sha256(jpeg_encode(rgb, quality=85, subsample=True)).hexdigest()
    assert d3 != d1


def test_jpeg_error_paths_are_valueerror():
    import pytest as _pytest

    from pdf_parser_benchmark_spark.multimodal.jpeg import (
        jpeg_decode,
        jpeg_encode,
    )

    with _pytest.raises(ValueError):
        jpeg_decode(b"nope")
    with _pytest.raises(ValueError):  # progressive SOF2
        jpeg_decode(b"\xff\xd8\xff\xc2\x00\x04\x08\x00")
    enc = jpeg_encode(_smooth_gray(16, 16), 85)
    for cut in (30, 100, len(enc) - 3):
        with _pytest.raises(ValueError):
            jpeg_decode(enc[:cut])


def test_jpeg_through_decode_image_real():
    """Integration: _decode_image_real routes JPEG magic bytes to the
    from-scratch decoder (no PIL in this container)."""
    import numpy as np

    from pdf_parser_benchmark_spark.multimodal.binary_ops import (
        FEAT_DIM,
        _decode_image_real,
    )
    from pdf_parser_benchmark_spark.multimodal.jpeg import jpeg_encode

    feats = _decode_image_real(jpeg_encode(_smooth_gray(), 90))
    assert feats.shape == (FEAT_DIM,)
    assert np.isfinite(feats).all() and 0.0 <= feats.min() <= feats.max() <= 1.0


def test_jpeg_progressive_identical_to_baseline():
    """Progressive (SOF2) differential identity: jpeg_encode_progressive
    carries exactly the same quantized coefficients as jpeg_encode at the
    same quality, so decoding both streams must give IDENTICAL pixels —
    for gray and color, smooth and dense-noise content, with and without
    successive approximation (EOBRUN, ZRL, AC refinement all exercised)."""
    import numpy as np

    from pdf_parser_benchmark_spark.multimodal.jpeg import (
        jpeg_decode,
        jpeg_encode,
        jpeg_encode_progressive,
    )

    rng = np.random.RandomState(3)
    smooth = _smooth_gray(40, 56)
    cases = [
        smooth,
        np.stack([smooth, np.roll(smooth, 3, axis=1), 255 - smooth], axis=-1),
        rng.randint(0, 256, (24, 40)).astype(np.uint8),
        rng.randint(0, 256, (24, 40, 3)).astype(np.uint8),
    ]
    for im in cases:
        for successive in (False, True):
            for q in (85, 50):
                base = jpeg_decode(jpeg_encode(im, quality=q, subsample=False))
                dec = jpeg_decode(
                    jpeg_encode_progressive(im, quality=q,
                                            successive=successive)
                )
                assert np.array_equal(dec, base), (im.shape, successive, q)


def test_jpeg_progressive_stream_is_sof2_multiscan():
    from pdf_parser_benchmark_spark.multimodal.jpeg import (
        jpeg_encode_progressive,
    )

    enc = jpeg_encode_progressive(_smooth_gray(24, 24), quality=85,
                                  successive=True)
    assert b"\xff\xc2" in enc and b"\xff\xc0" not in enc  # SOF2, no SOF0
    assert enc.count(b"\xff\xda") >= 4  # DC, DC-refine, AC bands + refines


def test_jpeg_progressive_random_sweep():
    """Property sweep: 60 random images (sizes incl. non-multiples of 8,
    gray + color, three qualities, both successive modes) — every
    progressive stream must decode pixel-identical to its baseline twin."""
    import numpy as np

    from pdf_parser_benchmark_spark.multimodal.jpeg import (
        jpeg_decode,
        jpeg_encode,
        jpeg_encode_progressive,
    )

    rng = np.random.RandomState(42)
    for i in range(60):
        h = int(rng.randint(8, 40))
        w = int(rng.randint(8, 40))
        if i % 2:
            im = rng.randint(0, 256, (h, w)).astype(np.uint8)
        else:
            im = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        q = [95, 75, 40][i % 3]
        successive = bool(i % 2)
        base = jpeg_decode(jpeg_encode(im, quality=q, subsample=False))
        dec = jpeg_decode(
            jpeg_encode_progressive(im, quality=q, successive=successive)
        )
        assert np.array_equal(dec, base), (i, im.shape, q, successive)
