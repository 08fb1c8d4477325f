"""Real-pixel decode path (VERDICT r6 task 6): the pure-stdlib BMP/PNG
codec must reproduce known pixels EXACTLY, and ``decode_stub(real_decode=
True)`` must run that path end-to-end through Spark (mime sniff ->
mapInPandas -> real width/height/pixel-stat features), while unsupported
formats keep the honest NotImplementedError gate."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from sales_telegram_bot_data_pipeline_spark.sources.binary import decode_stub, with_binary_metadata
from sales_telegram_bot_data_pipeline_spark.sources.imagecodec import (
    UnsupportedImage,
    decode_bmp,
    decode_image,
    decode_png,
    image_stats_features,
)


def encode_bmp(img: np.ndarray) -> bytes:
    """Minimal uncompressed 24-bit bottom-up BMP writer (test-side inverse
    of decode_bmp)."""
    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    rows = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = img[y, :, ::-1].tobytes()  # RGB -> BGR
        rows += row + b"\x00" * (stride - len(row))
    pixel_off = 14 + 40
    file_size = pixel_off + len(rows)
    header = b"BM" + struct.pack("<IHHI", file_size, 0, 0, pixel_off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 2835, 2835, 0, 0)
    return header + dib + bytes(rows)


def _filter_row(row: np.ndarray, prev: np.ndarray, ftype: int, bpp: int) -> bytes:
    """Apply PNG filter ``ftype`` forward (test-side inverse of the
    decoder's unfiltering)."""
    n = len(row)
    out = np.zeros(n, dtype=np.uint8)
    for i in range(n):
        a = int(row[i - bpp]) if i >= bpp else 0
        b = int(prev[i])
        c = int(prev[i - bpp]) if i >= bpp else 0
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = a
        elif ftype == 2:
            pred = b
        elif ftype == 3:
            pred = (a + b) >> 1
        else:  # Paeth
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
        out[i] = (int(row[i]) - pred) & 0xFF
    return bytes([ftype]) + out.tobytes()


def encode_png(img: np.ndarray, color_type: int = 2) -> bytes:
    """Minimal 8-bit PNG writer; row y uses filter y % 5, so decoding
    exercises ALL five scanline filters."""
    h, w = img.shape[:2]
    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    flat = img.reshape(h, w * channels)
    raw = bytearray()
    prev = np.zeros(w * channels, dtype=np.uint8)
    for y in range(h):
        raw += _filter_row(flat[y], prev, y % 5, channels)
        prev = flat[y]

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


RNG = np.random.RandomState(42)
IMG = RNG.randint(0, 256, size=(11, 7, 3), dtype=np.uint8)  # odd dims: BMP padding


def test_bmp_roundtrip_exact():
    assert np.array_equal(decode_bmp(encode_bmp(IMG)), IMG)


def test_png_rgb_roundtrip_exercises_all_filters():
    # 11 rows -> filters 0,1,2,3,4 each used at least twice
    assert np.array_equal(decode_png(encode_png(IMG, color_type=2)), IMG)


def test_png_gray_and_rgba_variants():
    gray = IMG[:, :, 0].reshape(11, 7, 1)
    out = decode_png(encode_png(gray, color_type=0))
    assert np.array_equal(out, np.repeat(gray, 3, axis=2))
    rgba = np.concatenate([IMG, np.full((11, 7, 1), 200, np.uint8)], axis=2)
    assert np.array_equal(decode_png(encode_png(rgba, color_type=6)), IMG)


def test_unsupported_variants_raise():
    with pytest.raises(UnsupportedImage):
        decode_bmp(b"BM" + b"\x00" * 60)  # bpp 0
    with pytest.raises(UnsupportedImage):
        decode_png(b"\x89PNG\r\n\x1a\n")  # no IHDR/IDAT
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff\xe0jpegjpeg", "image/jpeg")


def test_decode_stub_real_path_through_spark(spark):
    """End-to-end: binary column -> JVM mime sniff -> mapInPandas REAL
    decode -> real dimensions and pixel statistics."""
    bmp, png = encode_bmp(IMG), encode_png(IMG, color_type=2)
    df = spark.createDataFrame([(1, bytearray(bmp)), (2, bytearray(png))], "doc_id long, content binary")
    meta = with_binary_metadata(df)
    mimes = {r.doc_id: r.mime for r in meta.select("doc_id", "mime").collect()}
    assert mimes == {1: "image/bmp", 2: "image/png"}
    rows = {
        r.doc_id: r
        for r in decode_stub(
            meta.select("doc_id", "content", "mime"), real_decode=True
        ).collect()
    }
    want = image_stats_features(IMG)
    for doc_id in (1, 2):
        r = rows[doc_id]
        assert (r.width, r.height, r.n_frames) == (7, 11, 1)
        assert list(r.features) == pytest.approx(want, abs=1e-9)
    # the two containers hold the SAME pixels -> identical features
    assert list(rows[1].features) == list(rows[2].features)


def test_decode_stub_fake_path_unchanged(spark):
    """Stub parity: real_decode=False keeps the deterministic hash-derived
    fake (schema twin of the real path)."""
    df = spark.createDataFrame([(1, bytearray(b"not an image"))], "doc_id long, content binary")
    out = decode_stub(with_binary_metadata(df).select("doc_id", "content", "mime")).collect()
    assert len(out) == 1 and out[0].n_frames in (1, 2, 3, 4)
    assert len(out[0].features) == 8
