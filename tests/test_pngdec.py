"""From-scratch baseline PNG codec (pycore/pngdec.py — VERDICT r03 item 3):
roundtrip identity across all five scanline filters and all three supported
color types, loud failures on corrupt/unsupported input, and the Spark
pixel-feature operator skipping non-PNG rows instead of raising."""

import struct
import zlib

import pytest

from image_ocr_spark.operators.multimodal import (
    _synth_pixels,
    media_pixel_stats,
)
from image_ocr_spark.pycore.pngdec import PNG_MAGIC, png_decode, png_encode


@pytest.mark.parametrize("mid", [0, 1, 2, 5, 11, 25])
def test_roundtrip_identity(mid):
    """encode(filter=row%5) -> decode reproduces pixels byte-for-byte —
    multi-row images exercise every unfilter branch (None/Sub/Up/Average/
    Paeth) and gray/RGB/RGBA layouts."""
    w, h, ch, px = _synth_pixels(mid)
    assert h >= 5  # every filter type appears
    assert png_decode(png_encode(w, h, ch, px)) == (w, h, ch, px)


def test_crc_corruption_raises():
    raw = bytearray(png_encode(*_synth_pixels(3)[:3], _synth_pixels(3)[3]))
    raw[40] ^= 0xFF  # inside IDAT
    with pytest.raises(ValueError, match="CRC"):
        png_decode(bytes(raw))


def test_bad_magic_raises():
    with pytest.raises(ValueError, match="magic"):
        png_decode(b"GIF89a such image")


def test_unsupported_bit_depth_raises():
    ihdr = struct.pack(">IIBBBBB", 4, 4, 16, 0, 0, 0, 0)  # 16-bit
    crc = zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF
    raw = (
        PNG_MAGIC
        + struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + struct.pack(">I", crc)
    )
    with pytest.raises(ValueError, match="unsupported"):
        png_decode(raw)


def test_pixel_features_closed_form():
    """Feature arithmetic on a hand-computable 1x4 grayscale image."""
    px = bytes([0, 0, 128, 255])
    raw = png_encode(4, 1, 1, px)
    w, h, ch, mm, em = media_pixel_stats(raw)
    assert (w, h, ch) == (4, 1, 1)
    assert mm == [(1_000_000 * (0 + 0 + 128 + 255)) // 4]
    # histogram {0:2, 128:1, 255:1} -> entropy = 1.5 bits -> 1500 milli
    assert em == 1500


def test_operator_skips_non_png_rows(spark):
    from image_ocr_spark.operators.multimodal import extract_pixel_features

    media = spark.createDataFrame(
        [(mid, png_encode(*_synth_pixels(mid))) for mid in range(6)]
        + [(999, b"not a png at all")],
        "media_id long, content binary",
    )
    rows = extract_pixel_features(media).collect()
    assert {r.media_id for r in rows} == set(range(6))  # junk skipped
    for r in rows:
        assert len(r.mean_micro) == r.channels


def test_valid_crc_junk_idat_raises_valueerror_only():
    """Review r4: a PNG-magic payload with VALID chunk CRCs but a non-zlib
    IDAT body must raise ValueError (the operator's skip contract), never
    zlib.error."""
    from image_ocr_spark.pycore.pngdec import _chunk

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    raw = (
        PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", b"this is not deflate data")
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="undecompressable"):
        png_decode(raw)


def test_zero_dimension_png_raises_valueerror():
    """Review r4: width=0 must be rejected at decode (downstream feature
    math divides by w*h)."""
    from image_ocr_spark.pycore.pngdec import _chunk

    ihdr = struct.pack(">IIBBBBB", 0, 4, 8, 0, 0, 0, 0)
    raw = PNG_MAGIC + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", zlib.compress(b"")) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="zero-dimension"):
        png_decode(raw)
