"""From-scratch BMP and baseline TIFF codecs (pycore/bmpdec.py,
pycore/tiffdec.py — r05 late): roundtrip identity across channel
layouts / row orders / byte orders / compressions, loud failures on
corrupt or unsupported input, seeded corruption fuzz (decode or
ValueError, never a crash or silent garbage), and the Spark
pixel-feature operator decoding PNG+JPEG+BMP+TIFF together (lossless
WebP joined the allowlist one commit later — tests/test_webpdec.py
covers the full five-format union; lossy VP8 is the one documented
boundary)."""

import random
import struct

import pytest

from image_ocr_spark.operators.multimodal import (
    _synth_bmp_pixels,
    _synth_tiff_pixels,
    media_pixel_stats,
)
from image_ocr_spark.pycore.bmpdec import bmp_decode, bmp_encode
from image_ocr_spark.pycore.tiffdec import (
    packbits_decode,
    packbits_encode,
    tiff_decode,
    tiff_encode,
)

# ---------------------------------------------------------------------------
# BMP
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("mid", [0, 1, 2, 3, 4, 5, 11, 29])
def test_bmp_roundtrip_identity(mid):
    """Both row orders (top-down alternates by parity, like the fixture),
    all three channel layouts, widths that force 1-3 pad bytes."""
    w, h, ch, px = _synth_bmp_pixels(mid)
    assert bmp_decode(bmp_encode(w, h, ch, px, top_down=bool(mid % 2))) == (
        w,
        h,
        ch,
        px,
    )


def test_bmp_bottom_up_vs_top_down_same_pixels():
    w, h, ch, px = 5, 4, 3, bytes(range(60))
    assert bmp_decode(bmp_encode(w, h, ch, px, top_down=False)) == bmp_decode(
        bmp_encode(w, h, ch, px, top_down=True)
    )


def test_bmp_bad_magic_raises():
    with pytest.raises(ValueError, match="magic"):
        bmp_decode(b"PA6 not a bmp")


def test_bmp_compressed_dib_raises():
    raw = bytearray(bmp_encode(4, 4, 3, bytes(48)))
    struct.pack_into("<I", raw, 14 + 16, 1)  # biCompression = BI_RLE8
    with pytest.raises(ValueError, match="compression"):
        bmp_decode(bytes(raw))


def test_bmp_truncated_pixels_raise():
    raw = bmp_encode(4, 4, 3, bytes(48))
    with pytest.raises(ValueError, match="truncated"):
        bmp_decode(raw[:-5])


def test_bmp_non_gray_palette_expands_to_rgb():
    raw = bytearray(bmp_encode(3, 2, 1, bytes(range(6))))
    raw[14 + 40 + 4 * 2] = 99  # palette entry 2: blue != green/red
    w, h, ch, px = bmp_decode(bytes(raw))
    assert (w, h, ch) == (3, 2, 3)
    assert px[6:9] == bytes((2, 2, 99))  # index 2 -> (r=2, g=2, b=99)


def test_bmp_fuzz_corruption_valueerror_contract():
    rnd = random.Random(41)
    base = bmp_encode(*_synth_bmp_pixels(7)[:3], _synth_bmp_pixels(7)[3])
    for _ in range(2000):
        raw = bytearray(base)
        for _ in range(rnd.randrange(1, 4)):
            raw[rnd.randrange(len(raw))] = rnd.randrange(256)
        try:
            w, h, ch, px = bmp_decode(bytes(raw))
            assert len(px) == w * h * ch
        except ValueError:
            pass  # the contract: decode or ValueError, nothing else


# ---------------------------------------------------------------------------
# TIFF
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("mid", [0, 1, 2, 3, 4, 5, 6, 7, 13, 29])
def test_tiff_roundtrip_identity(mid):
    """Endianness alternates by parity, PackBits by (mid//2) parity —
    exactly the fixture's cycle — with 2-row strips."""
    w, h, ch, px = _synth_tiff_pixels(mid)
    enc = tiff_encode(
        w,
        h,
        ch,
        px,
        big_endian=bool(mid % 2),
        packbits=bool((mid // 2) % 2),
        rows_per_strip=2,
    )
    assert tiff_decode(enc) == (w, h, ch, px)


def test_tiff_endian_equivalence():
    w, h, ch, px = 7, 5, 3, bytes((i * 13) % 256 for i in range(105))
    assert tiff_decode(tiff_encode(w, h, ch, px, big_endian=False)) == tiff_decode(
        tiff_encode(w, h, ch, px, big_endian=True)
    )


def test_tiff_single_strip_inline_offsets():
    """rows_per_strip >= height keeps offset/bytecount arrays inline."""
    w, h, ch, px = 4, 3, 1, bytes(range(12))
    assert tiff_decode(tiff_encode(w, h, ch, px, rows_per_strip=99)) == (w, h, ch, px)


def test_tiff_bad_magic_raises():
    with pytest.raises(ValueError, match="magic"):
        tiff_decode(b"II+\x00 bigtiff-ish")


def test_tiff_non_8bit_raises():
    raw = bytearray(tiff_encode(4, 2, 1, bytes(8)))
    # tag 258 (BitsPerSample) is entry index 2; value field at +8
    base = 8 + 2 + 12 * 2
    struct.pack_into("<H", raw, base + 8, 16)
    with pytest.raises(ValueError, match="bits per sample"):
        tiff_decode(bytes(raw))


def test_tiff_unknown_compression_raises():
    raw = bytearray(tiff_encode(4, 2, 1, bytes(8)))
    base = 8 + 2 + 12 * 3  # tag 259
    struct.pack_into("<H", raw, base + 8, 5)  # LZW
    with pytest.raises(ValueError, match="compression"):
        tiff_decode(bytes(raw))


def test_tiff_strip_out_of_bounds_raises():
    raw = tiff_encode(6, 4, 3, bytes(72))
    with pytest.raises(ValueError):
        tiff_decode(raw[:-10])


def test_packbits_roundtrip_and_length_check():
    rnd = random.Random(17)
    for _ in range(200):
        n = rnd.randrange(0, 300)
        d = bytes(rnd.randrange(3) for _ in range(n))
        assert packbits_decode(packbits_encode(d), n) == d
    with pytest.raises(ValueError, match="PackBits"):
        packbits_decode(packbits_encode(b"abcabc"), 99)


def test_tiff_fuzz_corruption_valueerror_contract():
    rnd = random.Random(43)
    base = tiff_encode(
        *_synth_tiff_pixels(9)[:3], _synth_tiff_pixels(9)[3], packbits=True
    )
    for _ in range(2000):
        raw = bytearray(base)
        for _ in range(rnd.randrange(1, 4)):
            raw[rnd.randrange(len(raw))] = rnd.randrange(256)
        try:
            w, h, ch, px = tiff_decode(bytes(raw))
            assert len(px) == w * h * ch
        except ValueError:
            pass


# ---------------------------------------------------------------------------
# sniffing + Spark operator over all four containers
# ---------------------------------------------------------------------------


def test_media_pixel_stats_sniffs_all_containers():
    from image_ocr_spark.operators.multimodal import _synth_pixels
    from image_ocr_spark.pycore.pngdec import png_encode
    from image_ocr_spark.pycore.webpdec import webp_encode

    w, h, ch, px = _synth_pixels(4)
    for blob in (
        png_encode(w, h, ch, px),
        bmp_encode(w, h, ch, px),
        tiff_encode(w, h, ch, px),
        tiff_encode(w, h, ch, px, big_endian=True),
    ):
        got = media_pixel_stats(blob)
        assert got[:3] == (w, h, ch)
    ref = media_pixel_stats(png_encode(w, h, ch, px))
    assert media_pixel_stats(bmp_encode(w, h, ch, px)) == ref
    assert media_pixel_stats(tiff_encode(w, h, ch, px, packbits=True)) == ref
    # VP8L has no gray mode: compare RGB stats through the WebP container
    w, h, ch, px = _synth_pixels(7)
    assert ch == 3
    assert media_pixel_stats(webp_encode(w, h, ch, px)) == media_pixel_stats(
        png_encode(w, h, ch, px)
    )
    with pytest.raises(ValueError, match="container"):
        media_pixel_stats(b"GIF89a not in the allowlist")


def test_operator_decodes_bmp_and_tiff_rows(spark):
    from image_ocr_spark.operators.multimodal import extract_pixel_features

    # the fixture's ids and per-id options: BMP doc_id + 2*10**12 (row
    # order by parity), TIFF doc_id + 3*10**12 (byte order by parity,
    # PackBits by (mid // 2) parity, 2-row strips)
    bmp = [2 * 10**12 + i for i in range(12)]
    tiff = [3 * 10**12 + i for i in range(12)]
    media = spark.createDataFrame(
        [(m, bmp_encode(*_synth_bmp_pixels(m), top_down=bool(m % 2))) for m in bmp]
        + [
            (
                m,
                tiff_encode(
                    *_synth_tiff_pixels(m),
                    big_endian=bool(m % 2),
                    packbits=bool((m // 2) % 2),
                    rows_per_strip=2,
                ),
            )
            for m in tiff
        ],
        "media_id long, content binary",
    )
    rows = extract_pixel_features(media).collect()
    assert len(rows) == 24  # every row decodes; nothing skipped
    by_id = {r.media_id: r for r in rows}
    for base, pixels in ((2 * 10**12, _synth_bmp_pixels), (3 * 10**12, _synth_tiff_pixels)):
        for mid in range(base, base + 12):
            w, h, ch, px = pixels(mid)
            r = by_id[mid]
            assert (r.width, r.height, r.channels) == (w, h, ch)
            n = w * h
            sums = [0] * ch
            for i, v in enumerate(px):
                sums[i % ch] += v
            assert r.mean_micro == [(1_000_000 * s) // n for s in sums]
