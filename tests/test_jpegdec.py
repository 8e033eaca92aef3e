"""From-scratch baseline JPEG codec (pycore/jpegdec.py — VERDICT r04 item
7): constant-block bit-exactness (the contract the driver oracle relies
on), lossy-roundtrip tolerance for the AC/ZRL/Huffman paths, loud
failures on corrupt/unsupported input, and the Spark pixel-feature
operator decoding PNG and JPEG rows side by side."""

import random
import struct

import pytest

from image_ocr_spark.operators.multimodal import (
    _synth_jpeg_pixels,
    media_pixel_stats,
)
from image_ocr_spark.pycore.jpegdec import jpeg_decode, jpeg_encode


@pytest.mark.parametrize("mid", [1000000, 1000001, 1000002, 1000003, 1000005])
def test_constant_block_roundtrip_exact(mid):
    """Constant 8x8 blocks survive DCT -> quantize -> Huffman -> decode
    BIT-EXACTLY (lone DC coefficient, power-of-two scalings, all-ones
    quant tables) — in grayscale and in gray-valued RGB, whose neutral
    chroma the YCbCr transform preserves exactly.  This is the property
    the media_pixel_features DuckDB oracle replays in closed form."""
    w, h, ch, px = _synth_jpeg_pixels(mid)
    assert jpeg_decode(jpeg_encode(w, h, ch, px)) == (w, h, ch, px)


def test_lossy_roundtrip_tolerance():
    """Arbitrary pixels exercise the AC run-length / magnitude paths; with
    all-ones quant tables the reconstruction error is bounded by the
    coefficient rounding (observed ±1 gray / ±4 RGB; asserted with one
    unit of margin — the hypothesis examples are fresh every run)."""
    rnd = random.Random(7)
    w, h = 24, 16
    px = bytes(rnd.randrange(256) for _ in range(w * h))
    got = jpeg_decode(jpeg_encode(w, h, 1, px))
    assert (got[0], got[1], got[2]) == (w, h, 1)
    assert max(abs(a - b) for a, b in zip(px, got[3])) <= 3
    px3 = bytes(rnd.randrange(256) for _ in range(w * h * 3))
    got3 = jpeg_decode(jpeg_encode(w, h, 3, px3))
    assert max(abs(a - b) for a, b in zip(px3, got3[3])) <= 5


def test_non_multiple_of_8_dims_crop():
    """Edge-replicated padding blocks are cropped back to (w, h)."""
    w, h = 13, 9
    px = bytes(i % 256 for i in range(w * h))
    dw, dh, dch, dpx = jpeg_decode(jpeg_encode(w, h, 1, px))
    assert (dw, dh, dch, len(dpx)) == (w, h, 1, w * h)
    assert max(abs(a - b) for a, b in zip(px, dpx)) <= 2


def test_bad_magic_raises():
    with pytest.raises(ValueError, match="SOI"):
        jpeg_decode(b"\x89PNG not a jpeg")


def test_truncated_scan_raises():
    raw = jpeg_encode(*_synth_jpeg_pixels(1000001))
    with pytest.raises(ValueError, match="truncated|marker"):
        jpeg_decode(raw[: len(raw) - 6])


def test_progressive_sof_raises():
    raw = bytearray(jpeg_encode(*_synth_jpeg_pixels(1000000)))
    sof = raw.find(b"\xff\xc0")
    raw[sof + 1] = 0xC2  # pretend progressive
    with pytest.raises(ValueError, match="baseline"):
        jpeg_decode(bytes(raw))


def test_subsampled_components_raise():
    raw = bytearray(jpeg_encode(*_synth_jpeg_pixels(1000001)))
    sof = raw.find(b"\xff\xc0")
    # first component's H/V sampling byte: marker(2) + len(2) + BHHB(6) + id(1)
    raw[sof + 11] = 0x22
    with pytest.raises(ValueError, match="subsampled"):
        jpeg_decode(bytes(raw))


def test_zero_dimension_raises():
    raw = bytearray(jpeg_encode(*_synth_jpeg_pixels(1000000)))
    sof = raw.find(b"\xff\xc0")
    struct.pack_into(">H", raw, sof + 7, 0)  # width := 0
    with pytest.raises(ValueError, match="zero-dimension"):
        jpeg_decode(bytes(raw))


def test_truncated_segment_headers_raise_valueerror():
    """Review r5: SOS/SOF0 bodies shorter than their component specs must
    raise ValueError, not IndexError/struct.error (these exact repros
    previously escaped the fuzz sweep's random flips)."""
    raw = bytearray(jpeg_encode(*_synth_jpeg_pixels(1000001)))
    for seg, newlen in ((b"\xff\xda", 2), (b"\xff\xda", 4), (b"\xff\xc0", 4)):
        r = bytearray(raw)
        i = r.find(seg)
        struct.pack_into(">H", r, i + 2, newlen)
        with pytest.raises(ValueError, match="truncated"):
            jpeg_decode(bytes(r))


def test_corrupt_huffman_stream_raises_valueerror_only():
    """Garbage in the entropy segment must surface as ValueError (the
    operator's skip contract), never an IndexError/KeyError."""
    raw = bytearray(jpeg_encode(*_synth_jpeg_pixels(1000001)))
    sos = raw.find(b"\xff\xda")
    for i in range(sos + 14, min(sos + 22, len(raw) - 2)):
        raw[i] ^= 0x55
    try:
        jpeg_decode(bytes(raw))  # may still decode to wrong pixels…
    except ValueError:
        pass  # …or raise ValueError; anything else fails the test


def test_media_pixel_stats_sniffs_both_containers():
    from image_ocr_spark.operators.multimodal import _synth_pixels
    from image_ocr_spark.pycore.pngdec import png_encode

    w, h, ch, px = _synth_pixels(4)
    assert media_pixel_stats(png_encode(w, h, ch, px))[:3] == (w, h, ch)
    w, h, ch, px = _synth_jpeg_pixels(1000002)
    assert media_pixel_stats(jpeg_encode(w, h, ch, px))[:3] == (w, h, ch)
    with pytest.raises(ValueError, match="container"):
        media_pixel_stats(b"GIF89a nope")


def test_operator_decodes_png_and_jpeg_rows(spark):
    from image_ocr_spark.operators.multimodal import (
        _synth_pixels,
        extract_pixel_features,
    )
    from image_ocr_spark.pycore.pngdec import png_encode

    # the fixture's ids: PNG doc_id, JPEG doc_id + 10**12
    png = [(m, png_encode(*_synth_pixels(m))) for m in range(6)]
    jpeg = [(m, jpeg_encode(*_synth_jpeg_pixels(m))) for m in range(10**12, 10**12 + 6)]
    media = spark.createDataFrame(
        png + jpeg + [(999, b"neither png nor jpeg")],
        "media_id long, content binary",
    )
    rows = extract_pixel_features(media).collect()
    assert {r.media_id for r in rows} == set(range(6)) | {
        10**12 + i for i in range(6)
    }
    for r in rows:
        assert len(r.mean_micro) == r.channels


def test_fuzz_corruption_valueerror_contract():
    """Seeded fuzz (flips/truncations/splices) over real encoded streams:
    the decoder either decodes or raises ValueError — never IndexError /
    KeyError / struct.error (3000-trial sweep run out-of-band r05; 300
    here for CI speed)."""
    rnd = random.Random(42)
    base = [
        jpeg_encode(*_synth_jpeg_pixels(m))
        for m in (1000000, 1000001, 1000004)
    ]
    for trial in range(300):
        raw = bytearray(rnd.choice(base))
        mode = trial % 4
        if mode == 0:
            raw[rnd.randrange(len(raw))] ^= rnd.randrange(1, 256)
        elif mode == 1:
            raw = raw[: rnd.randrange(2, len(raw))]
        elif mode == 2:
            i = rnd.randrange(len(raw))
            raw[i:i] = bytes(
                rnd.randrange(256) for _ in range(rnd.randrange(1, 16))
            )
        else:
            for _ in range(8):
                raw[rnd.randrange(len(raw))] ^= rnd.randrange(1, 256)
        try:
            jpeg_decode(bytes(raw))
        except ValueError:
            pass


def test_property_roundtrips():
    """Property test over both codecs: any (w, h, ch, pixels) round-trips
    PNG exactly and JPEG within the unit-quant tolerance."""
    from hypothesis import given, settings, strategies as st

    from image_ocr_spark.pycore.pngdec import png_decode, png_encode

    dims = st.tuples(
        st.integers(1, 20), st.integers(1, 20), st.sampled_from([1, 3])
    )

    @settings(max_examples=40, deadline=None)
    @given(dims, st.randoms(use_true_random=False))
    def check(whc, rnd):
        w, h, ch, = whc
        px = bytes(rnd.randrange(256) for _ in range(w * h * ch))
        assert png_decode(png_encode(w, h, ch, px)) == (w, h, ch, px)
        dw, dh, dch, dpx = jpeg_decode(jpeg_encode(w, h, ch, px))
        assert (dw, dh, dch, len(dpx)) == (w, h, ch, len(px))
        tol = 3 if ch == 1 else 5
        assert max(abs(a - b) for a, b in zip(px, dpx)) <= tol

    check()


def test_fdct_numpy_matches_naive_on_fixture_cycle():
    """r07: the separable numpy FDCT must be byte-identical to the
    module's own no-numpy loop across the ENTIRE deterministic synth
    domain (the pixel formula cycles with lcm(w%3, h%2, value%256) = 768
    ids; 800 ids with both parities double-cover it)."""
    import image_ocr_spark.pycore.jpegdec as J
    from image_ocr_spark.operators.multimodal import _synth_jpeg_pixels

    ids = range(10**12, 10**12 + 800)
    orig = J._np
    assert orig is not None  # the fast path must be the one compared
    fast = [J.jpeg_encode(*_synth_jpeg_pixels(m)) for m in ids]
    try:
        J._np = None  # takes the fallback branch of every numpy switch
        slow = [J.jpeg_encode(*_synth_jpeg_pixels(m)) for m in ids]
    finally:
        J._np = orig
    assert fast == slow


# JPEG Annex K.1 luminance quantization table, raster order
STD_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]


def test_fdct_numpy_matches_fallback_on_random_blocks():
    """Beyond the fixture domain: seeded random level-shifted 8x8 blocks
    under the standard luma table quantize to the same coefficients on
    the numpy path and on the no-numpy fallback, except where the
    unrounded quotient lies within 1e-9 of a rounding boundary (k + 0.5),
    where the two float summation orders may round apart.  The quotient
    is taken from an exactly-summed (math.fsum) third evaluation."""
    import math

    import image_ocr_spark.pycore.jpegdec as J

    rng = random.Random(4)
    blocks = [[rng.randint(-128, 127) for _ in range(64)] for _ in range(400)]
    orig = J._np
    assert orig is not None  # the fast path must be the one compared
    fast = [J._fdct_quant(b, STD_LUMA) for b in blocks]
    try:
        J._np = None
        slow = [J._fdct_quant(b, STD_LUMA) for b in blocks]
    finally:
        J._np = orig
    compared = skipped = 0
    for b, f, s in zip(blocks, fast, slow):
        for k, z in enumerate(J.ZIGZAG):
            r, c = divmod(z, 8)
            acc = math.fsum(
                b[y * 8 + x] * J._COS[y][r] * J._COS[x][c]
                for y in range(8)
                for x in range(8)
            )
            q = abs(0.25 * J._C[r] * J._C[c] * acc / STD_LUMA[z])
            if abs(q - math.floor(q) - 0.5) < 1e-9:
                skipped += 1
                continue
            compared += 1
            assert f[k] == s[k], (b, k, f[k], s[k])
    assert compared > 0 and skipped < 0.01 * (compared + skipped), skipped
