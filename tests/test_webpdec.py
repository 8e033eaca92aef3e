"""From-scratch lossless-WebP/VP8L codec (pycore/webpdec.py — r05 late,
closing the reference's raster allowlist, main.py:169): roundtrip
identity through real entropy-coded bits (simple AND normal prefix
codes), hand-crafted streams exercising the decoder-only paths the
literal encoder never emits (LZ77 neighbor-map and plain distances,
color-cache hits), loud ValueError on the documented boundaries (lossy
VP8, VP8X, the four VP8L transforms, meta prefix images), seeded
corruption fuzz, and the Spark pixel-feature operator decoding WebP
rows alongside the other four containers."""

import random
import struct

import pytest

from image_ocr_spark.operators.multimodal import (
    _synth_webp_pixels,
    media_pixel_stats,
)
from image_ocr_spark.pycore.webpdec import (
    _DIST_MAP,
    _BitWriter,
    _canonical_codes,
    _write_prefix_code,
    RIFF_MAGIC,
    VP8L_SIGNATURE,
    VP8L_TAG,
    WEBP_MAGIC,
    webp_decode,
    webp_encode,
)


def _container(payload: bytes) -> bytes:
    padded = payload + (b"\x00" if len(payload) % 2 else b"")
    chunk = VP8L_TAG + struct.pack("<I", len(payload)) + padded
    return RIFF_MAGIC + struct.pack("<I", 4 + len(chunk)) + WEBP_MAGIC + chunk


@pytest.mark.parametrize("mid", [0, 1, 2, 3, 5, 9, 17, 38])
def test_roundtrip_identity(mid):
    """The fixture cycle: RGB/RGBA alternate, dims vary, per-byte pixels
    force normal (code-length-coded) prefix codes."""
    w, h, ch, px = _synth_webp_pixels(mid)
    assert webp_decode(webp_encode(w, h, ch, px)) == (w, h, ch, px)


def test_roundtrip_simple_codes():
    """<=2 distinct values per channel hit the 1/2-symbol simple form."""
    rnd = random.Random(11)
    for ch in (3, 4):
        px = bytes(rnd.choice([7, 200]) for _ in range(6 * 4 * ch))
        assert webp_decode(webp_encode(6, 4, ch, px)) == (6, 4, ch, px)
        const = bytes([123]) * (6 * 4 * ch)
        assert webp_decode(webp_encode(6, 4, ch, const)) == (6, 4, ch, const)


def test_prefix_code_completeness():
    """Multi-symbol prefix codes require Kraft EQUALITY: over-subscribed
    ({1,1,1}) and under-subscribed/incomplete ({2,2,2} — kraft 3/4) sets
    both raise; a complete set ({1,2,2}) builds."""
    from image_ocr_spark.pycore.webpdec import _PrefixDecoder

    _PrefixDecoder([1, 2, 2])  # complete: must not raise
    _PrefixDecoder([0, 0, 5])  # single-symbol form: any length ok
    with pytest.raises(ValueError):
        _PrefixDecoder([1, 1, 1])  # over-subscribed
    with pytest.raises(ValueError):
        _PrefixDecoder([2, 2, 2])  # incomplete (previously accepted)
    with pytest.raises(ValueError):
        _PrefixDecoder([1, 2])  # incomplete two-symbol normal code


def test_distance_map_spec_invariants():
    """120 unique neighbor offsets, sorted by squared distance, within
    the spec's 8x7 window."""
    assert len(_DIST_MAP) == 120 == len(set(_DIST_MAP))
    d2 = [x * x + y * y for x, y in _DIST_MAP]
    assert all(a <= b for a, b in zip(d2, d2[1:]))
    assert all(0 <= y <= 7 and -8 <= x <= 8 and (x, y) != (0, 0) for x, y in _DIST_MAP)


def _literal_header(bw, w, h):
    bw.write(VP8L_SIGNATURE, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # no alpha hint
    bw.write(0, 3)  # version


def test_decode_lz77_neighbor_distance():
    """Decoder-only path: a backref with dist prefix value 2 -> neighbor
    map entry (1, 0) -> distance 1 repeats the previous pixel."""
    bw = _BitWriter()
    _literal_header(bw, 4, 2)
    bw.write(0, 1)  # no transform
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    glen = [0] * 280
    glen[10] = 1
    glen[261], glen[262] = 2, 2  # length-code 5 (-> length 7) + filler
    _write_prefix_code(bw, glen)
    for v in (42, 77, 255):
        lens = [0] * 256
        lens[v] = 1
        _write_prefix_code(bw, lens)
    dlen = [0] * 40
    dlen[1] = 1  # single-symbol: prefix value 1 -> lz77 value 2
    _write_prefix_code(bw, dlen)
    gc = _canonical_codes(glen)
    bw.write_code(*gc[10])  # one literal pixel (r/b/a are 0-bit singles)
    bw.write_code(*gc[261])  # backref: length code 5
    bw.write(0, 1)  # extra bit -> length 7
    w, h, ch, px = webp_decode(_container(bw.flush()))
    assert (w, h, ch) == (4, 2, 3)
    assert px == bytes((42, 10, 77)) * 8


def test_decode_color_cache_hit():
    px_val = (255 << 24) | (42 << 16) | (10 << 8) | 77
    idx = ((0x1E35A7BD * px_val) & 0xFFFFFFFF) >> 30
    bw = _BitWriter()
    _literal_header(bw, 2, 1)
    bw.write(0, 1)  # no transform
    bw.write(1, 1)  # color cache present
    bw.write(2, 4)  # 2 bits -> 4 entries
    bw.write(0, 1)  # no meta
    glen = [0] * 284
    glen[10] = 1
    glen[280 + idx], glen[280 + (idx + 1) % 4] = 2, 2
    _write_prefix_code(bw, glen)
    for v in (42, 77, 255):
        lens = [0] * 256
        lens[v] = 1
        _write_prefix_code(bw, lens)
    dlen = [0] * 40
    dlen[0] = 1
    _write_prefix_code(bw, dlen)
    gc = _canonical_codes(glen)
    bw.write_code(*gc[10])  # literal -> inserted into the cache
    bw.write_code(*gc[280 + idx])  # cache hit
    assert webp_decode(_container(bw.flush())) == (2, 1, 3, bytes((42, 10, 77)) * 2)


def test_lossy_vp8_raises():
    with pytest.raises(ValueError, match="lossy"):
        webp_decode(b"RIFF\x10\x00\x00\x00WEBPVP8 \x04\x00\x00\x00abcd")


def test_vp8x_raises():
    with pytest.raises(ValueError, match="extended"):
        webp_decode(b"RIFF\x10\x00\x00\x00WEBPVP8X\x04\x00\x00\x00abcd")


def test_transform_raises():
    bw = _BitWriter()
    _literal_header(bw, 1, 1)
    bw.write(1, 1)  # transform present
    bw.write(2, 2)
    with pytest.raises(ValueError, match="transform"):
        webp_decode(_container(bw.flush()))


def test_meta_prefix_raises():
    bw = _BitWriter()
    _literal_header(bw, 1, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(1, 1)  # meta prefix image present
    with pytest.raises(ValueError, match="meta"):
        webp_decode(_container(bw.flush()))


def test_bad_magic_raises():
    with pytest.raises(ValueError, match="magic"):
        webp_decode(b"RIFX____WEBP")
    with pytest.raises(ValueError, match="magic"):
        webp_decode(b"RIFF____WAVE" + b"\x00" * 8)


def test_truncated_stream_raises():
    raw = webp_encode(*_synth_webp_pixels(3)[:3], _synth_webp_pixels(3)[3])
    with pytest.raises(ValueError):
        webp_decode(raw[: len(raw) - 6])


def test_fuzz_corruption_valueerror_contract():
    rnd = random.Random(47)
    base = webp_encode(*_synth_webp_pixels(6)[:3], _synth_webp_pixels(6)[3])
    for _ in range(2000):
        raw = bytearray(base)
        for _ in range(rnd.randrange(1, 4)):
            raw[rnd.randrange(len(raw))] = rnd.randrange(256)
        try:
            w, h, ch, px = webp_decode(bytes(raw))
            assert len(px) == w * h * ch
        except ValueError:
            pass  # the contract: decode or ValueError, nothing else


def test_stats_parity_with_png():
    from image_ocr_spark.pycore.pngdec import png_encode

    w, h, ch, px = _synth_webp_pixels(9)
    assert media_pixel_stats(webp_encode(w, h, ch, px)) == media_pixel_stats(
        png_encode(w, h, ch, px)
    )


def test_operator_decodes_webp_rows(spark):
    from image_ocr_spark.operators.multimodal import extract_pixel_features

    # the fixture's WebP ids: doc_id + 4*10**12
    webp = spark.createDataFrame(
        [
            (m, webp_encode(*_synth_webp_pixels(m)))
            for m in range(4 * 10**12, 4 * 10**12 + 10)
        ],
        "media_id long, content binary",
    )
    rows = extract_pixel_features(webp).collect()
    assert len(rows) == 10
    by_id = {r.media_id: r for r in rows}
    for mid in range(4 * 10**12, 4 * 10**12 + 10):
        w, h, ch, px = _synth_webp_pixels(mid)
        r = by_id[mid]
        assert (r.width, r.height, r.channels) == (w, h, ch)
        n = w * h
        sums = [0] * ch
        for i, v in enumerate(px):
            sums[i % ch] += v
        assert r.mean_micro == [(1_000_000 * s) // n for s in sums]


_VP8SYS = pytest.importorskip(
    "image_ocr_spark.pycore.vp8sys", reason="vp8sys module"
)
_HAVE_LIBWEBP = _VP8SYS.vp8_available()


@pytest.mark.skipif(not _HAVE_LIBWEBP, reason="system libwebp absent")
def test_lossless_decoder_conformance_vs_libwebp():
    """EXTERNAL conformance: the reference C implementation (system
    libwebp) decodes our from-scratch encoder's VP8L streams to the
    SAME pixels as our from-scratch decoder — the codec pair agrees
    with the spec's reference, not just with itself."""
    for mid in (0, 1, 2, 3, 5, 9, 17, 38):
        w, h, ch, px = _synth_webp_pixels(mid)
        blob = webp_encode(w, h, ch, px)
        ours = webp_decode(blob)
        rw, rh, rc, rpx = _VP8SYS.decode_rgba(blob)
        assert (rw, rh) == (w, h) == (ours[0], ours[1])
        if ch == 4:
            assert rpx == px
        else:  # libwebp upgrades RGB to RGBA with opaque alpha
            assert all(rpx[4 * i + 3] == 255 for i in range(w * h))
            got_rgb = bytes(
                rpx[4 * i + c] for i in range(w * h) for c in range(3)
            )
            assert got_rgb == px


@pytest.mark.skipif(not _HAVE_LIBWEBP, reason="system libwebp absent")
def test_lossy_vp8_decodes_via_system_binding():
    """Lossy VP8 (r06): a REAL VP8 key-frame stream (libwebp encoder)
    decodes through media_pixel_stats via the gated system binding —
    dims exact, per-channel means within lossy tolerance; the pure
    from-scratch webp_decode keeps its documented boundary error."""
    w, h, ch, px = _synth_webp_pixels(7)
    if ch == 4:  # encode_lossy_rgb takes RGB
        px = bytes(px[4 * i + c] for i in range(w * h) for c in range(3))
    blob = _VP8SYS.encode_lossy_rgb(w, h, px, quality=95.0)
    assert blob[12:16] == b"VP8 "  # really a lossy stream
    with pytest.raises(ValueError, match="lossy"):
        webp_decode(blob)  # from-scratch boundary unchanged
    gw, gh, gch, mean_micro, entropy_milli = media_pixel_stats(blob)
    assert (gw, gh, gch) == (w, h, 3)
    src_mean = [
        sum(px[3 * i + c] for i in range(w * h)) * 1_000_000 // (w * h)
        for c in range(3)
    ]
    for got, want in zip(mean_micro, src_mean):
        assert abs(got - want) < 12_000_000, (got, want)  # ~12 byte levels
    assert entropy_milli >= 0


@pytest.mark.skipif(not _HAVE_LIBWEBP, reason="system libwebp absent")
def test_lossy_vp8_rows_through_spark_operator(spark):
    """The lossy path works where it matters: inside the mapInArrow
    feature operator, mixed with from-scratch-decoded rows."""
    from image_ocr_spark.operators.multimodal import extract_pixel_features

    w, h, ch, px = _synth_webp_pixels(4)
    if ch == 4:
        px = bytes(px[4 * i + c] for i in range(w * h) for c in range(3))
    lossy = _VP8SYS.encode_lossy_rgb(w, h, px, quality=95.0)
    lossless = webp_encode(w, h, 3, px)
    df = spark.createDataFrame(
        [(0, lossy), (1, lossless), (2, b"garbage")],
        "media_id long, content binary",
    )
    rows = {r.media_id: r for r in extract_pixel_features(df).collect()}
    assert set(rows) == {0, 1}  # garbage row skipped, lossy row decoded
    assert (rows[0].width, rows[0].height) == (w, h)
    for a, b in zip(rows[0].mean_micro, rows[1].mean_micro):
        assert abs(a - b) < 12_000_000


@pytest.mark.skipif(not _HAVE_LIBWEBP, reason="system libwebp absent")
def test_vp8x_alpha_decodes_rgba():
    """VP8X extended containers (lossy + ALPH chunk from libwebp's RGBA
    encoder) route to decode_rgba — alpha survives with ch=4."""
    from image_ocr_spark.operators.multimodal import media_pixel_stats

    w, h = 12, 9
    px = bytes(
        v for i in range(w * h)
        for v in ((i * 7) % 256, (i * 13) % 256, (i * 29) % 256,
                  255 if i % 2 else 128)
    )
    blob = _VP8SYS.encode_lossy_rgba(w, h, px, quality=95.0)
    assert blob[12:16] == b"VP8X"
    gw, gh, gch, mean_micro, _ = media_pixel_stats(blob)
    assert (gw, gh, gch) == (w, h, 4)
    # alpha is lossless in WebP: its mean must be exact
    want_alpha = sum(px[4 * i + 3] for i in range(w * h)) * 1_000_000 // (w * h)
    assert mean_micro[3] == want_alpha


def test_vp8l_internal_errors_stay_raised():
    """Review r06 finding: only CONTAINER-level boundaries (VP8 /VP8X
    chunks) route to the system codec.  A VP8L-internal error (transform
    bit set) must keep raising even with libwebp present — otherwise the
    from-scratch format's channel counts would depend on the machine."""
    from image_ocr_spark.operators.multimodal import media_pixel_stats

    bw = _BitWriter()
    _literal_header(bw, 1, 1)
    bw.write(1, 1)  # transform present -> from-scratch boundary
    bw.write(2, 2)
    blob = _container(bw.flush())
    with pytest.raises(ValueError, match="transform"):
        media_pixel_stats(blob)
