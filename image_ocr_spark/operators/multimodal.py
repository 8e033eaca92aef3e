"""Multimodal columns: opaque binary payloads + typed metadata + feature
extraction, one per-row Arrow pass each (operators/rowmap.py).

Two feature paths:
- extract_pixel_features: REAL decode of every raster format on the
  reference's allowlist (main.py:169 — jpg/jpeg/png/bmp/tiff/tif/webp),
  sniffed by magic bytes in media_pixel_stats: the from-scratch codecs
  pycore/pngdec.py, pycore/jpegdec.py (baseline), pycore/bmpdec.py,
  pycore/tiffdec.py (baseline) and pycore/webpdec.py (lossless VP8L),
  plus lossy VP8 through the gated system-libwebp binding
  (pycore/vp8sys.py).  Per-channel means and histogram entropy over the
  decoded pixels — the graft of the reference's pixel-level
  preprocessing, preprocessor.py:81-131.  Unsupported containers are
  skipped, never raised;
- extract_media_features: byte-level histogram features for payloads
  with no decoder here (audio/video).

Fixture: fixture_pixel_features encodes closed-form pixels into all five
from-scratch formats and decodes each image back in the same per-row
pass over the doc ids, through the same per-row decode as
extract_pixel_features; the encoded bytes never leave the Python
worker.  The DuckDB oracle replays the same pixel formulas, so equal
stats prove the codec pair.  No builder here repartitions: spreading a
narrow scan is the caller's decision, made once where the scan is read.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from image_ocr_spark.operators.rowmap import map_rows
from image_ocr_spark.pycore.bmpdec import bmp_encode
from image_ocr_spark.pycore.jpegdec import jpeg_encode
from image_ocr_spark.pycore.pngdec import png_encode
from image_ocr_spark.pycore.tiffdec import tiff_encode
from image_ocr_spark.pycore.webpdec import webp_encode

FEATURE_DIM = 8

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("feature_micro", T.ArrayType(T.LongType(), False), False),
    ]
)


def byte_histogram_features(raw: bytes) -> List[int]:
    """DETERMINISTIC FAKE feature: byte histogram over FEATURE_DIM equal-width
    byte-value bins, normalized to integer micro-units (floor(1e6*c/total))
    so the value is bit-identical across Python, Spark, and the DuckDB
    oracle — no float rounding-mode hazards.  Stands in for a
    decoder+embedder; the Spark plumbing around it (Arrow batches, schema,
    partitioning) is real.
    """
    counts = [0] * FEATURE_DIM
    for byte in raw:
        counts[byte * FEATURE_DIM // 256] += 1
    total = max(1, len(raw))
    return [(1_000_000 * c) // total for c in counts]


def extract_media_features(media: DataFrame) -> DataFrame:
    """media(media_id, media_type, content) -> per-item feature rows via one
    Arrow boundary."""

    def featurize(mid, kind, raw):
        raw = raw or b""
        return [(mid, kind, len(raw), byte_histogram_features(raw))]

    return map_rows(
        media.select("media_id", "media_type", "content"), featurize, FEATURE_SCHEMA
    )


SYNTH_MEDIA_BYTES = 256


def synth_media(docs: DataFrame) -> DataFrame:
    """Deterministic fake media table from doc ids (no external data):
    content bytes (SYNTH_MEDIA_BYTES per item) are a pure function of
    media_id."""
    n = SYNTH_MEDIA_BYTES
    pattern = F.sha2(F.concat(F.lit("media"), F.col("doc_id").cast("string")), 256)
    blob = F.repeat(pattern, n // 64 + 1).substr(1, n)
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
        F.encode(blob, "utf-8").alias("content"),
        F.lit(640).alias("meta_width"),
        F.lit(480).alias("meta_height"),
    )


# ---------------------------------------------------------------------------
# real pixel features (every allowlisted raster format, sniffed by magic)
# ---------------------------------------------------------------------------

PIXEL_FEATURE_SCHEMA = (
    "media_id long, width int, height int, channels int, "
    "mean_micro array<long>, entropy_milli long"
)


def media_pixel_stats(raw: bytes):
    """(w, h, ch, mean_micro, entropy_milli) from REAL decoded pixels,
    sniffing the container by magic bytes: PNG (pycore/pngdec.py),
    baseline JPEG (pycore/jpegdec.py — r05), BMP (pycore/bmpdec.py —
    r05), baseline TIFF (pycore/tiffdec.py — r05), lossless WebP (VP8L,
    pycore/webpdec.py — r05), or lossy WebP via the gated system-libwebp
    binding (pycore/vp8sys.py — r06; raises when the library is absent).

    - mean_micro[c] = floor(1e6 * sum(channel c) / (w*h)) — integer, so
      bit-identical across engines;
    - entropy_milli = floor(-1000 * sum_v p_v*log2(p_v)) over the byte
      histogram of all pixel bytes, accumulated in value-ascending
      left-fold order from 0.0 — the exact fold the DuckDB oracle's
      ORDER BY val + list_reduce replays.
    Raises ValueError for other / unsupported input (caller skips)."""
    import math

    from image_ocr_spark.pycore.bmpdec import BMP_MAGIC, bmp_decode
    from image_ocr_spark.pycore.jpegdec import JPEG_MAGIC, jpeg_decode
    from image_ocr_spark.pycore.pngdec import PNG_MAGIC, png_decode
    from image_ocr_spark.pycore.tiffdec import (
        TIFF_MAGIC_BE,
        TIFF_MAGIC_LE,
        tiff_decode,
    )
    from image_ocr_spark.pycore.webpdec import RIFF_MAGIC, WEBP_MAGIC, webp_decode

    if raw[:8] == PNG_MAGIC:
        w, h, ch, px = png_decode(raw)
    elif raw[:2] == JPEG_MAGIC:
        w, h, ch, px = jpeg_decode(raw)
    elif raw[:2] == BMP_MAGIC:
        w, h, ch, px = bmp_decode(raw)
    elif raw[:4] in (TIFF_MAGIC_LE, TIFF_MAGIC_BE):
        w, h, ch, px = tiff_decode(raw)
    elif raw[:4] == RIFF_MAGIC and raw[8:12] == WEBP_MAGIC:
        try:
            w, h, ch, px = webp_decode(raw)  # VP8L, pure from-scratch
        except ValueError as exc:
            # ONLY the container-level boundaries route to the system
            # libwebp binding (pycore/vp8sys.py — the reference's own
            # system-decoder posture): 'VP8 ' chunks (lossy, never has
            # alpha -> RGB) and VP8X extended containers (may carry
            # alpha -> RGBA).  VP8L-internal errors (transforms, meta
            # prefix, corruption) stay raised: that format is the
            # from-scratch domain, and routing it would make output
            # channel counts depend on which machine decodes.
            from image_ocr_spark.pycore.vp8sys import (
                decode_rgb,
                decode_rgba,
                vp8_available,
            )

            from image_ocr_spark.pycore.webpdec import (
                ExtendedWebPError,
                LossyWebPError,
            )

            # typed routing (r07, ADVICE): the exception CLASS is the
            # contract, not its message text
            if isinstance(exc, LossyWebPError) and vp8_available():
                w, h, ch, px = decode_rgb(raw)
            elif isinstance(exc, ExtendedWebPError) and vp8_available():
                w, h, ch, px = decode_rgba(raw)
            else:
                raise
    else:
        raise ValueError(
            "unsupported media container (not PNG/JPEG/BMP/TIFF/WebP)"
        )
    import numpy as np

    n = w * h
    arr = np.frombuffer(px, dtype=np.uint8)
    # exact integer per-channel sums + byte histogram, vectorized (this
    # runs per row inside mapInArrow — the corpus-scale hot path); the
    # entropy fold below stays a 256-step value-ascending float loop
    # because the DuckDB oracle replays that exact accumulation order
    sums = arr.reshape(n, ch).sum(axis=0, dtype=np.int64)
    counts = np.bincount(arr, minlength=256)
    mean_micro = [(1_000_000 * int(s)) // n for s in sums]
    total = float(len(px))
    acc = 0.0
    for v in range(256):
        c = int(counts[v])
        if c:
            p = c / total
            acc = acc + p * math.log2(p)
    return w, h, ch, mean_micro, int(math.floor(-1000.0 * acc))


def _pixel_row(mid, raw):
    """The per-row decode: one feature row for a container
    media_pixel_stats decodes, none for one it rejects (never-raise
    pipeline policy)."""
    try:
        return [(mid, *media_pixel_stats(raw or b""))]
    except ValueError:
        return []  # unsupported or corrupt container: skipped, not fatal


def extract_pixel_features(media: DataFrame) -> DataFrame:
    """(media_id, width, height, channels, mean_micro, entropy_milli) from
    DECODED pixels via one Arrow boundary — the real-decode upgrade of
    extract_media_features (which reads raw bytes).  PNG, baseline JPEG,
    BMP, baseline TIFF and lossless-WebP (VP8L) rows — the reference's
    whole raster allowlist, main.py:169 — decode for real via the
    from-scratch codecs, lossy WebP via the gated libwebp binding;
    containers media_pixel_stats rejects are skipped (never-raise
    pipeline policy)."""
    return map_rows(
        media.select("media_id", "content"), _pixel_row, PIXEL_FEATURE_SCHEMA
    )


# ---------------------------------------------------------------------------
# raster fixtures: every allowlisted format, real encoded bytes, one pass
# ---------------------------------------------------------------------------


def _ramp(media_id: int, n: int) -> bytes:
    """The byte ramp the four lossless fixtures share: pixel byte i of
    image media_id is (media_id*31 + i*7) % 256."""
    return bytes((media_id * 31 + i * 7) % 256 for i in range(n))


def _synth_pixels(media_id: int):
    """PNG pixel formula shared with the DuckDB oracle: the oracle
    computes stats straight from this closed form while Spark decodes
    them back out of a real filtered+compressed PNG."""
    w = 8 + media_id % 9
    h = 8 + media_id % 7
    ch = (1, 3, 4)[media_id % 3]
    return w, h, ch, _ramp(media_id, w * h * ch)


def _synth_jpeg_pixels(media_id: int):
    """Deterministic CONSTANT-8x8-BLOCK pixel formula shared with the
    DuckDB oracle: constant blocks are the bit-exact subset of lossy JPEG
    (see pycore/jpegdec.py docstring), so the oracle computes stats from
    this closed form while Spark decodes real entropy-coded bytes.
    Dimensions are multiples of 8 (no padding ambiguity); RGB images are
    gray-valued (R=G=B), which the neutral-chroma YCbCr transform
    preserves exactly."""
    w = 8 * (1 + media_id % 3)
    h = 8 * (1 + media_id % 2)
    ch = 1 if media_id % 2 == 0 else 3
    gray = [
        (media_id * 37 + (x // 8) * 11 + (y // 8) * 5) % 256
        for y in range(h)
        for x in range(w)
    ]
    if ch == 1:
        return w, h, 1, bytes(gray)
    return w, h, 3, bytes(v for g in gray for v in (g, g, g))


def _synth_bmp_pixels(media_id: int):
    """BMP pixel formula (the lossless ramp, exact on replay) with its own
    width/height cycle; widths 5..10 force non-trivial 4-byte row
    padding."""
    w = 5 + media_id % 6
    h = 4 + media_id % 5
    ch = (1, 3, 4)[media_id % 3]
    return w, h, ch, _ramp(media_id, w * h * ch)


def _synth_tiff_pixels(media_id: int):
    """Baseline-TIFF pixel formula (the lossless ramp) with its own
    width/height cycle."""
    w = 6 + media_id % 7
    h = 3 + media_id % 6
    ch = (1, 3, 4)[media_id % 3]
    return w, h, ch, _ramp(media_id, w * h * ch)


def _synth_webp_pixels(media_id: int):
    """Lossless-WebP pixel formula (the ramp; literal VP8L coding is
    lossless) with its own width/height cycle; RGB/RGBA alternate by
    parity (VP8L has no grayscale mode)."""
    w = 4 + media_id % 8
    h = 2 + media_id % 5
    ch = 3 + media_id % 2
    return w, h, ch, _ramp(media_id, w * h * ch)


# (pixel formula, encoder) per raster format, in media-id order: format k
# of doc d is media_id d + k*10**12, the ids the DuckDB oracle replays
# (disjoint from any realistic doc_id space).  Encoders take
# (media_id, w, h, ch, px); per-format options are keyed off media_id.
_RASTER_FORMATS = (
    # baseline PNG, per-row filter cycling through all five filter types
    (_synth_pixels, lambda mid, w, h, ch, px: png_encode(w, h, ch, px)),
    # baseline JPEG: Huffman entropy coding, DC prediction, all-ones quant
    (_synth_jpeg_pixels, lambda mid, w, h, ch, px: jpeg_encode(w, h, ch, px)),
    # BMP: palette/BGR/BGRA, 4-byte row padding; bottom-up/top-down by parity
    (
        _synth_bmp_pixels,
        lambda mid, w, h, ch, px: bmp_encode(w, h, ch, px, top_down=bool(mid % 2)),
    ),
    # baseline TIFF: single IFD, 2-row strips; little/big endian by parity,
    # none/PackBits by (mid // 2) parity
    (
        _synth_tiff_pixels,
        lambda mid, w, h, ch, px: tiff_encode(
            w,
            h,
            ch,
            px,
            big_endian=bool(mid % 2),
            packbits=bool((mid // 2) % 2),
            rows_per_strip=2,
        ),
    ),
    # lossless WebP: RIFF + VP8L, simple and normal prefix-code forms
    (_synth_webp_pixels, lambda mid, w, h, ch, px: webp_encode(w, h, ch, px)),
)


def _raster_media(doc_id: int):
    """(media_id, content) for the five fixture images of one doc, one per
    format of _RASTER_FORMATS (PNG, JPEG, BMP, TIFF, WebP): content is a
    REAL encoded image, media_id = doc_id + k*10**12."""
    for k, (pixels, encode) in enumerate(_RASTER_FORMATS):
        mid = doc_id + k * 10**12
        w, h, ch, px = pixels(mid)
        yield mid, encode(mid, w, h, ch, px)


def _fixture_pixel_rows(doc_id: int):
    """One doc's fixture images, encoded and decoded: its feature rows."""
    return [row for mid, raw in _raster_media(doc_id) for row in _pixel_row(mid, raw)]


def fixture_pixel_features(docs: DataFrame) -> DataFrame:
    """extract_pixel_features' rows for the raster fixture of every doc:
    each doc's five images are encoded (_raster_media) and decoded
    (_pixel_row) in ONE per-row Arrow pass over doc_id, so a task runs
    one Python worker and the encoded bytes never cross into the JVM.  It
    runs on docs' partitioning as given (the caller spreads a narrow
    scan)."""
    return map_rows(docs.select("doc_id"), _fixture_pixel_rows, PIXEL_FEATURE_SCHEMA)
