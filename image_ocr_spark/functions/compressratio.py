"""Compression-ratio quality signal (deflate bytes / raw bytes).

Machine-generated and template-spun web text compresses far better than
natural prose, and high-entropy garbage (minified JS, base64 blobs)
compresses worse — so the zlib ratio is a classic two-sided curation
gate (cf. the compression filters in RefinedWeb / MassiveText-style
cleanups, used beside the Gopher repetition rules this repo already has
in text_repetition).

Exactness: zlib with a FIXED level is deterministic, and the Python
worker and the pycore twin call the same CPython zlib, so Spark output
is byte-identical to the reference by construction — the ratio is
reported in integer MILLI (house rule).  No DuckDB leg: deflate isn't
SQL (documented pytest-only check, like the bloom battery).

Scale shape: one Arrow pass in the scan stage, zero shuffle; compressed
bytes are discarded inside the worker (only the two lengths leave), so
the Arrow boundary carries a few ints per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.rowmap import map_rows

LEVEL = 6  # zlib default; pinned so the ratio is reproducible

RATIO_DDL = "doc_id long, raw_bytes long, deflate_bytes long, ratio_milli long"


def compress_stats(text: str) -> tuple:
    """(raw_bytes, deflate_bytes, ratio_milli) of a text's UTF-8 bytes;
    empty text is (0, 0, 0) — callers gate on raw_bytes first."""
    import zlib

    raw = (text or "").encode("utf-8")
    if not raw:
        return 0, 0, 0
    comp = len(zlib.compress(raw, LEVEL))
    return len(raw), comp, (comp * 1000) // len(raw)


def compression_ratio(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, raw_bytes, deflate_bytes, ratio_milli) per document."""
    rows = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("text")
    )
    return map_rows(rows, lambda i, t: [(i, *compress_stats(t))], RATIO_DDL)
