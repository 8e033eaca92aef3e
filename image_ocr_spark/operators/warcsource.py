"""WARC ingest/egress as Spark source operators — the table's upstream.

The engine's input contract is the Iceberg/parquet pages table
`(url, warc_ts, html, …)` (SURVEY.md §2.1 S3); what precedes that table
in every real Common-Crawl-style pipeline is a pile of `.warc.gz`
segments.  These operators are that boundary, built on the from-scratch
spec parser in `pycore/warc.py`:

- ``read_warc``: chunk rows (one WARC file/segment per row) -> page
  records.  At 100 TB the chunk column comes straight from
  ``spark.read.format("binaryFile").load("…/segments/*.warc.gz")`` —
  one task per ~1 GB segment, a pure scan-stage mapInArrow with ZERO
  shuffle; Common Crawl's per-record gzip members decompress inside the
  task.  Corrupt segment tails are quarantined per record (`truncated`
  counter via ``read_warc_stats``), never raised — a bad segment must
  not kill a 1000-executor stage.
- ``pages_to_warc``: page rows -> deterministic `.warc.gz` chunk bytes
  (per-record gzip members, mtime=0, warcinfo header record) — the
  egress/fixture direction that lets the driver oracle prove the
  roundtrip byte-identical (entry:warc_ingest).

The reference has no crawl/ingest concept (its input boundary is image
file paths, `main.py:169-196`); this is a beyond-reference source
operator in the spirit of its format allowlist (S2): content sniffing
stays magic-byte/header-driven, unparseable input becomes a counted
skip, never an exception.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from image_ocr_spark.operators.rowmap import _lazy_zip_rereads, map_rows, no_pandas

READ_WARC_SCHEMA = "url string, warc_ts long, content_type string, payload binary"
WARC_STATS_SCHEMA = "n_records long, n_skipped long, truncated boolean"
PAGES_TO_WARC_SCHEMA = "chunk binary, n_records long"


def read_warc(
    chunks: DataFrame,
    chunk_col: str = "chunk",
    passthrough: tuple = (),
) -> DataFrame:
    """(chunk binary) rows -> (url, warc_ts secs, content_type, payload).

    Scan-stage only: no shuffle, no driver traffic; the fat chunk column
    is the ONLY input column unless ``passthrough`` names slim lineage
    columns (e.g. binaryFile's ``path``) to fan out onto every record of
    their chunk — the per-segment lineage key a resumable ingest
    checkpoints on (operators/checkpoint.py).  Non-response / malformed
    records are dropped here (see ``read_warc_stats`` for the quarantine
    counters a production ingest writes to its manifest).
    """
    from image_ocr_spark.pycore.warc import parse_warc

    def records(chunk, *lineage):
        return [
            (r["url"], r["warc_ts"], r["content_type"], r["payload"], *lineage)
            for r in parse_warc(chunk or b"")["records"]
        ]

    cols = [F.col(chunk_col).alias("chunk")] + [F.col(c) for c in passthrough]
    src = chunks.select(*cols)
    out_schema = READ_WARC_SCHEMA
    for f in src.schema.fields[1:]:
        out_schema += f", {f.name} {f.dataType.simpleString()}"
    return map_rows(src, records, out_schema)


def read_warc_stats(chunks: DataFrame) -> DataFrame:
    """Per-chunk quarantine counters of chunks(chunk) (records parsed /
    skipped / truncated tail) — the ingest-manifest row a resumable 100 TB
    load persists next to each segment (checkpoint.py discipline)."""
    from image_ocr_spark.pycore.warc import parse_warc

    def stats(chunk):
        parsed = parse_warc(chunk or b"")
        return [(len(parsed["records"]), parsed["skipped"], parsed["truncated"])]

    return map_rows(chunks.select("chunk"), stats, WARC_STATS_SCHEMA)


def _write_batches(max_chunk_bytes: int, schema: pa.Schema):
    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _lazy_zip_rereads()
        from image_ocr_spark.pycore.warc import (
            build_response_record,
            build_warc_gz,
            build_warcinfo_record,
        )

        pending: list = []
        nbytes = 0

        @no_pandas()  # as rowmap's kernels: this worker needs no pandas
        def flush() -> pa.RecordBatch:
            nonlocal pending, nbytes
            # warcinfo leads the segment (real file shape; parser skips it);
            # its date is the first response's date — deterministic, no clock
            first_ts = pending[0][1]
            records = [
                build_warcinfo_record(first_ts, {"software": "image-ocr-spark"})
            ] + [build_response_record(u, t, p, c) for (u, t, p, c) in pending]
            row = (build_warc_gz(records), len(pending))
            pending, nbytes = [], 0
            return pa.RecordBatch.from_arrays(
                [pa.array([v], f.type) for v, f in zip(row, schema)], schema=schema
            )

        for b in batches:
            urls = b.column(0).to_pylist()
            tss = b.column(1).to_pylist()
            payloads = b.column(2).to_pylist()
            ctypes = b.column(3).to_pylist()
            for u, t, p, c in zip(urls, tss, payloads, ctypes):
                p = p or b""
                pending.append((u, int(t), p, c))
                nbytes += len(p)
                if nbytes >= max_chunk_bytes:
                    yield flush()
        if pending:
            yield flush()

    return gen


def pages_to_warc(
    pages: DataFrame, max_chunk_bytes: int = 64 << 20
) -> DataFrame:
    """Page rows -> (chunk `.warc.gz` bytes, n_records) — one or more
    chunks per partition, bounded by ``max_chunk_bytes`` of payload so a
    chunk row never approaches Arrow's 2 GiB array limit (the
    generate.py lesson).  Egress is scan-stage and shuffle-free; chunk
    bytes are a pure function of the partition's row sequence (gzip
    mtime=0, derived record ids), so a repartition(1)+sort input makes
    the whole file byte-deterministic (tested).

    ``content_type`` follows the pipeline's magic-byte sniff (S2): PDF
    payloads (%PDF-) are labeled application/pdf, everything else
    text/html — the same two-branch allowlist tokenize.py routes on.
    """
    rows = pages.select(
        F.col("url"),
        F.col("warc_ts").cast("long").alias("warc_ts_s"),
        F.col("html"),
        F.when(
            F.substring(F.col("html"), 1, 5) == F.lit(b"%PDF-"),
            F.lit("application/pdf"),
        )
        .otherwise(F.lit("text/html"))
        .alias("content_type"),
    )
    # not rowmap.map_batches: a chunk carries records across input batches
    struct = StructType.fromDDL(PAGES_TO_WARC_SCHEMA)
    return rows.mapInArrow(
        _write_batches(max_chunk_bytes, to_arrow_schema(struct)), struct
    )
