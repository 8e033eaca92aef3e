"""Spark-side deterministic page synthesis: documents table -> pages table.

Runs fixtures.gen_pages.build_page once per document through the per-row
Arrow boundary (rowmap.map_rows) — the fixture analog of the reference's
TestImageGenerator, gui.py:48-1016.  Every page is a pure function of its
doc_id, text and lang.  The pass runs on the input's partitioning as
given: spreading a narrow documents scan is the caller's decision (the
driver's ``_docs`` makes it once, where the scan is read).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..fixtures.gen_pages import build_page
from ..schemas import GEN_PAGE_SCHEMA
from .rowmap import map_rows


def _page_row(doc_id: int, text: str, lang: str) -> list:
    page = build_page(doc_id, text, lang)
    return [
        (doc_id, page["url"], page["warc_ts"], page["html"], page["lang"], page["kind"])
    ]


def generate_pages(documents: DataFrame) -> DataFrame:
    """documents(doc_id, text, lang, ...) -> pages (GEN_PAGE_SCHEMA + ts cast).

    At 100 TB the real input is an Iceberg/parquet pages table; this operator
    exists so tests and benches can synthesize that table deterministically
    from the driver's documents fixture (TESTDATA.md).
    """
    src = documents.select("doc_id", "text", "lang")
    pages = map_rows(src, _page_row, GEN_PAGE_SCHEMA)
    return pages.withColumn("warc_ts", F.timestamp_seconds("warc_ts"))
