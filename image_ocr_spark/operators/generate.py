"""Spark-side deterministic page synthesis: documents table -> pages table.

Runs fixtures.gen_pages.build_page once per document through the per-row
Arrow boundary (rowmap.map_rows) — the fixture analog of the reference's
TestImageGenerator, gui.py:48-1016.  Every page is a pure function of its
doc_id, text and lang.
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


def _num_partitions(df: DataFrame) -> int:
    """df's partition count without running it.  An exchange fixes the
    count in the planned output partitioning; asking an adaptive plan for
    its RDD instead would execute its shuffle stages.  A plain scan plans
    no count, and its RDD's partitions are the scan splits."""
    planned = df._jdf.queryExecution().sparkPlan().outputPartitioning()
    return planned.numPartitions() or df.rdd.getNumPartitions()


def generate_pages(documents: DataFrame) -> DataFrame:
    """documents(doc_id, text, lang, ...) -> pages (GEN_PAGE_SCHEMA + ts cast).

    At 100 TB the real input is an Iceberg/parquet pages table; this operator
    exists so tests and benches can synthesize that table deterministically
    from the driver's documents fixture (TESTDATA.md).
    """
    src = documents.select("doc_id", "text", "lang")
    # Spread documents across the cluster BEFORE the synth pass (r07,
    # guide §2.5 input skew): the documents scan is typically one split at
    # fixture scale, which serialized build_page (and everything chained
    # after it — tokenize, warc serialization — since map stages fuse)
    # into a single task.  The exchange moves only (doc_id, text, lang);
    # hash on doc_id keeps the assignment deterministic under retries and
    # defaultParallelism keeps it scale-adaptive.  An input already split
    # that wide (a pages-sized scan) keeps its partitioning: the Exchange
    # would only move rows that are already spread.
    par = documents.sparkSession.sparkContext.defaultParallelism
    if _num_partitions(src) < par:
        src = src.repartition(par, F.col("doc_id"))
    pages = map_rows(src, _page_row, GEN_PAGE_SCHEMA)
    return pages.withColumn("warc_ts", F.timestamp_seconds("warc_ts"))
