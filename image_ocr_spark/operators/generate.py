"""Spark-side deterministic page synthesis: documents table -> pages table.

Wraps fixtures.gen_pages.build_page in an Arrow-batched mapInPandas (the
fixture analog of the reference's TestImageGenerator, gui.py:48-1016).
Optionally replicates each document REPLICAS times (distinct urls) to scale
the corpus for benchmarking — replica_id is part of the url and of doc_id'
(doc_id * replicas + r) so every page stays a pure function of its ids.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..fixtures.gen_pages import build_page
from ..schemas import GEN_PAGE_SCHEMA


def _gen(replicas: int, max_rows: int = 50_000, max_bytes: int = 256 << 20):
    """Output batches are re-chunked at max_rows OR max_bytes of html,
    whichever hits first: the replica fan-out amplifies one input batch
    by `replicas`, and a single yielded frame whose html column exceeds
    Arrow's 2 GiB array limit becomes a ChunkedArray the serializer
    rejects (hit at replicas=1200, r05).  The byte bound matters because
    the failing quantity is bytes — 50k rows alone would still overflow
    past ~43 KB/page (review r5)."""

    def gen_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in GEN_PAGE_SCHEMA.fields]
        out = {c: [] for c in cols}
        n = nbytes = 0
        for b in batches:
            for row in b.itertuples(index=False):
                for r in range(replicas):
                    doc_id = int(row.doc_id) * replicas + r
                    page = build_page(doc_id, row.text, row.lang)
                    out["doc_id"].append(doc_id)
                    out["url"].append(page["url"])
                    out["warc_ts"].append(page["warc_ts"])
                    out["html"].append(page["html"])
                    out["lang"].append(page["lang"])
                    out["kind"].append(page["kind"])
                    n += 1
                    nbytes += len(page["html"])
                    if n >= max_rows or nbytes >= max_bytes:
                        yield pd.DataFrame(out, columns=cols)
                        out = {c: [] for c in cols}
                        n = nbytes = 0
        if n:
            yield pd.DataFrame(out, columns=cols)

    return gen_batches


def _num_partitions(df: DataFrame) -> int:
    """df's partition count without running it.  An exchange fixes the
    count in the planned output partitioning; asking an adaptive plan for
    its RDD instead would execute its shuffle stages.  A plain scan plans
    no count, and its RDD's partitions are the scan splits."""
    planned = df._jdf.queryExecution().sparkPlan().outputPartitioning()
    return planned.numPartitions() or df.rdd.getNumPartitions()


def generate_pages(documents: DataFrame, replicas: int = 1) -> DataFrame:
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
    pages = src.mapInPandas(_gen(replicas), GEN_PAGE_SCHEMA)
    return pages.withColumn("warc_ts", F.timestamp_seconds("warc_ts"))
