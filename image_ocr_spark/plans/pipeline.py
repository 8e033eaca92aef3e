"""The flagship extraction pipeline (SURVEY.md §3.4 lifecycle).

    pages --salted repartition--> tokenize_packed (mapInArrow, one Arrow
          boundary, one row per document with its node array inline)
          --> content selection + main-text rollup (extract_text_packed:
              per-row array expressions, no shuffle)
          --> classify (native SQL keyword scoring)

Scale design:
- `salt_repartition` spreads a hot host's pages across partitions by
  xxhash64(url) BEFORE the Python stage (north rule: host-skew defusal).
  It is the plan's only exchange: a document's nodes never leave the task
  that tokenized them, so the rollup and classify run in the same stage.
- Every page keeps its row: pages yielding zero nodes carry a sentinel
  node through tokenize and come back with text=''.
- The fat `html` column is pruned at the tokenizer input; nothing
  downstream reads raw bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.classify import classify_df
from ..operators.blocks import extract_text_packed
from ..operators.tokenize import tokenize_packed


def salt_repartition(pages: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Spread url-space uniformly (defuses host-level skew in crawl order).

    xxhash64(url) is uniform regardless of host distribution; at cluster
    scale pass an explicit num_partitions sized to executors*cores*2-3.
    """
    key = F.xxhash64("url")
    if num_partitions:
        return pages.repartition(num_partitions, key)
    return pages.repartition(key)


def extract_pages(
    pages: DataFrame,
    num_partitions: int | None = None,
    engine: str = "auto",
) -> DataFrame:
    """pages(url, html[, doc_id]) -> one extraction row per url.

    Output: url, doc_id, engine, text, title, n_nodes, n_content_nodes,
    doc_type, receipt_score_centi, invoice_score_centi.
    Pages yielding zero nodes (empty/broken) come back with text='' —
    never-raise semantics (ref pipeline.py:251-271).

    ``engine`` is the pipeline-level strategy switch (ref set_engine,
    pipeline.py:120-146): 'auto' picks per row by magic bytes, a named
    engine forces it with per-row registry fallback.
    """
    pages = salt_repartition(pages, num_partitions)
    packed = tokenize_packed(pages, engine=engine)  # one row per doc
    per_url = extract_text_packed(packed)  # per-row exprs, NO shuffle
    return classify_df(per_url, "text")
