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


def salt_repartition(pages: DataFrame) -> DataFrame:
    """Spread url-space uniformly (defuses host-level skew in crawl order).

    xxhash64(url) is uniform regardless of host distribution.  The
    exchange is planned with spark.sql.shuffle.partitions (get_spark sizes
    it from the host's cores), but a repartition by column alone is
    REPARTITION_BY_COL, which AQE may coalesce: the target partition size
    is total bytes / default parallelism, raised to
    spark.sql.adaptive.coalescePartitions.minPartitionSize (1 MB).  The
    9,990-page perfbench table shuffles about 2.2 MB, so on a 4-core host
    the stage this exchange feeds (tokenizer, rollup, classify, sink)
    runs as 2 tasks, not 4.

    It stays that way because every task of that stage holds its own
    Python worker: about 96 MB RSS after the tokenizer has run over the
    9,990 perfbench pages (the pyspark daemon it forks from holds 62 MB;
    pandas stays out, see operators/rowmap.py).  An explicit
    repartition(4, xxhash64(url)), which AQE leaves alone, measured
    pages_extract job_s 1.51 -> 1.35 s but Python RSS 258 -> 451 MB and
    cpu_s 4.49 -> 4.75 s on a 4-core host (medians of 2 alternating
    pairs).
    """
    return pages.repartition(F.xxhash64("url"))


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages(url, html[, doc_id]) -> one extraction row per url.

    Output: url, doc_id, engine, text, title, n_nodes, n_content_nodes,
    doc_type, receipt_score_centi, invoice_score_centi.
    Pages yielding zero nodes (empty/broken) come back with text='' —
    never-raise semantics (ref pipeline.py:251-271).

    The tokenizer picks the engine per row by magic bytes (the 'auto'
    strategy of the reference's set_engine, pipeline.py:120-146); forcing
    a named engine is tokenize_packed's ``engine`` option.
    """
    packed = tokenize_packed(salt_repartition(pages))  # one row per doc
    per_url = extract_text_packed(packed)  # per-row exprs, NO shuffle
    return classify_df(per_url, "text")
