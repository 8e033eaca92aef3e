"""Stateful streaming operators (SURVEY §2.9 stretch, round 2):

- ``windowed_page_counts``: tumbling event-time windows over ``warc_ts``
  with a watermark — the late-data-tolerant crawl-rate rollup.  Pure
  built-in operators (window + watermark), no UDF.
- ``dedup_first_seen``: cross-micro-batch url dedup via
  ``applyInPandasWithState`` — per-url GroupState survives in the streaming
  checkpoint, so a url seen in batch 1 is suppressed in every later batch
  even across restarts.  This is the custom-stateful-operator shape the
  built-ins cannot express (distinct() in streaming has unbounded state and
  no cross-restart first-wins contract).

Scale notes: window+watermark state is bounded by (windows in watermark
horizon x langs); the dedup state is one tiny row per distinct url,
hash-partitioned by url — the same key layout as the batch dedup, no skew
beyond the url distribution itself.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

DEDUP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("first_ts", T.TimestampType(), True),
    ]
)
DEDUP_STATE_SCHEMA = T.StructType([T.StructField("seen", T.IntegerType(), False)])


WINDOW = "10 minutes"
WATERMARK = "30 minutes"


def windowed_page_counts(pages: DataFrame) -> DataFrame:
    """Event-time tumbling-window (WINDOW) counts per lang, late rows
    admitted up to WATERMARK behind the max seen ``warc_ts``.  Works on
    both batch and streaming DataFrames (same plan text — asserted in
    tests)."""
    df = pages.select(F.col("warc_ts").cast("timestamp").alias("ts"), "lang", "html")
    if df.isStreaming:
        df = df.withWatermark("ts", WATERMARK)
    return df.groupBy(F.window("ts", WINDOW).alias("win"), "lang").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(F.octet_length("html")).alias("html_bytes"),
    ).select(
        F.col("win.start").alias("win_start"),
        "lang",
        "n_pages",
        "html_bytes",
    )


def _dedup_fn(
    key: Tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Emit the url's first row ever; GroupState marks it seen forever."""
    if state.exists:
        for _ in pdfs:  # drain; already emitted in an earlier batch
            pass
        return
    # min over ALL chunks: a hot url can arrive split across several Arrow
    # chunks in arbitrary order, and state makes this emission permanent
    first_ts = None
    for pdf in pdfs:
        if len(pdf):
            cand = pdf["warc_ts"].min()
            if pd.isna(cand):
                continue  # all-null chunk must not poison first_ts with NaT
            if first_ts is None or cand < first_ts:
                first_ts = cand
    state.update((1,))
    # ALWAYS exactly one output row per distinct url — a url whose first
    # batch carried only null timestamps emits (url, null) rather than
    # vanishing forever (ADVICE r02: state.update without an emission
    # permanently suppressed the url)
    yield pd.DataFrame(
        {
            "url": pd.Series([key[0]], dtype="object"),
            "first_ts": pd.Series([first_ts], dtype="datetime64[ns]"),
        }
    )


def dedup_first_seen(pages: DataFrame) -> DataFrame:
    """Streaming first-seen url dedup: one output row per distinct url,
    across micro-batches and restarts (state in the checkpoint)."""
    return (
        pages.select("url", "warc_ts")
        .groupBy("url")
        .applyInPandasWithState(
            _dedup_fn,
            outputStructType=DEDUP_OUT_SCHEMA,
            stateStructType=DEDUP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def dedup_first_seen_replay(spark, pages: DataFrame) -> DataFrame:
    """Batch-replay harness for the driver's correctness gate (VERDICT r02
    item 4): materialize two identical crawls of `pages` as separate
    files, drain them through the REAL streaming dedup (maxFilesPerTrigger=1
    forces >= two micro-batches, so the cross-batch GroupState path is
    exercised, not a single-batch degenerate), and return the parquet sink's
    content as a batch DataFrame.  Fresh temp dirs per call keep the replay
    idempotent (a reused checkpoint would suppress every url); the bulky
    source copies and the checkpoint are deleted before returning (review
    r3: repeated driver calls were accumulating 2x the corpus under /tmp),
    only the small sink output outlives the call."""
    import os
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="dedup_replay_")
    src = os.path.join(base, "src")
    out = os.path.join(base, "out")
    ck = os.path.join(base, "ck")
    p = pages.select("url", F.col("warc_ts").cast("timestamp").alias("warc_ts"))
    for _ in range(2):
        p.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("url string, warc_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        dedup_first_seen(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        for bulky in (src, ck):
            shutil.rmtree(bulky, ignore_errors=True)
    return spark.read.parquet(out)
