"""Watermarked windowed aggregation + applyInPandasWithState dedup
(SURVEY §2.9 stretch, round 2)."""

import os

import pytest
from pyspark.sql import functions as F

from image_ocr_spark.operators.generate import generate_pages
from image_ocr_spark.schemas import PAGE_SCHEMA
from image_ocr_spark.streaming.stateful import (
    dedup_first_seen,
    windowed_page_counts,
)


@pytest.fixture()
def small_pages(spark, documents):
    return generate_pages(documents.limit(80))


def _drain(stream_df, out_dir, ck_dir, mode):
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_windowed_counts_stream_equals_batch(spark, small_pages, tmp_path):
    """availableNow drain of the watermarked windowed agg == the same agg
    run in batch (all data within the watermark horizon by end of drain)."""
    pages_dir = str(tmp_path / "pages")
    small_pages.write.parquet(pages_dir)

    batch = {
        (r.win_start, r.lang): (r.n_pages, r.html_bytes)
        for r in windowed_page_counts(spark.read.parquet(pages_dir)).collect()
    }
    assert batch, "batch windows must not be empty"

    stream = spark.readStream.schema(PAGE_SCHEMA).parquet(pages_dir)
    out_dir, ck_dir = str(tmp_path / "out"), str(tmp_path / "ck")
    _drain(windowed_page_counts(stream), out_dir, ck_dir, "append")
    streamed = {
        (r.win_start, r.lang): (r.n_pages, r.html_bytes)
        for r in spark.read.parquet(out_dir).collect()
    }
    # append mode only emits windows the watermark has passed (observed
    # ~19 of 34 on this fixture); what IS emitted must match batch exactly
    assert len(streamed) > 0
    assert streamed.items() <= batch.items()


def test_dedup_null_ts_url_still_emits_once(spark, tmp_path):
    """ADVICE r02: a url whose FIRST batch carries only null warc_ts must
    emit (url, null) — not vanish forever — and stay suppressed after."""
    pages_dir = str(tmp_path / "pages")
    os.makedirs(pages_dir)
    out_dir, ck_dir = str(tmp_path / "out"), str(tmp_path / "ck")
    ddl = "url string, warc_ts timestamp"

    # batch 1: url X with null ts only
    spark.createDataFrame([("https://x/1", None)], ddl).write.mode(
        "append"
    ).parquet(pages_dir)
    stream = spark.readStream.schema(ddl).parquet(pages_dir)
    _drain(dedup_first_seen(stream), out_dir, ck_dir, "append")
    rows = spark.read.parquet(out_dir).collect()
    assert [(r.url, r.first_ts) for r in rows] == [("https://x/1", None)]

    # batch 2: same url now WITH a timestamp -> still suppressed (first wins)
    spark.createDataFrame(
        [("https://x/1", "2024-01-01 00:00:00")], "url string, warc_ts string"
    ).selectExpr("url", "warc_ts::timestamp AS warc_ts").write.mode(
        "append"
    ).parquet(pages_dir)
    stream2 = spark.readStream.schema(ddl).parquet(pages_dir)
    _drain(dedup_first_seen(stream2), out_dir, ck_dir, "append")
    rows2 = spark.read.parquet(out_dir).collect()
    assert len(rows2) == 1 and rows2[0].first_ts is None


def test_dedup_replay_harness_suppresses_second_crawl(spark, small_pages):
    """The driver-query replay harness: 2x identical crawls through >= 2
    micro-batches -> exactly one row per distinct url."""
    from image_ocr_spark.streaming.stateful import dedup_first_seen_replay

    out = dedup_first_seen_replay(spark, small_pages)
    rows = out.collect()
    urls = [r.url for r in rows]
    assert len(urls) == len(set(urls)) == small_pages.count()
    assert all(r.first_ts is not None for r in rows)


def test_dedup_first_seen_across_batches(spark, small_pages, tmp_path):
    """A url seen in micro-batch 1 must not be re-emitted by micro-batch 2
    (GroupState persists in the checkpoint across separate drains)."""
    pages_dir = str(tmp_path / "pages")
    os.makedirs(pages_dir)
    out_dir, ck_dir = str(tmp_path / "out"), str(tmp_path / "ck")

    # batch 1: first 50 pages
    small_pages.limit(50).write.mode("append").parquet(pages_dir)
    stream = spark.readStream.schema(PAGE_SCHEMA).parquet(pages_dir)
    _drain(dedup_first_seen(stream), out_dir, ck_dir, "append")
    first = {r.url for r in spark.read.parquet(out_dir).collect()}
    assert len(first) == 50

    # batch 2: the SAME 50 pages again plus the remaining 30
    small_pages.write.mode("append").parquet(pages_dir)
    stream2 = spark.readStream.schema(PAGE_SCHEMA).parquet(pages_dir)
    _drain(dedup_first_seen(stream2), out_dir, ck_dir, "append")
    rows = spark.read.parquet(out_dir).collect()
    urls = [r.url for r in rows]
    # every url exactly once: the 50 replays were suppressed by state
    assert len(urls) == len(set(urls)) == small_pages.count()
