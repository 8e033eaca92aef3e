"""WARC ingest boundary: pycore spec parser + Spark source operators.

The from-scratch writer/parser (pycore/warc.py, ISO 28500 / WARC 1.1
layout as Common Crawl ships it) must roundtrip page rows byte-
identically through `.warc.gz` chunk bytes, skip non-response records,
quarantine corrupt tails without raising, and stay scan-stage-only on
the Spark side (entry:warc_ingest is the driver-checked composition).
"""

import os
import zlib

import pytest
from pyspark.sql import functions as F

from image_ocr_spark.pycore.warc import (
    build_response_record,
    build_warc_gz,
    build_warcinfo_record,
    gzip_member,
    parse_warc,
)


def _sample_records():
    payloads = [
        b"<html><body>WARC/1.1\r\n\r\nnot a boundary</body></html>",
        "日本語のページ本文".encode("utf-8"),
        b"%PDF-1.4 fake pdf bytes",
        b"",
    ]
    recs = [build_warcinfo_record(1704067200, {"software": "test"})]
    expected = []
    for i, p in enumerate(payloads):
        url = f"https://h{i}.example.net/p/{i}"
        ts = 1704067200 + 60 * i
        ct = "application/pdf" if p[:5] == b"%PDF-" else "text/html"
        recs.append(build_response_record(url, ts, p, ct))
        expected.append((url, ts, ct, p))
    return recs, expected


def test_roundtrip_plain_and_gz():
    recs, expected = _sample_records()
    for blob in (b"".join(recs), build_warc_gz(recs)):
        out = parse_warc(blob)
        assert out["skipped"] == 1 and out["truncated"] is False
        got = [
            (r["url"], r["warc_ts"], r["content_type"], r["payload"])
            for r in out["records"]
        ]
        assert got == expected  # byte-identical payloads, exact ts/ct


def test_payload_framing_is_length_driven():
    """A payload full of record-boundary lookalikes must parse whole: the
    envelope Content-Length, not pattern search, frames the block."""
    evil = b"\r\n\r\nWARC/1.1\r\nWARC-Type: response\r\n\r\n" * 3
    rec = build_response_record("https://x.example.net/p/0", 1704067200, evil)
    out = parse_warc(rec)
    assert out["truncated"] is False and len(out["records"]) == 1
    assert out["records"][0]["payload"] == evil


def test_gzip_members_are_deterministic_and_seekable():
    recs, _ = _sample_records()
    gz = build_warc_gz(recs)
    assert gz == build_warc_gz(recs)  # mtime=0: byte-determinism
    # per-record members: each decompresses independently (CC seekability)
    rest, members = gz, 0
    while rest:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        assert d.decompress(rest) == recs[members]
        rest, members = d.unused_data, members + 1
    assert members == len(recs)


def test_truncated_tail_quarantined_not_raised():
    recs, expected = _sample_records()
    plain, gz = b"".join(recs), build_warc_gz(recs)
    for blob in (plain[: len(plain) - 30], gz[: len(gz) - 10]):
        out = parse_warc(blob)
        assert out["truncated"] is True
        got = [
            (r["url"], r["warc_ts"], r["content_type"], r["payload"])
            for r in out["records"]
        ]
        assert got == expected[: len(got)]  # clean prefix, no garbage row
    assert parse_warc(b"")["records"] == []
    assert parse_warc(b"garbage")["truncated"] is True


def test_non_response_records_skipped():
    req = (
        b"WARC/1.1\r\nWARC-Type: request\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n"
        b"WARC-Record-ID: <urn:uuid:0>\r\nContent-Length: 4\r\n\r\nGET \r\n\r\n"
    )
    rec = build_response_record("https://x.example.net/p/1", 1704067260, b"ok")
    out = parse_warc(req + rec)
    assert out["skipped"] == 1 and len(out["records"]) == 1
    assert out["records"][0]["payload"] == b"ok"


def test_single_member_helper_matches_builder():
    rec = build_response_record("https://x.example.net/p/2", 1704067320, b"x")
    assert gzip_member(rec) == build_warc_gz([rec])


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------
def test_spark_roundtrip_byte_identity(spark, documents):
    """pages -> .warc.gz chunks -> records: every html byte-identical,
    every warc_ts second and sniffed content type preserved."""
    from image_ocr_spark.operators.generate import generate_pages
    from image_ocr_spark.operators.warcsource import pages_to_warc, read_warc

    pages = generate_pages(documents.limit(300)).persist()
    try:
        n_pages = pages.count()
        recs = read_warc(pages_to_warc(pages, max_chunk_bytes=64 << 10))
        joined = (
            recs.alias("r")
            .join(pages.alias("p"), F.col("r.url") == F.col("p.url"), "full_outer")
            .select(
                F.col("r.url").alias("r_url"),
                F.col("p.url").alias("p_url"),
                (F.col("r.payload") == F.col("p.html")).alias("same_bytes"),
                (F.col("r.warc_ts") == F.col("p.warc_ts").cast("long")).alias(
                    "same_ts"
                ),
                F.col("r.content_type").alias("ct"),
                F.col("p.kind").alias("kind"),
            )
        )
        rows = joined.collect()
        assert len(rows) == n_pages
        for r in rows:
            assert r.r_url is not None and r.p_url is not None  # no loss, no extras
            assert r.same_bytes and r.same_ts, r.r_url
            assert r.ct == ("application/pdf" if r.kind == "pdf" else "text/html")
    finally:
        pages.unpersist()


def test_spark_chunk_stats_and_bounds(spark, documents):
    """Chunks respect the payload byte bound; stats rows count records and
    report clean (untruncated) parses; corrupt chunk quarantined."""
    from image_ocr_spark.operators.generate import generate_pages
    from image_ocr_spark.operators.warcsource import (
        pages_to_warc,
        read_warc_stats,
    )

    pages = generate_pages(documents.limit(200))
    chunks = pages_to_warc(pages, max_chunk_bytes=16 << 10).persist()
    try:
        stats = read_warc_stats(chunks).collect()
        metas = chunks.select("n_records", F.length("chunk").alias("sz")).collect()
        assert sum(s.n_records for s in stats) == pages.count()
        assert all(s.n_skipped == 1 for s in stats)  # exactly the warcinfo
        assert all(s.truncated is False for s in stats)
        assert [s.n_records for s in stats] == [m.n_records for m in metas]
        # corrupt tail: clean prefix survives, truncated flag raised
        blob = bytearray(chunks.limit(1).collect()[0].chunk)
        bad = spark.createDataFrame([(bytes(blob[: len(blob) // 2]),)], "chunk binary")
        s = read_warc_stats(bad).collect()[0]
        assert s.truncated is True
    finally:
        chunks.unpersist()


def test_spark_egress_deterministic(spark, documents):
    """repartition(1) + sorted input -> byte-identical .warc.gz across runs
    (gzip mtime=0, derived record ids — no wallclock anywhere)."""
    from image_ocr_spark.operators.generate import generate_pages
    from image_ocr_spark.operators.warcsource import pages_to_warc

    pages = (
        generate_pages(documents.limit(50))
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )
    a = pages_to_warc(pages).collect()
    b = pages_to_warc(pages).collect()
    assert len(a) == 1 and a[0].chunk == b[0].chunk


def test_read_warc_plan_is_scan_stage_only(spark, documents):
    """Ingest is mapInArrow over the chunk scan: no Exchange anywhere in
    the lineage (the 100 TB shape: one task per segment).  Neither the
    page generator nor the WARC writer spreads its input, so a one-split
    documents scan stays one stage end to end."""
    from image_ocr_spark.operators.generate import generate_pages
    from image_ocr_spark.operators.warcsource import pages_to_warc, read_warc

    pages = generate_pages(documents.filter(F.col("doc_id") < 50))
    df = read_warc(pages_to_warc(pages))
    explained = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in explained, explained


def test_binaryfile_source_feeds_read_warc(spark, documents, tmp_path):
    """The documented 100 TB path, literally: real `.warc.gz` segment
    files on disk, read via the binaryFile source, parsed by the same
    operator (chunk_col points at binaryFile's `content` column)."""
    from image_ocr_spark.operators.generate import generate_pages
    from image_ocr_spark.operators.warcsource import pages_to_warc, read_warc

    pages = generate_pages(documents.limit(60))
    for i, r in enumerate(pages_to_warc(pages, max_chunk_bytes=16 << 10).collect()):
        (tmp_path / f"seg-{i:05d}.warc.gz").write_bytes(bytes(r.chunk))

    seg = spark.read.format("binaryFile").load(str(tmp_path / "*.warc.gz"))
    recs = read_warc(seg, chunk_col="content")
    got = {r.url: bytes(r.payload) for r in recs.collect()}
    want = {r.url: bytes(r.html) for r in pages.collect()}
    assert got == want


def test_warc_ingest_resumes_from_checkpoint(spark, documents, tmp_path):
    """North-rule composition for the ingest boundary: segment files are
    the lineage unit — a killed ingest resumes over pending segments
    only, committed output equals a one-shot parse, manifests carry the
    counters.  binaryFile `path` rides through read_warc as the
    per-record lineage key the checkpoint buckets on."""
    from image_ocr_spark.operators.checkpoint import BucketedCheckpoint
    from image_ocr_spark.operators.generate import generate_pages
    from image_ocr_spark.operators.warcsource import pages_to_warc, read_warc

    pages = generate_pages(documents.limit(120))
    seg_dir = tmp_path / "segments"
    seg_dir.mkdir()
    for i, r in enumerate(pages_to_warc(pages, max_chunk_bytes=8 << 10).collect()):
        (seg_dir / f"seg-{i:05d}.warc.gz").write_bytes(bytes(r.chunk))

    segs = spark.read.format("binaryFile").load(str(seg_dir / "*.warc.gz"))
    ingest = lambda df: read_warc(df, "content", passthrough=("path",))  # noqa: E731

    ck = BucketedCheckpoint(str(tmp_path / "ck"), num_buckets=6, key="path")
    done = ck.run(segs, ingest, buckets_per_batch=2, max_batches=1)
    assert done == [0, 1] and ck.pending() == [2, 3, 4, 5]  # "killed" here
    assert 0 < ck.result(spark).count() < pages.count()

    done2 = ck.run(segs, ingest, buckets_per_batch=2)
    assert done2 == [2, 3, 4, 5] and ck.pending() == []

    direct = {r.url: bytes(r.payload) for r in read_warc(segs, "content").collect()}
    resumed = {r.url: bytes(r.payload) for r in ck.result(spark).collect()}
    assert resumed == direct and len(resumed) == pages.count()

    m = ck.metrics()
    assert m["buckets"] == 6 and m["output_rows"] == pages.count()


def test_binaryfile_segment_path_matches_chunk_rows(spark, tmp_path):
    """The documented 100 TB ingest shape (COVERAGE S7) actually runs:
    .warc.gz segment FILES read via spark.read.format('binaryFile') ->
    read_warc, with the file path fanned onto every record as the
    per-segment lineage key — record-identical to the pre-chunked-rows
    path over the same bytes.  An empty and a non-WARC segment sit
    between the real ones: they yield no records and shift no other
    segment's lineage."""
    from image_ocr_spark.operators.warcsource import read_warc, read_warc_stats

    def segment(s):
        recs = [
            build_response_record(
                f"http://seg{s}.example/p{i}",
                1704067200 + i,
                (f"payload {s}/{i} " * 20).encode(),
                "text/html",
            )
            for i in range(50)
        ]
        return build_warc_gz(recs)

    segs = {
        "seg0.warc.gz": segment(0),
        "empty.warc.gz": b"",
        "seg1.warc.gz": segment(1),
        "junk.warc.gz": b"not a warc segment\r\n" * 40,
        "seg2.warc.gz": segment(2),
    }
    for name, blob in segs.items():
        (tmp_path / name).write_bytes(blob)

    bf = (
        spark.read.format("binaryFile")
        .load(f"{tmp_path}/*.warc.gz")
        .select(F.col("content").alias("chunk"), F.col("path"))
    )
    via_files = read_warc(bf, passthrough=("path",))
    got = {
        (r.url, r.warc_ts, bytes(r.payload)): r.path.rsplit("/", 1)[-1]
        for r in via_files.collect()
    }
    # one partition in dict order: the empty chunks sit inside one batch
    rows = spark.createDataFrame(
        list(segs.items()), "name string, chunk binary"
    ).coalesce(1)
    want = {
        (r.url, r.warc_ts, bytes(r.payload)): r.name
        for r in read_warc(rows, passthrough=("name",)).collect()
    }
    assert got == want and len(got) == 150
    # lineage: every record carries ITS OWN segment's path
    assert all(k[0].startswith(f"http://{v.split('.')[0]}") for k, v in got.items())
    stats = [r.n_records for r in read_warc_stats(rows).collect()]
    assert stats == [50, 0, 50, 0, 50]


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_STRESS") != "1",
    reason="set SPARK_GRAFT_STRESS=1 (generates a ~256 MB segment)",
)
def test_binaryfile_multi_hundred_mb_segment(spark, tmp_path):
    """VERDICT r05 item 4: a multi-hundred-MB .warc.gz segment through
    binaryFile -> read_warc must parse without an Arrow 2 GiB batch
    blow-up (incompressible payloads: in-memory batch ~= on-disk size).
    Asserts record parity with a direct pycore parse and records the
    worker's peak RSS (BASELINE.md)."""
    import hashlib
    import resource
    import time

    import numpy as np
    import pyarrow as pa

    from image_ocr_spark.operators.warcsource import read_warc

    n_rec, rec_kb = 1000, 256  # ~256 MB of incompressible payload
    rng = np.random.RandomState(42)
    recs = [
        build_response_record(
            f"http://big.example/p{i}",
            1704067200 + i,
            rng.bytes(rec_kb << 10),
            "application/octet-stream",
        )
        for i in range(n_rec)
    ]
    gz = build_warc_gz(recs)
    path = tmp_path / "big.warc.gz"
    path.write_bytes(gz)
    print(f"\nsegment bytes: {len(gz) / 1e6:.1f} MB")

    direct = parse_warc(gz)["records"]
    want = sorted(
        (r["url"], hashlib.md5(r["payload"]).hexdigest()) for r in direct
    )

    bf = (
        spark.read.format("binaryFile")
        .load(str(path))
        .select(F.col("content").alias("chunk"))
    )
    t0 = time.time()
    got = sorted(
        (r.url, r.md5)
        for r in read_warc(bf)
        .select("url", F.md5("payload").alias("md5"))
        .collect()
    )
    wall = time.time() - t0
    assert got == want and len(got) == n_rec

    def probe(batches):
        from image_ocr_spark.pycore.warc import parse_warc as pw

        n = 0
        for b in batches:
            for chunk in b.column(0).to_pylist():
                n += len(pw(chunk or b"")["records"])
        rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024
        yield pa.RecordBatch.from_arrays(
            [pa.array([n], pa.int64()), pa.array([rss], pa.int64())],
            ["n", "rss_mb"],
        )

    stats = bf.mapInArrow(probe, "n long, rss_mb long").collect()
    assert sum(r.n for r in stats) == n_rec
    peak = max(r.rss_mb for r in stats)
    print(f"binaryFile segment: {n_rec} records, wall {wall:.1f}s, "
          f"per-task peak RSS {peak} MB")
    assert peak < 4096  # a 256 MB segment must not need GBs per task
