"""Bloom-sketch incremental snapshot dedup (operators/bloom.py): DuckDB
replays the double-hash positions, the maybe-seen probe AND the
end-to-end incremental result by value; the probe plan is asserted
shuffle-free and the no-false-negative property is checked on data.

Snapshots are carved from the fixture corpus: OLD = even doc_ids,
NEW = odd doc_ids plus re-submitted copies of half the old texts under
fresh ids (the re-crawl overlap the operator exists to kill).
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from image_ocr_spark.operators.bloom import (
    bloom_build,
    flag_maybe_seen,
    incremental_new,
)
from image_ocr_spark.operators.dedup import VARIANT_OFFSET
from tests.conftest import SF_DIR

M_BITS = 1 << 16  # small bitmap => a few true false-positives at sf0.001
K = 7

# DuckDB twin of bloom_positions_col: h1 + i*h2 double hashing over
# 60-bit md5 prefixes, i in 1..k — same arithmetic, same coalesce('')
POS = (
    f"[ (('0x' || substr(md5(coalesce(key,'')), 1, 15))::BIGINT"
    f"   + i * ((('0x' || substr(md5(coalesce(key,'') || '#b2'), 1, 15))::BIGINT"
    f"           % {M_BITS - 1}) + 1)) % {M_BITS}"
    f"  for i in range(1, {K + 1}) ]"
)


def _snapshots(spark, documents):
    docs = documents.select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    resubmits = (
        old.filter(F.col("doc_id") % 4 == 0)
        .select((F.col("doc_id") + VARIANT_OFFSET).alias("doc_id"), "text")
    )
    new = docs.filter(F.col("doc_id") % 2 == 1).unionByName(resubmits)
    return old, new


def _duck(sql):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    con.execute(
        "CREATE VIEW old AS SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0"
    )
    con.execute(
        "CREATE VIEW new AS "
        "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1 "
        "UNION ALL "
        f"SELECT doc_id + {VARIANT_OFFSET}, text FROM documents "
        "WHERE doc_id % 4 = 0"
    )
    out = con.execute(sql).fetchall()
    con.close()
    return out


def _oracle_positions():
    """DuckDB's replay of the distinct bit positions OLD sets."""
    return sorted(
        r[0]
        for r in _duck(
            "SELECT DISTINCT unnest(pos) FROM "
            f"(SELECT {POS.replace('key', 'text')} AS pos FROM old)"
        )
    )


def test_build_positions_match_oracle(spark, documents):
    import numpy as np

    old, _ = _snapshots(spark, documents)
    bitmap = bloom_build(old, "text", M_BITS, K)
    got = np.flatnonzero(np.unpackbits(bitmap, bitorder="little")).tolist()
    want = _oracle_positions()
    assert got == want
    assert 0 < len(got) < M_BITS


def test_segmented_build_equals_row_collect_build(spark, documents):
    """The executor-side packed build (the driver receives m/8 chunk
    bytes, never position Rows) is bit-identical to the row-collect
    formulation, here DuckDB's position replay packed on the driver, at
    segment widths that exercise one segment, many segments, and a SHORT
    last segment (seg not dividing m)."""
    import numpy as np

    old, _ = _snapshots(spark, documents)
    pos = np.array(_oracle_positions(), dtype=np.int64)
    want = np.zeros(M_BITS // 8, dtype=np.uint8)
    np.bitwise_or.at(want, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    for seg_bits in (M_BITS, 1 << 13, 24_000):  # 1 seg / 8 segs / short tail
        got = bloom_build(old, "text", M_BITS, K, seg_bits=seg_bits)
        assert np.array_equal(got, want), seg_bits
    assert want.any()


def test_probe_matches_oracle(spark, documents):
    old, new = _snapshots(spark, documents)
    bitmap = bloom_build(old, "text", M_BITS, K)
    got = {
        r.doc_id: r.maybe_seen
        for r in flag_maybe_seen(new, bitmap, "text", M_BITS, K).collect()
    }
    want = dict(
        _duck(
            f"""
WITH oldpos AS (
  SELECT DISTINCT unnest(pos) AS p FROM
    (SELECT {POS.replace('key', 'text')} AS pos FROM old)
), newpos AS (
  SELECT doc_id, unnest(pos) AS p FROM
    (SELECT doc_id, {POS.replace('key', 'text')} AS pos FROM new)
), hits AS (
  SELECT n.doc_id, count(*) AS h FROM newpos n JOIN oldpos o ON n.p = o.p
  GROUP BY n.doc_id
)
SELECT new.doc_id, coalesce(h.h, 0) = {K} AS maybe_seen
FROM new LEFT JOIN hits h ON new.doc_id = h.doc_id
"""
        )
    )
    assert got == want
    # the re-submitted duplicates are a large block of True; the odd-id
    # originals are mostly False — both sides must be non-trivial
    assert sum(got.values()) >= len(got) // 5
    assert sum(not v for v in got.values()) >= len(got) // 2


def test_no_false_negatives_and_fpr(spark, documents):
    """Bloom contract on data: every true duplicate is flagged; the
    false-positive rate among genuinely-new rows stays moderate even at
    this deliberately undersized bitmap."""
    old, new = _snapshots(spark, documents)
    bitmap = bloom_build(old, "text", M_BITS, K)
    flagged = flag_maybe_seen(new, bitmap, "text", M_BITS, K)
    old_texts = {r.text for r in old.select("text").distinct().collect()}
    rows = flagged.select("doc_id", "text", "maybe_seen").collect()
    dup_rows = [r for r in rows if r.text in old_texts]
    fresh_rows = [r for r in rows if r.text not in old_texts]
    assert dup_rows and fresh_rows
    assert all(r.maybe_seen for r in dup_rows)  # NO false negatives, ever
    fpr = sum(r.maybe_seen for r in fresh_rows) / len(fresh_rows)
    assert fpr < 0.25, fpr


def test_incremental_result_matches_exact_antijoin(spark, documents):
    """End-to-end: confirm=True makes the bloom invisible — the result
    equals the plain key anti-join by value (the driver-gate-style
    oracle), regardless of false positives."""
    old, new = _snapshots(spark, documents)
    got = sorted(
        (r.doc_id, r.text)
        for r in incremental_new(old, new, "text", M_BITS, K).collect()
    )
    want = sorted(
        _duck(
            "SELECT doc_id, text FROM new "
            "WHERE text NOT IN (SELECT text FROM old)"
        )
    )
    assert got == want


def test_probe_plan_is_shuffle_free(spark, documents):
    """The 100 TB shape: position expressions fold into the scan stage
    and the bit test is one Arrow eval against the broadcast bitmap —
    no Exchange anywhere on the probe path."""
    old, new = _snapshots(spark, documents)
    bitmap = bloom_build(old, "text", M_BITS, K)
    plan = (
        flag_maybe_seen(new, bitmap, "text", M_BITS, K)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan
