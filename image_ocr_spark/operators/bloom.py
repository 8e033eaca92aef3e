"""Bloom-sketch incremental snapshot dedup — "what is NEW in this crawl?"

The canonical 100 TB re-crawl problem: snapshot T+1 arrives and most of
its documents were already seen in snapshot T.  A full `left_anti` join
of new-against-old shuffles BOTH snapshots on the content key — at
10^11-document history that join IS the job.  The bloom path replaces it
with a one-time sketch of the old snapshot plus a shuffle-free scan of
the new one:

- **build** — each old key sets k bit positions in an m-bit bitmap.
  Positions are hash-grouped by bitmap SEGMENT and packed into byte
  chunks executor-side (one shuffle into a grouped Arrow pass,
  ``rowmap.map_groups``), so the driver receives exactly m/8 payload
  bytes — packed bits, never position rows — regardless of history
  size; the bitmap ships once per executor as a Spark broadcast.
- **probe** — every new row computes its k positions in the scan stage
  (JVM md5 expressions) and a vectorized Arrow pass tests the bits:
  all-set -> "maybe seen", any-clear -> **definitely new** (a bloom
  filter has NO false negatives).  Zero shuffle.
- **confirm** — only the maybe-seen minority (true duplicates + the
  false-positive rate) joins `left_anti` against the old keys.  The
  expensive join's probe side shrinks from |new| to |dups| + eps.

Sizing: FPR ~= (1 - e^(-k*n/m))^k; at the defaults (k=7, m/n=16 bits
per key) that is ~0.3%.  One bitmap broadcast is practical to ~2^36
bits (8 GiB, ~4*10^9 keys at 16 bits/key).  The FPR costs nothing in
correctness: the confirm join makes the result exact.

Hashing is the repo's cross-engine md5 discipline (operators/dedup.py
hash60: 15 hex chars = 60 bits, signed-BIGINT-safe in Spark AND DuckDB),
with double hashing h1 + i*h2 (Kirsch & Mitzenmacher, ESA 2006) so each
key costs two md5s, not k.  Positions are therefore bit-identical in the
DuckDB oracle replay (tests/test_bloom.py replays build, probe and the
end-to-end incremental result by value).

No reference counterpart: the reference processes one document at a
time and keeps no cross-run state; this is a beyond-reference
training-data operator like dedup/ANN (cf. C4 / RefinedWeb re-crawl
dedup; Broder-style sketching).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from image_ocr_spark.operators.dedup import hash60
from image_ocr_spark.operators.rowmap import map_batches, map_groups

# 2^20 bits = 128 KiB bitmap: ~65k keys at 16 bits/key, right-sized for
# the fixture corpora.  Production sizing is m ~= 16 * |old| bits.
DEFAULT_M_BITS = 1 << 20
DEFAULT_K = 7
# Build-stage segment width: each map_groups group packs one 1 MiB
# bitmap slice.  At production sizing (m = 16n bits) a segment's group
# holds ~ k*seg_bits/16 ~= 3.7M position rows INDEPENDENT of snapshot
# size (segment count grows with n), so per-task memory is bounded.
DEFAULT_SEG_BITS = 1 << 23


def bloom_positions_col(
    key: Column, m_bits: int = DEFAULT_M_BITS, k: int = DEFAULT_K
) -> Column:
    """array<long> of k bit positions in [0, m_bits) for a key — pure
    per-row expressions (scan stage, JVM md5).

    Double hashing: pos_i = (h1 + i*h2) % m for i in 1..k, where
    h1 = hash60(key) and h2 = hash60(key || '#b2') % (m-1) + 1 (never
    zero, so the k positions do not all collapse onto h1%m).  With
    h2 < m <= 2^36 and i <= k <= 64, h1 + i*h2 stays far inside signed
    64-bit range in both engines, and both operands are non-negative so
    Spark % and DuckDB % agree.
    """
    key = F.coalesce(key, F.lit(""))
    h1 = hash60(key)
    h2 = hash60(F.concat(key, F.lit("#b2"))) % F.lit(m_bits - 1) + F.lit(1)
    return F.array(*[(h1 + F.lit(i) * h2) % F.lit(m_bits) for i in range(1, k + 1)])


def bloom_build(
    df: DataFrame,
    key_col: str = "text",
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
    seg_bits: int = DEFAULT_SEG_BITS,
):
    """numpy uint8 bitmap (m_bits/8 bytes, little-endian bit order within
    each byte) with every position of every key in ``df`` set.

    Scale shape: ONE shuffle of the raw (pos, seg) relation, grouped by
    bitmap segment; each group packs its seg_bits-wide slice into bytes
    EXECUTOR-side (OR is idempotent, so no distinct pass is needed), and
    the driver receives exactly m_bits/8 payload bytes of packed chunks —
    never position Rows (collecting the distinct positions instead would
    materialize ~0.3*m_bits driver Rows at 16 bits/key, ~400x the byte
    payload).  Per-task memory is one slice + its group's rows, which at
    production sizing (m ~= 16n) is ~k*seg_bits/16 rows independent of
    snapshot size.  tests/test_bloom.py checks the bitmap against the
    DuckDB replay of the positions, packed in the test, at one, many and
    a short last segment."""
    import numpy as np
    import pyarrow as pa

    if m_bits % 8 or seg_bits % 8:
        raise ValueError("m_bits and seg_bits must be multiples of 8")
    seg_bits = min(seg_bits, m_bits)
    seg_bytes = seg_bits // 8

    def pack(pos: pa.Array, seg: pa.Array) -> list:
        s = seg[0].as_py()
        base = s * seg_bits
        hi = min(seg_bits, m_bits - base)  # last segment may be short
        rel = pos.to_numpy() - base
        chunk = np.zeros(hi // 8, dtype=np.uint8)
        np.bitwise_or.at(chunk, rel >> 3, np.uint8(1) << (rel & 7).astype(np.uint8))
        return [pa.array([s], pa.int64()), pa.array([chunk.tobytes()], pa.binary())]

    pos = df.select(
        F.explode(bloom_positions_col(F.col(key_col), m_bits, k)).alias("pos")
    )
    packed = map_groups(
        pos.withColumn("seg", F.expr(f"pos div {seg_bits}")),
        ["seg"],
        pack,
        "seg long, chunk binary",
    )
    bitmap = np.zeros(m_bits // 8, dtype=np.uint8)
    # toLocalIterator streams chunk rows (m/8 bytes total) instead of
    # holding a second full copy next to the bitmap during a collect
    for row in packed.toLocalIterator():
        off = row.seg * seg_bytes
        arr = np.frombuffer(row.chunk, dtype=np.uint8)
        bitmap[off : off + len(arr)] = arr
    return bitmap


def flag_maybe_seen(
    new_df: DataFrame,
    bitmap,
    key_col: str = "text",
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> DataFrame:
    """``new_df`` + a boolean ``maybe_seen``: True iff every one of the
    row's k bloom positions is set in ``bitmap`` (so False is a PROOF
    the key is absent from the old snapshot).  Positions are computed by
    scan-stage JVM expressions; the bit test is one vectorized Arrow
    pass against the broadcast bitmap — zero shuffle, zero per-row
    Python."""
    import numpy as np
    import pyarrow as pa

    bc = new_df.sparkSession.sparkContext.broadcast(bitmap)
    probed = new_df.withColumn(
        "__bloom_pos", bloom_positions_col(F.col(key_col), m_bits, k)
    )
    out_schema = StructType(
        new_df.schema.fields + [StructField("maybe_seen", BooleanType(), False)]
    )

    def probe(*cols: pa.Array) -> list:
        *keep, pos_list = cols
        # fixed k positions per row, never null (key is coalesced):
        # flatten is zero-copy, reshape restores the (rows, k) matrix
        flat = pos_list.flatten().to_numpy(zero_copy_only=False)
        if len(flat) != k * len(pos_list):  # ragged/null row => bug
            raise ValueError(
                f"bloom positions not fixed-k: {len(flat)} values "
                f"for {len(pos_list)} rows at k={k}"
            )
        bm = bc.value
        bits = (bm[flat >> 3] >> (flat & 7).astype(np.uint8)) & 1
        return keep + [pa.array(bits.reshape(-1, k).all(axis=1), pa.bool_())]

    return map_batches(probed, probe, out_schema)


def incremental_new(
    old_df: DataFrame,
    new_df: DataFrame,
    key_col: str = "text",
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Rows of ``new_df`` whose key does NOT appear in ``old_df`` —
    exact semantics (identical to a plain left_anti on the key), but the
    anti-join's probe side is only the bloom-suspect minority.
    """
    bitmap = bloom_build(old_df, key_col, m_bits, k)
    flagged = flag_maybe_seen(new_df, bitmap, key_col, m_bits, k)
    definitely_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    suspects = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    confirmed_new = suspects.join(
        old_df.select(F.col(key_col)).distinct(), on=key_col, how="left_anti"
    )
    return definitely_new.unionByName(confirmed_new)
