"""Deterministic mixture sampling — pretraining data mixing as a
scan-stage filter.

Training corpora are blended from sources at explicit rates (cf. the
weighted dataset mixture of GPT-3 Table 2.2 and The Pile's per-set
epochs).  At 100 TB the sample must be (a) a pure per-row decision — no
shuffle, no global sort, no reservoir state — and (b) DETERMINISTIC, so
a resumed or re-run job selects the identical subset and downstream
dedup/packing stay stable.  Both follow from the hash-threshold rule:

    keep(row)  <=>  md5_32(salt || id) / 2^32  <  rate(group)

The md5-prefix hash is the repo's engine-portable 'random' (bit-identical
in Spark, DuckDB, Python), so mixtures have closed-form oracles; `salt`
decorrelates this sample from every other hash use of the same ids (and
from other mixtures).
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import hash32

HASH_SPACE = 4294967296.0  # 2^32, the md5_32 value space


def sample_mixture(
    docs: DataFrame,
    rates: Dict[str, float],
    group_col: str = "lang",
    salt: str = "mix",
) -> DataFrame:
    """Rows kept with their group's probability (exactly the docs whose
    per-doc_id uniform falls under rate(group)); groups missing from
    `rates` are dropped (rate 0.0).  Per-row expression, zero shuffle."""
    u = hash32(
        F.concat(F.lit(salt), F.col("doc_id").cast("string"))
    ) / F.lit(HASH_SPACE)
    rate = F.lit(0.0)
    for g, r in sorted(rates.items()):
        rate = F.when(F.col(group_col) == g, F.lit(float(r))).otherwise(rate)
    return docs.filter(u < rate)
