"""DSIR — data selection via importance resampling (Xie et al.,
NeurIPS 2023): score every corpus document by how much its hashed-ngram
feature distribution looks like a TARGET corpus (the high-quality set you
want more of) versus the raw SOURCE corpus, then keep/resample by weight.
The modern replacement for binary quality gates when curating pretraining
mixtures; joins the battery beside lm_quality (perplexity-ish gate) and
quality_mixture (bucketed selection).

Exactness design (the tri-engine house rule): the obvious per-doc
log-likelihood-ratio sum is float, and JVM ``Math.log`` is not
bit-contracted to libm's ``log`` — so instead of trusting ln() across
engines, the pipeline is split at an integer seam:

1. ``ngram_bucket_counts`` — (bucket, cnt) tables for source and target.
   md5-prefix hashing (hash32, the dedup oracle primitive), integer
   counts: DuckDB replays these EXACTLY (tests/test_dsir.py).
2. ``dsir_log_table`` — driver-side: Laplace-smoothed log-ratio per
   bucket, quantized to INTEGER milli-nats.  The table is n_buckets
   rows (bounded control plane, like learned BPE merges or k-means
   centroids); derived deterministically from the value-checked counts.
3. ``dsir_weights`` — per-doc weight = Σ over the doc's feature
   occurrences of the bucket's integer milli-nat score: exact integer
   arithmetic, engine-order-independent, value-comparable everywhere.

Scale shape: counts are one map-combined shuffle each (gram rows never
exceed ~2x token count; the aggregate is n_buckets rows).  Weights are
explode -> broadcast-join the n_buckets score table -> one doc_id
re-agg with map-side combine.  Nothing driver-side ever exceeds
n_buckets rows.
"""

from __future__ import annotations

import math
from typing import Dict, List, Tuple

from pyspark.sql import Column, DataFrame, functions as F

from .dedup import hash32

DEFAULT_BUCKETS = 10_000
MILLI = 1000


def _grams(text: Column) -> Column:
    """Unigram + bigram word features (DSIR's hashed ngram featureset).
    Explicit whitespace class and a plain space joiner keep the oracle
    replay exact."""
    words = F.filter(
        F.split(F.coalesce(text, F.lit("")), "[ \n\t\r]+"),
        lambda w: w != "",
    )
    n = F.size(words)
    bi_n = F.greatest(n - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(words, 1, bi_n),
        F.slice(words, 2, bi_n),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return F.concat(words, bigrams)


def bucket_col(gram: Column, n_buckets: int = DEFAULT_BUCKETS) -> Column:
    return F.pmod(hash32(gram), F.lit(n_buckets)).cast("long")


def ngram_bucket_counts(docs: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """(bucket, cnt): hashed-ngram occurrence counts over docs(text).
    One map-combined shuffle; output bounded by n_buckets rows."""
    g = docs.select(F.explode(_grams(F.col("text"))).alias("gram"))
    return (
        g.select(bucket_col(F.col("gram"), n_buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_log_table(
    source_counts: List[Tuple[int, int]],
    target_counts: List[Tuple[int, int]],
    n_buckets: int = DEFAULT_BUCKETS,
) -> List[Tuple[int, int]]:
    """(bucket, score_milli) for every bucket 0..n_buckets-1: Laplace
    (+1)-smoothed log(p_target/p_source) in integer milli-nats.  Pure
    driver-side math over the two value-checked count tables — the ONE
    place a float log exists, quantized before it touches an engine."""
    src: Dict[int, int] = dict(source_counts)
    tgt: Dict[int, int] = dict(target_counts)
    s_tot = sum(src.values()) + n_buckets
    t_tot = sum(tgt.values()) + n_buckets
    out = []
    for b in range(n_buckets):
        lr = math.log((tgt.get(b, 0) + 1) / t_tot) - math.log(
            (src.get(b, 0) + 1) / s_tot
        )
        out.append((b, int(round(lr * MILLI))))
    return out


def dsir_weights(
    docs: DataFrame,
    log_table: List[Tuple[int, int]],
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """(doc_id, n_feats, weight_milli): per-document importance weight of
    docs(doc_id, text) as
    an exact integer sum of bucket scores over the doc's feature
    occurrences.  The score table broadcasts (n_buckets rows); the only
    shuffle is the doc_id re-agg, map-side combined."""
    spark = docs.sparkSession
    lt = F.broadcast(
        spark.createDataFrame(log_table, "bucket long, score_milli long")
    )
    g = docs.select(
        "doc_id", F.explode(_grams(F.col("text"))).alias("gram")
    ).select("doc_id", bucket_col(F.col("gram"), n_buckets).alias("bucket"))
    return (
        g.join(lt, "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("score_milli").alias("weight_milli"),
        )
    )
