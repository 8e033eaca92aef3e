"""Distributed BPE vocabulary learning (tokenizer training over a corpus).

Spark twin of pycore/bpe.py (the parity-tested single source of truth).
The reference repo tokenizes with fixed engines (tokenizer_manager.py);
training the subword vocabulary itself is the upstream step every LLM
data pipeline runs over exactly this kind of corpus, so it joins the
training-data battery as a first-class operator.

Scale shape (the part that matters at 100 TB):

- ONE corpus-sized shuffle total: the whitespace word count.  Map-side
  combine collapses hot words per partition, and Zipf bounds the distinct
  table (~10^8-10^9 rows for a web corpus) regardless of corpus bytes.
  This is the same working-set reduction SentencePiece/HF trainers use.
- Each merge round is an aggregation over the vocab-sized table (pairs
  built by array-level slice+zip, NOT per-element lambdas over a derived
  array — those re-evaluate the array per element) followed by a
  TakeOrdered(1) — one row to the driver per round, the same control
  plane as kmeans centroid pulls.
- The rewrite is a per-row literal ``F.replace`` — no shuffle, no UDF.
  The plan grows by one replace node per round (linear, unlike the
  3^rounds self-join growth dedup_components had to checkpoint away);
  the persisted base is released in ``finally``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

MERGE_SCHEMA = T.StructType(
    [
        T.StructField("merge_round", T.IntegerType(), False),
        T.StructField("sym_left", T.StringType(), False),
        T.StructField("sym_right", T.StringType(), False),
        T.StructField("merged", T.StringType(), False),
        T.StructField("pair_count", T.LongType(), False),
    ]
)


def bpe_merges(docs: DataFrame, rounds: int = 8) -> DataFrame:
    """The learned merge table over docs(text): ``rounds`` rows of (merge_round, sym_left,
    sym_right, merged, pair_count), most-frequent-pair-first by round.
    Ties break (count DESC, left ASC, right ASC) — identical to
    pycore.bpe.learn_bpe and the DuckDB oracle's ORDER BY ... LIMIT 1."""
    spark = docs.sparkSession
    t = F.coalesce(F.col("text"), F.lit(""))
    words = docs.select(
        F.explode(F.split(t, "[ \n\t\r]+")).alias("w")
    ).filter(F.col("w") != "")
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    # " a  b  c ": two-space joiner + one-space pad; see pycore/bpe.py for
    # why this makes merge == literal replace in all three engines.
    rep = F.concat(
        F.lit(" "), F.rtrim(F.regexp_replace("w", "(.)", "$1  ")), F.lit(" ")
    )
    base = wc.select(rep.alias("rep"), "cnt").persist()
    merges: list = []
    try:
        cur = base
        for rnd in range(1, rounds + 1):
            syms = cur.select(
                F.split(F.trim(F.col("rep")), "  ").alias("s"), "cnt"
            )
            npairs = F.greatest(F.size("s") - 1, F.lit(0))
            z = F.arrays_zip(
                F.slice("s", 1, npairs).alias("l"),
                F.slice("s", 2, npairs).alias("r"),
            )
            best = (
                syms.select(F.explode(z).alias("p"), "cnt")
                .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                .agg(F.sum("cnt").alias("c"))
                .orderBy(F.col("c").desc(), "l", "r")
                .limit(1)
                .collect()
            )
            if not best:
                break
            l, r, c = best[0].l, best[0].r, int(best[0].c)
            merges.append((rnd, l, r, l + r, c))
            cur = cur.select(
                F.replace(
                    F.col("rep"), F.lit(f" {l}  {r} "), F.lit(f" {l}{r} ")
                ).alias("rep"),
                "cnt",
            )
    finally:
        base.unpersist()
    return spark.createDataFrame(merges, MERGE_SCHEMA)
