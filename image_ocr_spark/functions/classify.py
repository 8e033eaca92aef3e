"""Keyword-weight document classification as native Spark SQL columns.

Mirror of pycore.classify (integer centi-unit scoring, ref
classifier.py:218-245) in one keyword pass per document: ``filter`` one
literal table -- the union of the four dictionaries, each keyword with
its receipt/invoice positive and negative weights, 0 where a dictionary
lacks it -- to the keywords the folded text contains (most pages contain
none), then one ``aggregate`` over those hits sums both scores.  A hit is
counted with the substring-length identity (len(t) - len(replace(t, kw)))
/ len(kw), i.e. Python's non-overlapping ``str.count``; an absent keyword
adds 0 everywhere, so overlapping keywords (合計/合計金額) stay exact.
The higher-order functions run interpreted (codegen fallback): the work
is in proportion to the hits, not to the dictionary.
"""

from __future__ import annotations

from typing import List, Tuple

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

_DICTS = (RECEIPT_KEYWORDS_W10, INVOICE_KEYWORDS_W10, RECEIPT_NEGATIVE_W10, INVOICE_NEGATIVE_W10)


def _keyword_table() -> List[Tuple[str, int, int, int, int]]:
    """(KEYWORD, rp, ip, rn, in) over the union of the four dictionaries:
    receipt/invoice positive and negative w10 weights, 0 where absent."""
    union = dict.fromkeys(k for d in _DICTS for k in d)
    return [(k.upper(), *(d.get(k, 0) for d in _DICTS)) for k in union]


def classify_df(df, text_col: str = "text"):
    """Append receipt_score_centi, invoice_score_centi and doc_type.

    Per keyword hit: r += rp*(10+3*(cnt-1)) - 5*rn, and the same with
    ip/in for i; each score is floored at 0
    (pycore.classify.keyword_score_centi).  ``_folded`` is its own
    projection: the fold subtree must not be replicated into the lambdas.
    """
    # one SQL literal: built from F.lit/alias/struct Columns it costs ~600
    # Py4J calls, about 0.5 s per plan on a 4-core host
    table = F.expr("array(%s)" % ", ".join(
        "named_struct('kw', '%s', 'rp', %d, 'ip', %d, 'rn', %d, 'in', %d)" % row
        for row in _keyword_table()
    ))
    folded = F.col("_folded")
    hits = F.filter(table, lambda x: F.contains(folded, x["kw"]))

    def with_bonus(x: Column) -> Column:
        # its own transform: a lambda body has no common-subexpression
        # elimination, and ``step`` reads the bonus twice
        cnt = (F.length(folded) - F.length(F.replace(folded, x["kw"]))) / F.length(x["kw"])
        return x.withField("b", 10 + 3 * (cnt.cast("long") - 1))

    def step(acc: Column, x: Column) -> Column:
        return F.struct(
            (acc["r"] + x["rp"] * x["b"] - 5 * x["rn"]).alias("r"),
            (acc["i"] + x["ip"] * x["b"] - 5 * x["in"]).alias("i"),
        )

    zero = F.lit(0).cast("long")
    acc0 = F.struct(zero.alias("r"), zero.alias("i"))
    scores = F.aggregate(F.transform(hits, with_bonus), acc0, step)
    rc, ic = F.greatest(zero, F.col("_scores.r")), F.greatest(zero, F.col("_scores.i"))
    total = rc + ic
    top = F.when(rc > ic, rc).otherwise(ic)
    winner = F.when(rc > ic, F.lit("receipt")).otherwise(F.lit("invoice"))
    doc_type = F.when(
        (total == 0) | (THRESHOLD_DEN * top < THRESHOLD_NUM * total),
        F.lit("unknown"),
    ).otherwise(winner)
    return (
        df.withColumn("_folded", fold_alnum_upper(F.col(text_col)))
        .withColumn("_scores", scores)
        .withColumns(
            {"receipt_score_centi": rc, "invoice_score_centi": ic, "doc_type": doc_type}
        )
        .drop("_folded", "_scores")
    )
