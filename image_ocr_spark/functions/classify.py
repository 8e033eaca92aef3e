"""Keyword-weight document classification as native Spark SQL.

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
is in proportion to the table a row is filtered against and to its hits.

ASCII gate: one test per row, ``length(t) = octet_length(t)``, tells
pure-ASCII text apart.  Such a row folds as ``upper(t)`` and is filtered
against the table's pure-ASCII keywords only (RECEIPT, TEL, INVOICE),
not all 57; every other row takes the full fold and table.  This is
exact: the fullwidth->ASCII ``translate`` is the identity on ASCII text,
``upper`` of ASCII text is ASCII, and an ASCII string contains no
substring that holds a non-ASCII character.  80% of the perfbench pages
are pure ASCII; on them the gate measured pages_extract job_s 2.04 ->
1.81 s and cpu_s 5.48 -> 4.81 s (4-core host, 3 alternating pairs).

The three projections are SQL text, assembled once at import from the
pycore constants (see operators/blocks.py for the Py4J cost of Column
trees); each is applied with one ``selectExpr``.
"""

from __future__ import annotations

from typing import List, Tuple

from ..pycore.classify import (
    INVOICE_KEYWORDS_W10,
    INVOICE_NEGATIVE_W10,
    RECEIPT_KEYWORDS_W10,
    RECEIPT_NEGATIVE_W10,
    THRESHOLD_DEN,
    THRESHOLD_NUM,
)
from .normalize import fold_alnum_upper, sql_literal

_DICTS = (RECEIPT_KEYWORDS_W10, INVOICE_KEYWORDS_W10, RECEIPT_NEGATIVE_W10, INVOICE_NEGATIVE_W10)


def _keyword_table() -> List[Tuple[str, int, int, int, int]]:
    """(KEYWORD, rp, ip, rn, in) over the union of the four dictionaries:
    receipt/invoice positive and negative w10 weights, 0 where absent."""
    union = dict.fromkeys(k for d in _DICTS for k in d)
    return [(k.upper(), *(d.get(k, 0) for d in _DICTS)) for k in union]


def _table_sql(rows) -> str:
    return "array(%s)" % ", ".join(
        "named_struct('kw', %s, 'rp', %d, 'ip', %d, 'rn', %d, 'ineg', %d)"
        % (sql_literal(kw), *weights)
        for kw, *weights in rows
    )


_TABLE = _keyword_table()
_ASCII_TABLE = [row for row in _TABLE if row[0].isascii()]


def _fold_sql(text: str) -> Tuple[str, str]:
    """The ASCII gate and the fold (normalize.fold_alnum_upper) of the
    column ``text``; the fold skips ``translate`` on ASCII rows."""
    gate = f"length({text}) = octet_length({text})"
    fold = f"CASE WHEN {gate} THEN upper({text}) ELSE {fold_alnum_upper(text)} END"
    return f"{gate} AS _ascii", f"{fold} AS _folded"


# Per keyword hit: r += rp*(10+3*(cnt-1)) - 5*rn, and the same with ip/ineg
# for i.  The bonus is bound in its own transform: a lambda body has no
# common-subexpression elimination, and the merge reads it twice.
_SCORES = f"""aggregate(
    transform(
        filter(IF(_ascii, {_table_sql(_ASCII_TABLE)}, {_table_sql(_TABLE)}),
               x -> contains(_folded, x.kw)),
        x -> named_struct('rp', x.rp, 'ip', x.ip, 'rn', x.rn, 'ineg', x.ineg,
            'b', 10 + 3 * ((length(_folded) - length(replace(_folded, x.kw)))
                           div length(x.kw) - 1))),
    named_struct('r', 0L, 'i', 0L),
    (acc, x) -> named_struct('r', acc.r + x.rp * x.b - 5 * x.rn,
                             'i', acc.i + x.ip * x.b - 5 * x.ineg)) AS _scores"""

# each score floored at 0 (pycore.classify.keyword_score_centi), then the
# argmax and the UNKNOWN threshold of pycore.classify.classify_doc
_R, _I = "greatest(0L, _scores.r)", "greatest(0L, _scores.i)"
_RESULT = (
    "*",
    f"{_R} AS receipt_score_centi",
    f"{_I} AS invoice_score_centi",
    f"""CASE WHEN {_R} + {_I} = 0
              OR {THRESHOLD_DEN} * greatest({_R}, {_I}) < {THRESHOLD_NUM} * ({_R} + {_I})
         THEN 'unknown' WHEN {_R} > {_I} THEN 'receipt' ELSE 'invoice' END AS doc_type""",
)


def classify_df(df, text_col: str = "text"):
    """Append receipt_score_centi, invoice_score_centi and doc_type.

    ``_ascii``/``_folded`` are their own projection: the fold subtree must
    not be replicated into the keyword lambdas, and the gate is tested
    once per row."""
    return (
        df.selectExpr("*", *_fold_sql(f"`{text_col}`"))
        .selectExpr("*", _SCORES)
        .selectExpr(*_RESULT)
        .drop("_ascii", "_folded", "_scores")
    )
