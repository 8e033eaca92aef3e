"""Normalization as Spark SQL text (JVM-side, codegen'd).

Each builder maps a SQL expression to a SQL expression that mirrors its
pycore twin bit-for-bit (golden pairs in tests/test_normalize_golden.py,
seeded fuzz in tests/test_fuzz_parity.py).  Callers apply the text with
``selectExpr`` or ``F.expr``; every pycore literal goes through
``sql_literal``.  A builder repeats its argument's text wherever the rule
reads it more than once, so callers pass a column name, not a large
expression: at document scope whole-stage codegen evaluates a repeated
subexpression once, inside a lambda body it does not (see
functions/extract_fields.py ``_let``).  All hot-path normalization stays
inside whole-stage codegen — no Python UDFs here (SURVEY.md §2.8 F1-F11).
"""

from __future__ import annotations

from ..pycore.normalize import (
    AMOUNT_CONFUSION_DST,
    AMOUNT_CONFUSION_SRC,
    COMPANY_CORRECTIONS,
    ERA_BASE,
    FULLWIDTH_ALNUM,
    FULLWIDTH_DIGITS,
    HALFWIDTH_ALNUM,
    HALFWIDTH_DIGITS,
    P_DATE_COMPACT_FULL,
    P_DATE_ERA_FULL,
    P_DATE_WESTERN_FULL,
)


def sql_literal(s: str) -> str:
    """``s`` as a Spark SQL string literal (the parser unescapes ``\\``
    and ``\'``; every other character stands for itself)."""
    return "'%s'" % s.replace("\\", "\\\\").replace("'", "\\'")


def fold_digits(expr: str) -> str:
    """F1 (digits): fullwidth digits -> ASCII (ref normalizer.py:100-105)."""
    return "translate(%s, %s, %s)" % (
        expr, sql_literal(FULLWIDTH_DIGITS), sql_literal(HALFWIDTH_DIGITS),
    )


def fold_alnum_upper(expr: str) -> str:
    """F1+F2: fullwidth alnum -> ASCII, uppercase (ref classifier.py:209-216)."""
    return "upper(translate(%s, %s, %s))" % (
        expr, sql_literal(FULLWIDTH_ALNUM), sql_literal(HALFWIDTH_ALNUM),
    )


def fix_ocr_amount(expr: str) -> str:
    """F9: OCR confusion map in amount context (ref normalizer.py:261-288)."""
    return "translate(%s, %s, %s)" % (
        expr, sql_literal(AMOUNT_CONFUSION_SRC), sql_literal(AMOUNT_CONFUSION_DST),
    )


def normalize_amount(expr: str) -> str:
    """F8: amount string -> bigint or NULL (ref normalizer.py:141-173).

    Digit-extraction parse: fold fullwidth, strip every non-digit, cast.
    >15 digits -> NULL (bigint overflow guard; mirrored in pycore).
    """
    digits = f"regexp_replace({fold_digits(expr)}, '[^0-9]', '')"
    return (
        f"CASE WHEN length({digits}) > 0 AND length({digits}) <= 15"
        f" THEN CAST({digits} AS BIGINT) END"
    )


def normalize_amount_ocr(expr: str) -> str:
    """F8+F9 composed (ref normalizer.py:343-348)."""
    return normalize_amount(fix_ocr_amount(expr))


def _ymd(y: str, m: str, d: str) -> str:
    """'YYYY-MM-DD' of the int expressions ``y``, ``m``, ``d``, or NULL
    unless they form a calendar date (leap years included) in 1900..2100
    (ref normalizer.py:107-113)."""
    y, m, d = f"({y})", f"({m})", f"({d})"
    days = (
        f"CASE WHEN {m} IN (1, 3, 5, 7, 8, 10, 12) THEN 31"
        f" WHEN {m} IN (4, 6, 9, 11) THEN 30"
        f" WHEN {m} = 2 AND {y} % 4 = 0 AND ({y} % 100 != 0 OR {y} % 400 = 0) THEN 29"
        " ELSE 28 END"
    )
    return (
        f"CASE WHEN {y} >= 1900 AND {y} <= 2100 AND {m} >= 1 AND {m} <= 12"
        f" AND {d} >= 1 AND {d} <= {days}"
        f" THEN format_string('%04d-%02d-%02d', {y}, {m}, {d}) END"
    )


_ERA_MAP = "map(%s)" % ", ".join(
    f"{sql_literal(era)}, {base}" for era, base in ERA_BASE.items()
)


def era_base(expr: str) -> str:
    """J5: era name -> base year via a map literal (ref normalizer.py:29-45)."""
    return f"element_at({_ERA_MAP}, {expr})"


def _extract_int(expr: str, pattern: str, group: int) -> str:
    """Digit-only capture group -> int; NULL when the group is empty."""
    return f"try_cast(regexp_extract({expr}, {sql_literal(pattern)}, {group}) AS INT)"


def normalize_date(expr: str) -> str:
    """F4+F5+F6: date string -> 'YYYY-MM-DD' or NULL.

    Pattern priority western > era > compact via coalesce short-circuit
    (SURVEY W4), mirroring pycore.normalize.normalize_date.
    """
    s = fold_digits(expr)

    def ints(pattern: str, *groups: int) -> list:
        return [_extract_int(s, pattern, g) for g in groups]

    era = sql_literal(P_DATE_ERA_FULL)
    era_year_raw = f"regexp_extract({s}, {era}, 2)"
    era_year = (
        f"CASE WHEN {era_year_raw} = '元' THEN 1"
        f" ELSE CAST(CASE WHEN {era_year_raw} != '' THEN {era_year_raw} END AS INT) END"
    )
    return "coalesce(%s, %s, %s)" % (
        _ymd(*ints(P_DATE_WESTERN_FULL, 1, 2, 3)),
        _ymd(
            f"{era_base(f'regexp_extract({s}, {era}, 1)')} + {era_year}",
            *ints(P_DATE_ERA_FULL, 3, 4),
        ),
        _ymd(*ints(P_DATE_COMPACT_FULL, 1, 2, 3)),
    )


# Characters Python's str.strip() removes that can still be present when the
# final strip runs (controls \x00-\x1f except \t\n are already gone, \r has
# become \n): ASCII space/tab/newline plus the Unicode space set.  trim
# strips only ASCII spaces; btrim with this explicit set is bit-identical
# with pycore.normalize.clean_text's .strip() AND O(boundary) — an anchored
# regex alternative costs a whole-string scan per document (measured ~10%
# of flagship wall time).
_PY_STRIP_CHARS = (
    " \t\n"
    + "".join(chr(c) for c in (0x85, 0xA0, 0x1680))
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "".join(chr(c) for c in (0x2028, 0x2029, 0x202F, 0x205F, 0x3000))
)


# F11's regexp_replace steps, in pycore.normalize.clean_text's order.
# (?d) = Java UNIX_LINES: ^/$ anchor only at '\n', matching Python's
# multiline semantics — without it Java also anchors at NEL/LS/PS
# (\x85, \u2028, \u2029), which the strip set above contains.
_CLEAN_STEPS = (
    ("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]", ""),
    ("\r\n", "\n"),
    ("\r", "\n"),
    ("[ \t]+", " "),
    ("\n{3,}", "\n\n"),
    ("(?dm)^[ \t]+|[ \t]+$", ""),
)


def clean_text(expr: str) -> str:
    """F11: the byte-identity canonicalization (ref normalizer.py:294-319).

    Same step order as pycore.normalize.clean_text.
    """
    for pattern, repl in _CLEAN_STEPS:
        expr = "regexp_replace(%s, %s, %s)" % (expr, sql_literal(pattern), sql_literal(repl))
    return "btrim(%s, %s)" % (expr, sql_literal(_PY_STRIP_CHARS))


def fix_company_name(expr: str) -> str:
    """F10: company-name OCR corrections (ref normalizer.py:236-259)."""
    for wrong, right in COMPANY_CORRECTIONS.items():
        expr = f"replace({expr}, {sql_literal(wrong)}, {sql_literal(right)})"
    return expr
