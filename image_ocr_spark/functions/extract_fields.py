"""Receipt/invoice field extraction as Spark SQL text (SURVEY §2.8 F4-F20).

Every field is a per-row expression: one output row per input row, no
group-by-document, join or window.  The text is split into lines ONCE in
its own projection, and line-scoped semantics ("first line containing
keyword K with a positive amount") are higher-order array expressions
over that materialized column:

    get(filter(transform(lines, l -> CASE WHEN cond(l) THEN value(l) END), keep), 0)

Receipt items stop at the first total line that is not a 小計 line: an
``array_position`` over the per-line break flags bounds a ``slice`` of
the lines.  Document-scoped regexes (date/phone/tax/bank) are plain
expressions over the text.

Every expression is SQL text over column names, built from the
pycore.fields patterns and keyword lists (each quoted by
``normalize.sql_literal``) and applied with one ``selectExpr`` per
projection; the line parsers are module constants over the lambda
variable ``l``.  A lambda body has no common-subexpression elimination:
a value it reads twice is computed twice.  Spark evaluates the ``x`` of
``nullif(x, '')`` once at document scope (projected as a common
expression), but duplicates it inside a lambda, so a regex over a line
is bound once to a lambda variable with ``_let``.  Nested ``_let``
variables have distinct names: an inner lambda variable shadows an outer
one of the same name.

``receipt_fields`` / ``invoice_fields`` return the expressions by name so
that ``plans.results.assemble_results`` can project both field sets side
by side; ``extract_*_fields_df`` are the DataFrame entry points.

Every expression mirrors its pycore.fields twin; tests/test_fields_spark.py
asserts exact agreement row by row.
"""

from __future__ import annotations

from typing import Dict, Sequence

from pyspark.sql import DataFrame

from ..pycore import fields as pf
from .normalize import _extract_int, _ymd, era_base, normalize_amount, sql_literal

# ---------------------------------------------------------------------------
# SQL-text helpers
# ---------------------------------------------------------------------------


def _let(value: str, var: str, body: str) -> str:
    """``body`` with the lambda variable ``var`` bound to ``value``,
    evaluated once."""
    return f"get(transform(array({value}), {var} -> {body}), 0)"


def _group(expr: str, pattern: str, k: int) -> str:
    """Group ``k`` of the first match of ``pattern``; NULL when empty."""
    return _let(f"regexp_extract({expr}, {sql_literal(pattern)}, {k})", "g", "nullif(g, '')")


def _amount(expr: str, pattern: str) -> str:
    """normalize_amount of group 1 of the first match of ``pattern``."""
    return _let(
        f"regexp_extract({expr}, {sql_literal(pattern)}, 1)",
        "amt",
        normalize_amount("nullif(amt, '')"),
    )


def _any(expr: str, keywords: Sequence[str]) -> str:
    """``expr`` contains one of ``keywords``."""
    return "(%s)" % " OR ".join(f"contains({expr}, {sql_literal(kw)})" for kw in keywords)


def _dates(expr: str) -> list:
    """(validated ISO date, pattern) per date pattern, in western > era >
    compact priority, NO fullwidth fold (mirrors pycore.fields.extract_date
    / ref receipt.py:96-104,190-199)."""

    def ymd(pattern: str, year: str, m: int, d: int) -> tuple:
        value = "named_struct('y', %s, 'm', %s, 'd', %s)" % (
            year, _extract_int(expr, pattern, m), _extract_int(expr, pattern, d),
        )
        return _let(value, "ymd", _ymd("ymd.y", "ymd.m", "ymd.d")), pattern

    era_year = "%s + %s" % (
        era_base(f"regexp_extract({expr}, {sql_literal(pf.P_DATE_ERA)}, 1)"),
        _extract_int(expr, pf.P_DATE_ERA, 2),
    )
    return [
        ymd(pf.P_DATE_WESTERN, _extract_int(expr, pf.P_DATE_WESTERN, 1), 2, 3),
        ymd(pf.P_DATE_ERA, era_year, 3, 4),
        ymd(pf.P_DATE_COMPACT, _extract_int(expr, pf.P_DATE_COMPACT, 1), 2, 3),
    ]


_NOT_NULL = "x IS NOT NULL"


def _first(lines: str, value: str, keep: str) -> str:
    """``value`` of the first line ``l`` whose value ``x`` passes ``keep``;
    ``value`` is NULL on lines that do not qualify."""
    return f"get(filter(transform({lines}, l -> {value}), x -> {keep}), 0)"


def _quantity(digits: str) -> str:
    """pycore ``parse_quantity``: the INT of ``digits``, NULL past
    QTY_MAX_DIGITS digits (an ANSI ``CAST`` of a longer one can overflow
    and fail the job)."""
    return f"CASE WHEN length({digits}) <= {pf.QTY_MAX_DIGITS} THEN CAST({digits} AS INT) END"


def _items(lines: str, parse: str) -> str:
    return f"filter(transform({lines}, l -> {parse}), x -> {_NOT_NULL})"

# ---------------------------------------------------------------------------
# line parsers over the lambda variable ``l``
# ---------------------------------------------------------------------------

# f-string expressions cannot hold a backslash: regexes with one are here
_NL = sql_literal("\n")
_DATEISH = sql_literal("[0-9]{4}[年/\\-.]")
_PHONE_ONLY = sql_literal("^[0-9\\-()]+$")
_PHONE_CHARS = sql_literal("[^0-9\\-]")

# first money token on the line (ref receipt.py:263-269)
_FIRST_AMOUNT = _amount("l", pf.P_AMOUNT_ANY)

# l -> receipt item struct or NULL — exact mirror of pycore.parse_item_line
# (ref receipt.py:360-400), in three bindings: ``amts`` both amount
# matches; ``pn`` the price and the name before the matched amount (match
# start semantics) less the reduced-tax markers; ``nq`` the name and
# quantity once a ×N suffix (its digits bound to ``q``) is split off.
_EOL, _SYM = sql_literal(pf.P_AMOUNT_EOL), sql_literal(pf.P_AMOUNT_SYM)
_AMOUNTS = f"named_struct('eol', regexp_extract(l, {_EOL}, 1), 'sym', regexp_extract(l, {_SYM}, 1))"
_PRICE = normalize_amount("coalesce(nullif(amts.eol, ''), nullif(amts.sym, ''))")
_NAME0 = (
    f"trim(CASE WHEN amts.eol != '' THEN regexp_replace(l, {_EOL}, '')"
    f" ELSE regexp_extract(l, {sql_literal('^(.*?)' + pf.P_AMOUNT_SYM)}, 1) END)"
)
for _mk in pf.REDUCED_TAX_MARKERS:
    _NAME0 = f"trim(replace({_NAME0}, {sql_literal(_mk)}))"
_NAME_QTY = _let(
    f"regexp_extract(pn.name0, {sql_literal(pf.P_QTY)}, 1)",
    "q",
    f"named_struct('name', CASE WHEN q != '' THEN trim(regexp_extract(pn.name0,"
    f" {sql_literal('^(.*?)' + pf.P_QTY)}, 1)) ELSE pn.name0 END,"
    f" 'qty', CASE WHEN q != '' THEN {_quantity('q')} ELSE 1 END)",
)
_ITEM = (
    f"CASE WHEN nq.name != '' AND pn.price IS NOT NULL AND pn.price > 0"
    f" AND NOT {_any('nq.name', pf.ITEM_NAME_VETO)}"
    f" THEN named_struct('name', nq.name, 'price', pn.price, 'quantity', nq.qty,"
    f" 'reduced_tax', {_any('l', pf.REDUCED_TAX_MARKERS)}) END"
)
_RECEIPT_ITEM = _let(
    _AMOUNTS,
    "amts",
    _let(f"named_struct('price', {_PRICE}, 'name0', {_NAME0})", "pn", _let(_NAME_QTY, "nq", _ITEM)),
)

# F20 table-row parse (ref invoice.py:443-475); most lines are not table
# rows: one match test instead of four extracts
_ROW = sql_literal(pf.P_ITEM_ROW)
_ROW_AMOUNT = normalize_amount("nullif(cells.amount, '')")
_ROW_UNIT = normalize_amount("nullif(cells.unit, '')")
_INVOICE_ITEM = "CASE WHEN l RLIKE %s THEN %s END" % (
    _ROW,
    _let(
        "named_struct(%s)" % ", ".join(
            f"'{name}', regexp_extract(l, {_ROW}, {k})"
            for k, name in enumerate(("name", "qty", "unit", "amount"), 1)
        ),
        "cells",
        f"CASE WHEN cells.qty != '' AND trim(cells.name) != ''"
        f" AND NOT {_any('trim(cells.name)', pf.INVOICE_ITEM_VETO)}"
        f" AND {_ROW_AMOUNT} IS NOT NULL AND {_ROW_AMOUNT} != 0"
        f" THEN named_struct('name', trim(cells.name), 'quantity', {_quantity('cells.qty')},"
        f" 'unit_price', {_ROW_UNIT}, 'amount', {_ROW_AMOUNT}) END",
    ),
)

# F14: first company pattern on a non-addressee line (ref invoice.py:347-369)
_VENDOR = "CASE WHEN NOT %s THEN trim(coalesce(%s)) END" % (
    _any("l", ["御中", "様"]),
    ", ".join(_group("l", pattern, 1) for pattern in pf.P_COMPANY),
)

# F15: prefix before 御中/殿 + re-appended honorific (ref invoice.py:371-388)
_CUSTOMER = "coalesce(%s)" % ", ".join(
    f"CASE WHEN contains(l, '{h}') AND trim(element_at(split(l, '{h}'), 1)) != ''"
    f" THEN concat(trim(element_at(split(l, '{h}'), 1)), ' {h}') END"
    for h in ("御中", "殿")
)

# ---------------------------------------------------------------------------
# per-row field sets over a materialized lines column
# ---------------------------------------------------------------------------


def receipt_lines(text: str) -> str:
    """The receipt's lines, trimmed."""
    return f"transform(split({text}, {_NL}), l -> trim(l))"


def invoice_lines(text: str) -> str:
    return f"split({text}, {_NL})"


def receipt_fields(text: str, lines: str) -> Dict[str, str]:
    """Receipt field expressions by name (ref receipt.py:144-188).

    ``lines`` must name a column already holding ``receipt_lines(text)``:
    it is read eight times, and an inlined array expression would be
    rebuilt at every read."""
    dates = _dates(text)
    total_hit = _any("l", pf.TOTAL_KEYWORDS)
    # items stop at the first total line that is not a 小計 line (A6/W5)
    stop = f"array_position(transform({lines}, l -> {total_hit} AND NOT contains(l, '小計')), true)"
    n_items = f"CASE WHEN {stop} > 0 THEN {stop} - 1 ELSE size({lines}) END"
    # store name: first of top-5 lines passing the veto chain (P6/W2)
    store_ok = (
        f"length(l) >= 2 AND NOT {_any('l', pf.STORE_NAME_VETO)}"
        f" AND NOT (l RLIKE {_DATEISH})"
        f" AND NOT (regexp_replace(l, ' ', '') RLIKE {_PHONE_ONLY})"
    )
    # first >=10-digit phone (ref receipt.py:315-333)
    phone = f"regexp_extract({text}, {sql_literal(pf.P_PHONE)}, 1)"
    cleaned = f"regexp_replace({phone}, {_PHONE_CHARS}, '')"
    return {
        "date": "coalesce(%s)" % ", ".join(iso for iso, _ in dates),
        "date_raw": "coalesce(%s)" % ", ".join(
            f"CASE WHEN {iso} IS NOT NULL THEN regexp_extract({text}, {sql_literal(p)}, 0) END"
            for iso, p in dates
        ),
        "store_phone": (
            f"CASE WHEN {phone} != '' AND length(regexp_replace({cleaned}, '-', '')) >= 10"
            f" THEN {cleaned} END"
        ),
        # first payment keyword in priority order (ref receipt.py:421-429)
        "payment_method": "coalesce(%s)" % ", ".join(
            f"CASE WHEN contains(upper({text}), {sql_literal(kw)}) THEN {sql_literal(method)} END"
            for kw, method in pf.PAYMENT_KEYWORDS
        ),
        "tax_rate_8": _amount(text, pf.P_TAX8),
        "tax_rate_10": _amount(text, pf.P_TAX10),
        "total_amount": _first(lines, f"CASE WHEN {total_hit} THEN {_FIRST_AMOUNT} END", "x > 0"),
        "subtotal": _first(
            lines, f"CASE WHEN {_any('l', pf.SUBTOTAL_KEYWORDS)} THEN {_FIRST_AMOUNT} END", _NOT_NULL
        ),
        "store_name": _first(f"slice({lines}, 1, 5)", f"CASE WHEN {store_ok} THEN l END", _NOT_NULL),
        "items": _items(f"slice({lines}, 1, CAST({n_items} AS INT))", _RECEIPT_ITEM),
        "_no_content": f"length({text}) = 0",
    }


def invoice_fields(text: str, lines: str) -> Dict[str, str]:
    """Invoice field expressions by name (ref invoice.py:164-217); ``lines``
    names a column holding ``invoice_lines(text)``."""
    # western > era only: no compact YYYYMMDD next to a keyword
    # (pycore.fields.extract_date_near_keywords, ref invoice.py:219-236)
    near_date = "coalesce(%s)" % ", ".join(iso for iso, _ in _dates("l")[:2])

    def near(keywords: Sequence[str]) -> str:
        return _first(lines, f"CASE WHEN {_any('l', keywords)} THEN {near_date} END", _NOT_NULL)

    return {
        # priority regex chain (ref invoice.py:258-272)
        "invoice_number": "coalesce(%s)" % ", ".join(
            _group(text, pattern, 1) for pattern in pf.P_INVOICE_NO
        ),
        "subtotal": _amount(text, pf.P_SUBTOTAL_KW),
        "tax_amount": _amount(text, pf.P_TAXAMT_KW),
        "bank_name": _group(text, pf.P_BANK, 1),
        "branch_name": _group(text, pf.P_BRANCH, 1),
        "account_type": _group(text, pf.P_ACCT_TYPE, 1),
        "account_number": "coalesce(%s, %s)" % (
            _group(text, pf.P_ACCT_NO, 1), _group(text, pf.P_ACCT_NO, 2),
        ),
        "invoice_date": near(pf.INVOICE_DATE_KEYWORDS),
        "due_date": near(pf.DUE_DATE_KEYWORDS),
        "total_amount": _first(
            lines,
            f"CASE WHEN {_any('l', pf.INVOICE_TOTAL_KEYWORDS)} THEN {_FIRST_AMOUNT} END",
            "x > 0",
        ),
        "vendor_name": _first(lines, _VENDOR, "x != ''"),
        "customer_name": _first(lines, _CUSTOMER, _NOT_NULL),
        "items": _items(lines, _INVOICE_ITEM),
        "_no_content": f"length({text}) = 0",
    }


def _warnings(pairs) -> str:
    """Array of the messages whose condition holds, in order."""
    return "filter(array(%s), w -> w IS NOT NULL)" % ", ".join(
        f"CASE WHEN {cond} THEN {sql_literal(msg)} END" for cond, msg in pairs
    )


def receipt_warnings(prefix: str) -> str:
    """Mirror of pycore.fields.receipt_warnings over the receipt fields,
    each in the column ``prefix`` + its name (no_content = empty text)."""
    c = lambda name: f"`{prefix}{name}`"  # noqa: E731
    return _warnings([
        (f"{c('date')} IS NULL", "日付を抽出できませんでした"),
        (f"{c('total_amount')} IS NULL", "合計金額を抽出できませんでした"),
        (f"{c('store_name')} IS NULL", "店舗名を抽出できませんでした"),
        (c("_no_content"), "本文を抽出できませんでした"),
        (
            f"exists({c('items')}, i -> i.reduced_tax)"
            f" AND {c('tax_rate_8')} IS NULL AND {c('tax_rate_10')} IS NULL",
            "軽減税率対象品目がありますが、税額詳細が見つかりません",
        ),
    ])


def invoice_warnings(prefix: str) -> str:
    """Mirror of pycore.fields.invoice_warnings, as receipt_warnings."""
    c = lambda name: f"`{prefix}{name}`"  # noqa: E731
    bank, account = c("bank_name"), c("account_number")
    return _warnings([
        (f"{c('invoice_date')} IS NULL", "請求日を抽出できませんでした"),
        (f"{c('total_amount')} IS NULL", "請求総額を抽出できませんでした"),
        (f"{c('vendor_name')} IS NULL", "発行元名を抽出できませんでした"),
        (f"{bank} IS NULL AND {account} IS NULL", "振込先口座情報を抽出できませんでした"),
        (
            f"({bank} IS NOT NULL OR {account} IS NOT NULL) AND {account} IS NULL",
            "口座番号を抽出できませんでした",
        ),
        (c("_no_content"), "本文を抽出できませんでした"),
    ])


# ---------------------------------------------------------------------------
# DataFrame-level extractors
# ---------------------------------------------------------------------------


def _extract_df(df, keys, lines_of, fields_of, warnings_of) -> DataFrame:
    keys = [f"`{k}`" for k in keys]
    fields = fields_of("_text", "_lines")
    return (
        df.selectExpr(*keys, "text AS _text", f"{lines_of('text')} AS _lines")
        .selectExpr(*keys, *[f"{sql} AS `{name}`" for name, sql in fields.items()])
        .selectExpr(
            *keys,
            *[f"`{name}`" for name in fields if name != "_no_content"],
            f"{warnings_of('')} AS warnings",
        )
    )


def extract_receipt_fields_df(df: DataFrame, keys: Sequence[str] = ("url",)) -> DataFrame:
    """(keys, text) -> one row per input row: keys, receipt fields, items
    array and warnings.  Mirrors pycore.fields.extract_receipt_fields."""
    return _extract_df(df, keys, receipt_lines, receipt_fields, receipt_warnings)


def extract_invoice_fields_df(df: DataFrame, keys: Sequence[str] = ("url",)) -> DataFrame:
    """(keys, text) -> one row per input row: keys, invoice fields, items
    array and warnings.  Mirrors pycore.fields.extract_invoice_fields."""
    return _extract_df(df, keys, invoice_lines, invoice_fields, invoice_warnings)
