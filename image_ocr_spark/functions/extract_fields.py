"""Receipt/invoice field extraction as native Spark SQL (SURVEY §2.8 F4-F20).

Every field is a per-row expression: one output row per input row, no
group-by-document, join or window.  The text is split into lines ONCE in
its own projection, and line-scoped semantics ("first line containing
keyword K with a positive amount") are higher-order array expressions
over that materialized column:

    get(filter(transform(lines, l -> when(cond(l), value(l))), keep), 0)

Receipt items stop at the first total line that is not a 小計 line: an
``array_position`` over the per-line break flags bounds a ``slice`` of
the lines.  Document-scoped regexes (date/phone/tax/bank) are plain
column expressions over the text.

``receipt_fields`` / ``invoice_fields`` return the expressions by name so
that ``plans.results.assemble_results`` can project both field sets side
by side; ``extract_*_fields_df`` are the DataFrame entry points.

Every expression mirrors its pycore.fields twin; tests/test_fields_spark.py
asserts exact agreement row by row.
"""

from __future__ import annotations

from typing import Callable, Dict, List, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..pycore import fields as pf
from .normalize import _extract_int, _fmt_ymd, era_base, normalize_amount

# ---------------------------------------------------------------------------
# document-scoped scalar builders
# ---------------------------------------------------------------------------
#
# Several builders also run per line inside ``transform`` lambdas, whose
# bodies are evaluated without codegen's common-subexpression elimination:
# a subexpression read twice is computed twice.  ``_let`` binds a value to
# a lambda variable so each regex over a line runs once.


def _let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(v)`` with ``v`` = ``value`` evaluated once."""
    return F.get(F.transform(F.array(value), body), 0)


def _group(col: Column, pattern: str, k: int = 1) -> Column:
    """Group ``k`` of the first match of ``pattern``; NULL when empty."""
    return _let(F.regexp_extract(col, pattern, k), lambda g: F.when(g != "", g))


def _amount(col: Column, pattern: str) -> Column:
    """normalize_amount of group 1 of the first match of ``pattern``."""
    return _let(
        F.regexp_extract(col, pattern, 1),
        lambda g: normalize_amount(F.when(g != "", g)),
    )


def _valid_date(y: Column, m: Column, d: Column) -> Column:
    ymd = F.struct(y.alias("y"), m.alias("m"), d.alias("d"))
    return _let(ymd, lambda v: _fmt_ymd(v["y"], v["m"], v["d"]))


def _dates(col: Column) -> List[tuple]:
    """(validated ISO date, pattern) per date pattern, in western > era >
    compact priority, NO fullwidth fold (mirrors pycore.fields.extract_date
    / ref receipt.py:96-104,190-199)."""

    def ymd(pattern: str, year: Column, m: int, d: int) -> tuple:
        month, day = _extract_int(col, pattern, m), _extract_int(col, pattern, d)
        return _valid_date(year, month, day), pattern

    era_year = era_base(F.regexp_extract(col, pf.P_DATE_ERA, 1)) + _extract_int(
        col, pf.P_DATE_ERA, 2
    )
    return [
        ymd(pf.P_DATE_WESTERN, _extract_int(col, pf.P_DATE_WESTERN, 1), 2, 3),
        ymd(pf.P_DATE_ERA, era_year, 3, 4),
        ymd(pf.P_DATE_COMPACT, _extract_int(col, pf.P_DATE_COMPACT, 1), 2, 3),
    ]


def first_amount(col: Column) -> Column:
    """First money token (ref receipt.py:263-269)."""
    return _amount(col, pf.P_AMOUNT_ANY)


def phone_in_text(col: Column) -> Column:
    """First >=10-digit phone (ref receipt.py:315-333)."""
    g = F.regexp_extract(col, pf.P_PHONE, 1)
    cleaned = F.regexp_replace(g, "[^0-9\\-]", "")
    digits = F.regexp_replace(cleaned, "-", "")
    return F.when((g != "") & (F.length(digits) >= 10), cleaned)


def payment_method(col: Column) -> Column:
    """First payment keyword in priority order (ref receipt.py:421-429)."""
    upper = F.upper(col)
    branches = [
        F.when(F.contains(upper, F.lit(kw)), F.lit(method))
        for kw, method in pf.PAYMENT_KEYWORDS
    ]
    return F.coalesce(*branches)


def invoice_number(col: Column) -> Column:
    """Priority regex chain (ref invoice.py:258-272)."""
    return F.coalesce(*[_group(col, pat) for pat in pf.P_INVOICE_NO])


def bank_columns(col: Column) -> Dict[str, Column]:
    return {
        "bank_name": _group(col, pf.P_BANK),
        "branch_name": _group(col, pf.P_BRANCH),
        "account_type": _group(col, pf.P_ACCT_TYPE),
        "account_number": F.coalesce(
            _group(col, pf.P_ACCT_NO, 1), _group(col, pf.P_ACCT_NO, 2)
        ),
    }


def _contains_any(col: Column, keywords: Sequence[str]) -> Column:
    cond = F.lit(False)
    for kw in keywords:
        cond = cond | F.contains(col, F.lit(kw))
    return cond


# ---------------------------------------------------------------------------
# line-scoped builders (evaluated per line inside a lambda)
# ---------------------------------------------------------------------------


def parse_item_line(line: Column) -> Column:
    """line -> item struct or NULL — exact mirror of pycore.parse_item_line
    (ref receipt.py:360-400)."""

    def from_amounts(a: Column) -> Column:
        eol, sym = a["eol"], a["sym"]
        price = normalize_amount(F.when(eol != "", eol).otherwise(F.when(sym != "", sym)))
        # name = prefix before the matched amount (match start semantics)
        name_eol = F.regexp_replace(line, pf.P_AMOUNT_EOL, "")
        name_sym = F.regexp_extract(line, "^(.*?)" + pf.P_AMOUNT_SYM, 1)
        name0 = F.trim(F.when(eol != "", name_eol).otherwise(name_sym))
        for mk in pf.REDUCED_TAX_MARKERS:
            name0 = F.trim(F.replace(name0, F.lit(mk)))
        return _let(F.struct(price.alias("price"), name0.alias("name0")), from_name0)

    def from_name0(v: Column) -> Column:
        name0 = v["name0"]
        qty_g = F.regexp_extract(name0, pf.P_QTY, 1)
        qty = F.when(qty_g != "", qty_g.cast("int")).otherwise(F.lit(1))
        name = F.when(
            qty_g != "", F.trim(F.regexp_extract(name0, "^(.*?)" + pf.P_QTY, 1))
        ).otherwise(name0)
        return _let(F.struct(name.alias("name"), qty.alias("qty")), lambda n: item(v["price"], n))

    def item(price: Column, n: Column) -> Column:
        name = n["name"]
        veto = _contains_any(name, pf.ITEM_NAME_VETO)
        ok = (name != "") & price.isNotNull() & (price > 0) & ~veto
        return F.when(
            ok,
            F.struct(
                name.alias("name"),
                price.alias("price"),
                n["qty"].alias("quantity"),
                _contains_any(line, pf.REDUCED_TAX_MARKERS).alias("reduced_tax"),
            ),
        )

    amounts = F.struct(
        F.regexp_extract(line, pf.P_AMOUNT_EOL, 1).alias("eol"),
        F.regexp_extract(line, pf.P_AMOUNT_SYM, 1).alias("sym"),
    )
    return _let(amounts, from_amounts)


def vendor_on_line(line: Column) -> Column:
    """F14: first company pattern on a non-addressee line (ref
    invoice.py:347-369)."""
    company = F.coalesce(*[_group(line, pat) for pat in pf.P_COMPANY])
    veto = F.contains(line, F.lit("御中")) | F.contains(line, F.lit("様"))
    return F.when(~veto, F.trim(company))


def customer_on_line(line: Column) -> Column:
    """F15: prefix before 御中/殿 + re-appended honorific (ref
    invoice.py:371-388)."""
    head_g = F.trim(F.element_at(F.split(line, "御中"), 1))
    head_d = F.trim(F.element_at(F.split(line, "殿"), 1))
    return F.coalesce(
        F.when(F.contains(line, F.lit("御中")) & (head_g != ""),
               F.concat(head_g, F.lit(" 御中"))),
        F.when(F.contains(line, F.lit("殿")) & (head_d != ""),
               F.concat(head_d, F.lit(" 殿"))),
    )


def parse_invoice_item_line(line: Column) -> Column:
    """F20 table-row parse (ref invoice.py:443-475)."""

    def item(g: Column) -> Column:
        name = F.trim(g["name"])
        amount = normalize_amount(F.when(g["amount"] != "", g["amount"]))
        ok = (
            (g["qty"] != "")
            & (name != "")
            & ~_contains_any(name, pf.INVOICE_ITEM_VETO)
            & amount.isNotNull()
            & (amount != 0)
        )
        return F.when(
            ok,
            F.struct(
                name.alias("name"),
                g["qty"].cast("int").alias("quantity"),
                normalize_amount(F.when(g["unit"] != "", g["unit"])).alias("unit_price"),
                amount.alias("amount"),
            ),
        )

    groups = F.struct(
        *[
            F.regexp_extract(line, pf.P_ITEM_ROW, k).alias(n)
            for k, n in enumerate(("name", "qty", "unit", "amount"), 1)
        ]
    )
    # most lines are not table rows: one match test instead of four extracts
    return F.when(line.rlike(pf.P_ITEM_ROW), _let(groups, item))


# ---------------------------------------------------------------------------
# per-row field sets over a materialized lines column
# ---------------------------------------------------------------------------


def _first(
    lines: Column, value: Callable, keep: Callable = lambda v: v.isNotNull()
) -> Column:
    """value(l) of the first line whose value passes ``keep``; ``value``
    returns NULL on lines that do not qualify."""
    return F.get(F.filter(F.transform(lines, value), keep), 0)


def _items(lines: Column, parse: Callable) -> Column:
    return F.filter(F.transform(lines, parse), lambda i: i.isNotNull())


def receipt_lines(text: Column) -> Column:
    """The receipt's lines, trimmed.  A lambda, not ``F.trim`` itself:
    ``transform`` passes the element index as a second argument, which
    trim would take as its trim set."""
    return F.transform(F.split(text, "\n"), lambda l: F.trim(l))


def invoice_lines(text: Column) -> Column:
    return F.split(text, "\n")


def receipt_fields(text: Column, lines: Column) -> Dict[str, Column]:
    """Receipt field expressions by name (ref receipt.py:144-188).

    ``lines`` must reference a column already holding
    ``receipt_lines(text)``: it is read eight times, and an inlined array
    expression would be rebuilt at every read."""
    dates = _dates(text)
    total_hit = lambda l: _contains_any(l, pf.TOTAL_KEYWORDS)  # noqa: E731
    sub_hit = lambda l: _contains_any(l, pf.SUBTOTAL_KEYWORDS)  # noqa: E731
    # items stop at the first total line that is not a 小計 line (A6/W5)
    is_break = lambda l: total_hit(l) & ~F.contains(l, F.lit("小計"))  # noqa: E731
    stop = F.array_position(F.transform(lines, is_break), True)
    n_items = F.when(stop > 0, stop - 1).otherwise(F.size(lines))
    item_lines = F.slice(lines, 1, n_items.cast("int"))
    # store name: first of top-5 lines passing the veto chain (P6/W2)
    store_ok = lambda l: (  # noqa: E731
        (F.length(l) >= 2)
        & ~_contains_any(l, pf.STORE_NAME_VETO)
        & ~l.rlike("[0-9]{4}[年/\\-.]")
        & ~F.regexp_replace(l, " ", "").rlike("^[0-9\\-()]+$")
    )
    return {
        "date": F.coalesce(*[iso for iso, _ in dates]),
        "date_raw": F.coalesce(
            *[F.when(iso.isNotNull(), F.regexp_extract(text, pat, 0)) for iso, pat in dates]
        ),
        "store_phone": phone_in_text(text),
        "payment_method": payment_method(text),
        "tax_rate_8": _amount(text, pf.P_TAX8),
        "tax_rate_10": _amount(text, pf.P_TAX10),
        "total_amount": _first(
            lines, lambda l: F.when(total_hit(l), first_amount(l)), lambda a: a > 0
        ),
        "subtotal": _first(lines, lambda l: F.when(sub_hit(l), first_amount(l))),
        "store_name": _first(F.slice(lines, 1, 5), lambda l: F.when(store_ok(l), l)),
        "items": _items(item_lines, parse_item_line),
        "_no_content": F.length(text) == 0,
    }


def invoice_fields(text: Column, lines: Column) -> Dict[str, Column]:
    """Invoice field expressions by name (ref invoice.py:164-217); ``lines``
    references a column holding ``invoice_lines(text)``."""
    # western > era only: no compact YYYYMMDD next to a keyword
    # (pycore.fields.extract_date_near_keywords, ref invoice.py:219-236)
    near_date = lambda l: F.coalesce(*[iso for iso, _ in _dates(l)[:2]])  # noqa: E731
    near = lambda kws: lambda l: F.when(_contains_any(l, kws), near_date(l))  # noqa: E731
    return {
        "invoice_number": invoice_number(text),
        "subtotal": _amount(text, pf.P_SUBTOTAL_KW),
        "tax_amount": _amount(text, pf.P_TAXAMT_KW),
        **bank_columns(text),
        "invoice_date": _first(lines, near(pf.INVOICE_DATE_KEYWORDS)),
        "due_date": _first(lines, near(pf.DUE_DATE_KEYWORDS)),
        "total_amount": _first(
            lines,
            lambda l: F.when(_contains_any(l, pf.INVOICE_TOTAL_KEYWORDS), first_amount(l)),
            lambda a: a > 0,
        ),
        "vendor_name": _first(lines, vendor_on_line, lambda v: v != ""),
        "customer_name": _first(lines, customer_on_line),
        "items": _items(lines, parse_invoice_item_line),
        "_no_content": F.length(text) == 0,
    }


def _warnings_array(*pairs) -> Column:
    """array of warning strings from (condition, message) pairs, nulls out."""
    return F.filter(
        F.array(*[F.when(cond, F.lit(msg)) for cond, msg in pairs]),
        lambda x: x.isNotNull(),
    )


def receipt_warnings_col(col: Callable[[str], Column] = F.col) -> Column:
    """Mirror of pycore.fields.receipt_warnings over a fields row whose
    field ``name`` is ``col(name)`` (no_content = empty text)."""
    reduced = F.exists(col("items"), lambda i: i["reduced_tax"])
    return _warnings_array(
        (col("date").isNull(), "日付を抽出できませんでした"),
        (col("total_amount").isNull(), "合計金額を抽出できませんでした"),
        (col("store_name").isNull(), "店舗名を抽出できませんでした"),
        (col("_no_content"), "本文を抽出できませんでした"),
        (
            reduced & col("tax_rate_8").isNull() & col("tax_rate_10").isNull(),
            "軽減税率対象品目がありますが、税額詳細が見つかりません",
        ),
    )


def invoice_warnings_col(col: Callable[[str], Column] = F.col) -> Column:
    return _warnings_array(
        (col("invoice_date").isNull(), "請求日を抽出できませんでした"),
        (col("total_amount").isNull(), "請求総額を抽出できませんでした"),
        (col("vendor_name").isNull(), "発行元名を抽出できませんでした"),
        (
            col("bank_name").isNull() & col("account_number").isNull(),
            "振込先口座情報を抽出できませんでした",
        ),
        (
            (col("bank_name").isNotNull() | col("account_number").isNotNull())
            & col("account_number").isNull(),
            "口座番号を抽出できませんでした",
        ),
        (col("_no_content"), "本文を抽出できませんでした"),
    )


# ---------------------------------------------------------------------------
# DataFrame-level extractors
# ---------------------------------------------------------------------------


def _extract_df(df, keys, lines_of, fields_of, warnings_of) -> DataFrame:
    keys = list(keys)
    text = F.col("text")
    lined = df.select(*keys, text.alias("_text"), lines_of(text).alias("_lines"))
    fields = fields_of(F.col("_text"), F.col("_lines"))
    out = lined.select(*keys, *[c.alias(n) for n, c in fields.items()])
    return out.withColumn("warnings", warnings_of()).drop("_no_content")


def extract_receipt_fields_df(df: DataFrame, keys: Sequence[str] = ("url",)) -> DataFrame:
    """(keys, text) -> one row per input row: keys, receipt fields, items
    array and warnings.  Mirrors pycore.fields.extract_receipt_fields."""
    return _extract_df(df, keys, receipt_lines, receipt_fields, receipt_warnings_col)


def extract_invoice_fields_df(df: DataFrame, keys: Sequence[str] = ("url",)) -> DataFrame:
    """(keys, text) -> one row per input row: keys, invoice fields, items
    array and warnings.  Mirrors pycore.fields.extract_invoice_fields."""
    return _extract_df(df, keys, invoice_lines, invoice_fields, invoice_warnings_col)
