"""Final result assembly + JSON sink (ref pipeline.py:45-95, main.py:192-223).

One row per extraction row: classification + type-dispatched extracted
data (receipt fields for receipt pages, invoice fields for invoice pages)
+ canonical text + warnings, serialized with to_json.  The dispatch is a
chain of per-row projections with no join: the text is gated by doc_type
(``CASE WHEN doc_type = 'receipt' THEN text END``) before its lines are
split, so a page pays only for its own field set, and the data structs
and warnings are ``CASE WHEN doc_type = ...`` columns over both field
sets.

Each projection is a tuple of SQL text assembled once at import from
functions/extract_fields.py's field expressions (see its docstring for
the ``_let`` / ``nullif`` rule inside lambdas) and applied with one
``selectExpr``: the gated lines, both field sets, and the result row.

Field names inside the data structs mirror the reference's Japanese
to_dict keys (receipt.py:52-89, invoice.py:63-105).  Divergence note:
to_json drops ALL null fields (ignoreNullFields), while the reference's
to_dict always emits 日付/合計金額/店舗名 even when None and drops only the
optional ones — a fixed schema + uniform null-dropping is the Spark-native
equivalent; tests pin this contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions import extract_fields as ef

_IS_R, _IS_I = "doc_type = 'receipt'", "doc_type = 'invoice'"
_R_TEXT = f"CASE WHEN {_IS_R} THEN text END"
_I_TEXT = f"CASE WHEN {_IS_I} THEN text END"

# lines in their own projection: the field expressions read them several
# times, and an inlined split would run at every read
_LINES = (
    "*",
    f"{ef.receipt_lines(_R_TEXT)} AS _r_lines",
    f"{ef.invoice_lines(_I_TEXT)} AS _i_lines",
)

_FIELDS = (
    "*",
    *[f"{sql} AS _r_{n}" for n, sql in ef.receipt_fields(_R_TEXT, "_r_lines").items()],
    *[f"{sql} AS _i_{n}" for n, sql in ef.invoice_fields(_I_TEXT, "_i_lines").items()],
)

_RECEIPT_DATA = """named_struct(
    '日付', _r_date, '合計金額', _r_total_amount, '店舗名', _r_store_name,
    '小計', _r_subtotal, '店舗電話番号', _r_store_phone,
    '明細', CASE WHEN size(_r_items) > 0 THEN transform(_r_items, i -> named_struct(
        '品名', i.name, '価格', i.price, '数量', i.quantity, '軽減税率', i.reduced_tax)) END,
    '税額詳細', CASE WHEN _r_tax_rate_8 IS NOT NULL OR _r_tax_rate_10 IS NOT NULL
        THEN named_struct('8%対象額', _r_tax_rate_8, '10%対象額', _r_tax_rate_10) END,
    '支払方法', _r_payment_method)"""

_INVOICE_DATA = """named_struct(
    '請求日', _i_invoice_date, '支払期限', _i_due_date, '請求書番号', _i_invoice_number,
    '請求金額', _i_total_amount, '税抜金額', _i_subtotal, '消費税額', _i_tax_amount,
    '発行元', _i_vendor_name, '宛先', _i_customer_name,
    '振込先', CASE WHEN _i_bank_name IS NOT NULL OR _i_account_number IS NOT NULL
        THEN named_struct('銀行名', _i_bank_name, '支店名', _i_branch_name,
                          '口座種別', _i_account_type, '口座番号', _i_account_number) END,
    '明細', CASE WHEN size(_i_items) > 0 THEN transform(_i_items, i -> named_struct(
        '品名', i.name, '数量', i.quantity, '単価', i.unit_price, '金額', i.amount)) END)"""

_WARNINGS = (
    f"CASE WHEN {_IS_R} THEN {ef.receipt_warnings('_r_')}"
    f" WHEN {_IS_I} THEN {ef.invoice_warnings('_i_')}"
    " ELSE CAST(array() AS ARRAY<STRING>) END"
)

_RESULT = (
    "url",
    "doc_id",
    "engine",
    "doc_type != 'unknown' AS success",
    "doc_type",
    "receipt_score_centi",
    "invoice_score_centi",
    f"CASE WHEN {_IS_R} THEN {_RECEIPT_DATA} END AS receipt_data",
    f"CASE WHEN {_IS_I} THEN {_INVOICE_DATA} END AS invoice_data",
    "text",
    "title",
    # warning cap [:20] (ref tesseract_engine.py:195, pipeline.py:200)
    f"slice({_WARNINGS}, 1, 20) AS warnings",
)

# the _debug analog (engine/scores) is left out, matching the reference's
# debug-section strip (pipeline.py:89-95)
_JSON = """to_json(named_struct(
    '成功', success, '文書タイプ', doc_type, '領収書データ', receipt_data,
    '請求書データ', invoice_data, '抽出テキスト', text, 'タイトル', title,
    '警告', warnings)) AS json"""


def assemble_results(extracted: DataFrame) -> DataFrame:
    """extraction rows -> final result rows (url, doc_id, engine, success,
    doc_type, confidence scores, receipt_data/invoice_data structs, text,
    title, warnings)."""
    return extracted.selectExpr(*_LINES).selectExpr(*_FIELDS).selectExpr(*_RESULT)


def to_json_rows(results: DataFrame) -> DataFrame:
    """(url, json) — to_json drops null fields (see module docstring)."""
    return results.selectExpr("url", _JSON)


def write_json(results: DataFrame, path: str) -> None:
    """JSON-lines sink (the reference's file output path, main.py:192-223)."""
    to_json_rows(results).write.mode("overwrite").json(path)
