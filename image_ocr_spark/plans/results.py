"""Final result assembly + JSON sink (ref pipeline.py:45-95, main.py:192-223).

One row per extraction row: classification + type-dispatched extracted
data (receipt fields for receipt pages, invoice fields for invoice pages)
+ canonical text + warnings, serialized with to_json.  The dispatch is a
chain of per-row projections with no join: the text is gated by doc_type
(``when(doc_type = 'receipt', text)``) before its lines are split, so a
page pays only for its own field set, and the data structs and warnings
are ``when(doc_type = ...)`` columns over both field sets.

Field names inside the data structs mirror the reference's Japanese
to_dict keys (receipt.py:52-89, invoice.py:63-105).  Divergence note:
to_json drops ALL null fields (ignoreNullFields), while the reference's
to_dict always emits 日付/合計金額/店舗名 even when None and drops only the
optional ones — a fixed schema + uniform null-dropping is the Spark-native
equivalent; tests pin this contract.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import extract_fields as ef


def _receipt_struct(col: Callable[[str], Column]) -> Column:
    item = lambda i: F.struct(  # noqa: E731
        i["name"].alias("品名"),
        i["price"].alias("価格"),
        i["quantity"].alias("数量"),
        i["reduced_tax"].alias("軽減税率"),
    )
    tax = F.when(
        col("tax_rate_8").isNotNull() | col("tax_rate_10").isNotNull(),
        F.struct(
            col("tax_rate_8").alias("8%対象額"),
            col("tax_rate_10").alias("10%対象額"),
        ),
    )
    return F.struct(
        col("date").alias("日付"),
        col("total_amount").alias("合計金額"),
        col("store_name").alias("店舗名"),
        col("subtotal").alias("小計"),
        col("store_phone").alias("店舗電話番号"),
        F.when(F.size(col("items")) > 0, F.transform(col("items"), item)).alias("明細"),
        tax.alias("税額詳細"),
        col("payment_method").alias("支払方法"),
    )


def _invoice_struct(col: Callable[[str], Column]) -> Column:
    item = lambda i: F.struct(  # noqa: E731
        i["name"].alias("品名"),
        i["quantity"].alias("数量"),
        i["unit_price"].alias("単価"),
        i["amount"].alias("金額"),
    )
    bank = F.when(
        col("bank_name").isNotNull() | col("account_number").isNotNull(),
        F.struct(
            col("bank_name").alias("銀行名"),
            col("branch_name").alias("支店名"),
            col("account_type").alias("口座種別"),
            col("account_number").alias("口座番号"),
        ),
    )
    return F.struct(
        col("invoice_date").alias("請求日"),
        col("due_date").alias("支払期限"),
        col("invoice_number").alias("請求書番号"),
        col("total_amount").alias("請求金額"),
        col("subtotal").alias("税抜金額"),
        col("tax_amount").alias("消費税額"),
        col("vendor_name").alias("発行元"),
        col("customer_name").alias("宛先"),
        bank.alias("振込先"),
        F.when(F.size(col("items")) > 0, F.transform(col("items"), item)).alias("明細"),
    )


def assemble_results(extracted: DataFrame) -> DataFrame:
    """extraction rows -> final result rows (url, doc_type, confidence
    scores, receipt_data/invoice_data structs, text, title, warnings)."""
    is_r = F.col("doc_type") == "receipt"
    is_i = F.col("doc_type") == "invoice"
    r_text = F.when(is_r, F.col("text"))
    i_text = F.when(is_i, F.col("text"))
    # lines in their own projection: the field expressions read them
    # several times, and an inlined split would run at every read
    lined = extracted.select(
        "*",
        ef.receipt_lines(r_text).alias("_r_lines"),
        ef.invoice_lines(i_text).alias("_i_lines"),
    )
    fields = lined.select(
        "*",
        *[c.alias("_r_" + n) for n, c in ef.receipt_fields(r_text, F.col("_r_lines")).items()],
        *[c.alias("_i_" + n) for n, c in ef.invoice_fields(i_text, F.col("_i_lines")).items()],
    )
    r_col = lambda n: F.col("_r_" + n)  # noqa: E731
    i_col = lambda n: F.col("_i_" + n)  # noqa: E731
    warnings = (
        F.when(is_r, ef.receipt_warnings_col(r_col))
        .when(is_i, ef.invoice_warnings_col(i_col))
        .otherwise(F.array().cast("array<string>"))
    )
    return fields.select(
        "url",
        "doc_id",
        "engine",
        (F.col("doc_type") != "unknown").alias("success"),
        "doc_type",
        "receipt_score_centi",
        "invoice_score_centi",
        F.when(is_r, _receipt_struct(r_col)).alias("receipt_data"),
        F.when(is_i, _invoice_struct(i_col)).alias("invoice_data"),
        "text",
        "title",
        # warning cap [:20] (ref tesseract_engine.py:195, pipeline.py:200)
        F.slice(warnings, 1, 20).alias("warnings"),
    )


def to_json_rows(results: DataFrame) -> DataFrame:
    """(url, json) — to_json drops null fields (see module docstring); the
    _debug analog (engine/scores) is excluded by projection, matching the
    reference's debug-section strip (pipeline.py:89-95)."""
    payload = F.struct(
        F.col("success").alias("成功"),
        F.col("doc_type").alias("文書タイプ"),
        F.col("receipt_data").alias("領収書データ"),
        F.col("invoice_data").alias("請求書データ"),
        F.col("text").alias("抽出テキスト"),
        F.col("title").alias("タイトル"),
        F.col("warnings").alias("警告"),
    )
    return results.select("url", F.to_json(payload).alias("json"))


def write_json(results: DataFrame, path: str) -> None:
    """JSON-lines sink (the reference's file output path, main.py:192-223)."""
    to_json_rows(results).write.mode("overwrite").json(path)
