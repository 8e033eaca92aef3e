"""Spark field extraction (per-row array expressions over the text's
lines) must agree with pycore exactly across the full fixture corpus —
including items, vendor/customer, warnings — and return exactly one row
per input row."""

from pyspark.sql import functions as F

from image_ocr_spark.fixtures.gen_pages import build_page
from image_ocr_spark.functions.extract_fields import (
    extract_invoice_fields_df,
    extract_receipt_fields_df,
)
from image_ocr_spark.pycore.extractor import extract_page

RECEIPT_SCALARS = [
    "date", "date_raw", "total_amount", "subtotal", "store_name",
    "store_phone", "payment_method", "tax_rate_8", "tax_rate_10",
]
INVOICE_SCALARS = [
    "invoice_number", "invoice_date", "due_date", "total_amount", "subtotal",
    "tax_amount", "bank_name", "branch_name", "account_type",
    "account_number", "vendor_name", "customer_name",
]


def test_receipt_fields_match_pycore(spark, extracted, doc_rows):
    receipts = extracted.filter(F.col("doc_type") == "receipt")
    got = {
        r.doc_id: r
        for r in extract_receipt_fields_df(receipts, keys=("url", "doc_id")).collect()
    }
    checked = 0
    for doc_id, text, lang in doc_rows:
        if doc_id % 10 != 6:
            continue
        oracle = extract_page(build_page(doc_id, text, lang)["html"])["fields"]
        row = got[doc_id]
        for k in RECEIPT_SCALARS:
            assert getattr(row, k) == oracle[k], (doc_id, k)
        s_items = [(i.name, i.price, i.quantity, i.reduced_tax) for i in row.items]
        o_items = [
            (i["name"], i["price"], i["quantity"], i["reduced_tax"])
            for i in oracle["items"]
        ]
        assert s_items == o_items, doc_id
        assert list(row.warnings) == oracle["warnings"], doc_id
        checked += 1
    assert checked > 0


def test_invoice_fields_match_pycore(spark, extracted, doc_rows):
    invoices = extracted.filter(F.col("doc_type") == "invoice")
    got = {
        r.doc_id: r
        for r in extract_invoice_fields_df(invoices, keys=("url", "doc_id")).collect()
    }
    checked = 0
    for doc_id, text, lang in doc_rows:
        if doc_id % 10 != 7:
            continue
        oracle = extract_page(build_page(doc_id, text, lang)["html"])["fields"]
        row = got[doc_id]
        for k in INVOICE_SCALARS:
            assert getattr(row, k) == oracle[k], (doc_id, k)
        s_items = [
            (i.name, i.quantity, i.unit_price, i.amount) for i in row.items
        ]
        o_items = [
            (i["name"], i["quantity"], i["unit_price"], i["amount"])
            for i in oracle["items"]
        ]
        assert s_items == o_items, doc_id
        assert list(row.warnings) == oracle["warnings"], doc_id
        checked += 1
    assert checked > 0


def test_warnings_on_sparse_text(spark):
    """Missing fields produce the reference's warning strings; empty and
    NULL text keep their rows, and rows sharing a key stay separate."""
    from image_ocr_spark.pycore.fields import extract_receipt_fields, receipt_warnings

    df = spark.createDataFrame(
        [
            ("u1", "領収書だけの内容です 合計 ¥100"),
            ("u2", ""),
            ("u3", None),
            ("u4", "店A\n合計 ¥300"),
            ("u4", "店B\n合計 ¥700"),
        ],
        "url string, text string",
    )
    rows = extract_receipt_fields_df(df).collect()
    assert len(rows) == 5
    row = next(r for r in rows if r.url == "u1")
    assert "日付を抽出できませんでした" in list(row.warnings)
    assert "店舗名を抽出できませんでした" not in list(row.warnings) or row.store_name is None
    empty = next(r for r in rows if r.url == "u2")
    assert list(empty.warnings) == receipt_warnings(extract_receipt_fields(""), True)
    assert len([r for r in rows if r.url == "u3"]) == 1
    shared = sorted((r.store_name, r.total_amount) for r in rows if r.url == "u4")
    assert shared == [("店A", 300), ("店B", 700)]


def test_invoice_dates_near_keywords_match_pycore(spark):
    """請求日/支払期限 take a western or era date from the keyword's line,
    never a compact YYYYMMDD one, as pycore does."""
    from image_ocr_spark.pycore.fields import extract_invoice_fields

    texts = [
        "請求書\n請求日 20240115\n株式会社テスト",
        "請求書\n請求日 2024年1月15日\n支払期限 20240229",
        "請求書\n請求日 令和6年1月15日\n支払期限 2024/02/29",
        "請求書\n請求日 2024年13月1日 令和6年1月15日",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "url int, text string")
    got = {r.url: r for r in extract_invoice_fields_df(df).collect()}
    for url, text in enumerate(texts):
        oracle = extract_invoice_fields(text)
        for k in INVOICE_SCALARS:
            assert getattr(got[url], k) == oracle[k], (text, k)


def test_long_item_quantities_match_pycore(spark):
    """Item quantities around QTY_MAX_DIGITS: one past 2^31-1 used to fail
    the whole job (an ANSI CAST AS INT); now both engines read a quantity
    of more than nine digits as NULL and keep the item."""
    from image_ocr_spark.pycore.fields import extract_invoice_items, extract_receipt_items

    receipts = ["りんご x 12345678901 ¥100", "りんご x 1234567890 ¥100", "りんご x 123456789 ¥100"]
    invoices = ["ペン 12345678901 100 1,200", "ペン 1234567890 100 1,200", "ペン 123456789 100 1,200"]
    df = spark.createDataFrame(list(enumerate(receipts)), "url int, text string")
    got = {r.url: r for r in extract_receipt_fields_df(df).collect()}
    for url, text in enumerate(receipts):
        s_items = [(i.name, i.price, i.quantity, i.reduced_tax) for i in got[url].items]
        o_items = [tuple(i.values()) for i in extract_receipt_items(text)]
        assert s_items == o_items, text
    assert [got[u].items[0].quantity for u in range(3)] == [None, None, 123456789]
    df = spark.createDataFrame(list(enumerate(invoices)), "url int, text string")
    got = {r.url: r for r in extract_invoice_fields_df(df).collect()}
    for url, text in enumerate(invoices):
        s_items = [(i.name, i.quantity, i.unit_price, i.amount) for i in got[url].items]
        o_items = [tuple(i.values()) for i in extract_invoice_items(text)]
        assert s_items == o_items, text
    assert [got[u].items[0].quantity for u in range(3)] == [None, None, 123456789]
