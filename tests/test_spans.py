"""Span extraction: pure-SQL path == pycore oracle (the north rule's
span-offset gate), character offsets included."""

from image_ocr_spark.fixtures.gen_pages import build_page, url_for
from image_ocr_spark.operators.spans import label_spans_sql
from image_ocr_spark.pycore.extractor import extract_page, label_spans


def test_spans_three_way_parity(spark, extracted, doc_rows):
    sql = sorted(tuple(r) for r in label_spans_sql(extracted).collect())
    expected = []
    for doc_id, text, lang in doc_rows:
        oracle = extract_page(build_page(doc_id, text, lang)["html"])
        for sp in oracle["spans"]:
            expected.append(
                (url_for(doc_id), sp["start"], sp["end"], sp["label"], sp["value"])
            )
    assert sorted(expected) == sql
    assert len(sql) > 0


def test_span_offsets_slice_back(doc_rows):
    """Offsets must slice the value back out of the canonical text."""
    checked = 0
    for doc_id, text, lang in doc_rows[:80]:
        oracle = extract_page(build_page(doc_id, text, lang)["html"])
        for sp in oracle["spans"]:
            assert oracle["text"][sp["start"] : sp["end"]] == sp["value"]
            checked += 1
    assert checked > 0


def test_spans_unit():
    spans = label_spans("TEL: 03-1234-5678 にて 2024年1月15日 ¥1,500 支払済")
    labels = {s["label"] for s in spans}
    assert {"phone", "date", "amount"} <= labels
    by_label = {s["label"]: s for s in spans}
    assert by_label["phone"]["value"] == "03-1234-5678"
    assert by_label["date"]["value"] == "2024年1月15日"
    assert by_label["amount"]["value"] == "¥1,500"
