"""The production rollup (tokenize_packed -> extract_text_packed ->
classify_df, run by extract_pages) must equal the single-process pycore
oracle per url on every column the two share — across all page kinds and
on documents whose text carries control bytes."""

from image_ocr_spark.pycore.extractor import extract_page


def _assert_matches_pycore(rows, html_by_url):
    """Every column extract_pages shares with pycore.extractor.extract_page
    (text bytes, title, engine, node counts, doc_type, both scores) agrees
    for every url."""
    assert sorted(r.url for r in rows) == sorted(html_by_url)
    for r in rows:
        want = extract_page(html_by_url[r.url])
        got = r.asDict()
        shared = sorted(set(got) & set(want))
        assert shared == [
            "doc_type",
            "engine",
            "invoice_score_centi",
            "n_content_nodes",
            "n_nodes",
            "receipt_score_centi",
            "text",
            "title",
        ]
        assert got["text"].encode("utf-8") == want["text"].encode("utf-8"), r.url
        assert {c: got[c] for c in shared} == {c: want[c] for c in shared}, r.url


def test_rollup_matches_pycore_every_column(extracted, doc_rows):
    """All fixture page kinds (articles, pdf, receipts, edge cases)."""
    from image_ocr_spark.fixtures.gen_pages import build_page

    pages = [build_page(doc_id, text, lang) for doc_id, text, lang in doc_rows]
    _assert_matches_pycore(
        extracted.collect(), {p["url"]: p["html"] for p in pages}
    )


def test_clean_text_guard_on_control_chars(spark):
    """r07 `blocks._TEXT` guard: documents whose node text carries a
    non-whitespace control byte must route through the FULL clean_text
    chain (the rlike branch), staying byte-identical to the pycore rollup;
    clean documents take the no-op branch with the same output either
    way.  An empty page and a fake PDF ride along: both yield no nodes
    and must still come back as a row with text=''."""
    from image_ocr_spark.plans.pipeline import extract_pages

    htmls = [
        b"<p>plain seed text with enough words to be a seed block</p>",
        "<p>ctrl\x00inside a long enough seed sentence to stay a block</p>".encode(),
        "<p>\x07 bell and \x7f del chars in a long seed sentence here</p>".encode(),
        "<p>edge\x1f</p><p>another long seed sentence with many words here</p>".encode(),
        "<p>\x00 leading control then a long seed sentence with words</p>".encode(),
        b"",
        b"%PDF-1.4 then nothing sensible",
    ]
    pages = spark.createDataFrame(
        [(f"u{i}", i, h) for i, h in enumerate(htmls)],
        "url string, doc_id long, html binary",
    )
    rows = extract_pages(pages).collect()
    _assert_matches_pycore(rows, {f"u{i}": h for i, h in enumerate(htmls)})
    # the chain actually fired: control bytes are gone from every text
    texts = [r.text for r in rows]
    assert all("\x00" not in t and "\x1f" not in t and "\x7f" not in t for t in texts)
    assert any("ctrl" in t for t in texts)
    assert sum(t == "" for t in texts) == 2
