"""PDF layout parse (r06): positioned spans from Tm/Td/TD/T*/TL state,
reading-order tokenization, and the geometric span predicates —
the reference's bounding-box world (span_utils.get_text_right_of /
get_text_below) on real PDF coordinates instead of token positions."""

import zlib

import duckdb
import pytest
from pyspark.sql import functions as F

from image_ocr_spark.operators.spans import pdf_layout_spans, span_neighbors_geo
from image_ocr_spark.pycore.pdftok import make_pdf, pdf_spans, tokenize_pdf


def _raw_pdf(content: bytes) -> bytes:
    stream = b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content)
    return b"%PDF-1.4\n" + stream


_INVOICE_CONTENT = b"""BT
/F1 14 Tf
1 0 0 1 72 700 Tm
(INVOICE) Tj
/F1 10 Tf
0 -20 Td
(Date:) Tj
60 0 Td
(2026-01-15) Tj
1 0 0 1 72 660 Tm
(Total:) Tj
65 0 Td
(4200) Tj
ET
BT
/F1 8 Tf
1 0 0 1 72 40 Tm
(page footer) Tj
ET"""


def test_positions_and_state_machine():
    sp = {s["text"]: s for s in pdf_spans(_raw_pdf(_INVOICE_CONTENT))}
    assert sp["INVOICE"] == {
        "text": "INVOICE", "page": 0, "x_milli": 72000, "y_milli": 700000,
        "size_milli": 14000, "seq": 0,
    }
    assert (sp["Date:"]["x_milli"], sp["Date:"]["y_milli"]) == (72000, 680000)
    assert (sp["2026-01-15"]["x_milli"], sp["2026-01-15"]["y_milli"]) == (
        132000, 680000,
    )
    assert (sp["Total:"]["y_milli"], sp["4200"]["x_milli"]) == (660000, 137000)
    assert sp["page footer"]["size_milli"] == 8000
    assert sp["Date:"]["size_milli"] == 10000


def test_reading_order_beats_stream_order():
    """Footer emitted in a SECOND text object still sorts last; a stream
    that draws the footer FIRST sorts it last all the same."""
    flipped = b"""BT
/F1 8 Tf
1 0 0 1 72 40 Tm
(footer first in stream) Tj
ET
BT
1 0 0 1 72 700 Tm
(headline) Tj
14 TL
T*
(body) Tj
ET"""
    texts = [n["text"] for n in tokenize_pdf(_raw_pdf(flipped))]
    assert texts == ["headline", "body", "footer first in stream"]


def test_td_vs_td_leading_and_tstar():
    content = b"""BT
1 0 0 1 10 500 Tm
(a) Tj
0 -12 TD
(b) Tj
T*
(c) Tj
ET"""
    sp = {s["text"]: s["y_milli"] for s in pdf_spans(_raw_pdf(content))}
    # TD sets leading to 12; T* then moves another 12 down
    assert sp == {"a": 500000, "b": 488000, "c": 476000}


def test_multipage_streams_do_not_interleave():
    """Review r06 finding: two content streams (two pages) sharing a y
    range must NOT merge under the reading-order sort — page is the
    major key, stream order IS document order across pages."""
    page = b"BT 1 0 0 1 72 700 Tm (%s top) Tj 0 -600 Td (%s bottom) Tj ET"
    raw = (
        b"%PDF-1.4\n"
        b"<< /Length 0 >>\nstream\n" + page % (b"p1", b"p1") + b"\nendstream\n"
        b"<< /Length 0 >>\nstream\n" + page % (b"p2", b"p2") + b"\nendstream\n"
    )
    texts = [n["text"] for n in tokenize_pdf(raw)]
    assert texts == ["p1 top", "p1 bottom", "p2 top", "p2 bottom"]
    pages = {s["text"]: s["page"] for s in pdf_spans(raw)}
    assert pages == {"p1 top": 0, "p1 bottom": 0, "p2 top": 1, "p2 bottom": 1}


def test_fractional_and_signed_reals():
    """Review r06 finding: PDF reals '.5', '12.', '+3' are legal operand
    spellings — the old digits-only pattern misparsed '.5' as '5' (10x
    position error) and dropped '12.' ops entirely."""
    content = (
        b"BT 1 0 0 1 10.5 500 Tm (a) Tj .5 -12. Td (b) Tj "
        b"+2 -.5 Td (c) Tj ET"
    )
    sp = {s["text"]: (s["x_milli"], s["y_milli"])
          for s in pdf_spans(_raw_pdf(content))}
    assert sp == {
        "a": (10500, 500000),
        "b": (11000, 488000),   # +0.5 / -12.0
        "c": (13000, 487500),   # +2 / -0.5
    }


def test_text_state_persists_across_bt():
    """Review r06 finding: Tf size and TL leading are graphics-state text
    parameters — they survive ET/BT within a stream (PDF 32000-1 §9.4.1);
    only the text matrix resets."""
    content = (
        b"BT /F1.2 9 Tf 14 TL 1 0 0 1 10 500 Tm (a) Tj ET "
        b"BT 1 0 0 1 10 400 Tm (b) Tj T* (c) Tj ET"
    )
    sp = {s["text"]: s for s in pdf_spans(_raw_pdf(content))}
    assert sp["b"]["size_milli"] == 9000       # Tf persisted (dotted name too)
    assert sp["c"]["y_milli"] == 386000        # TL=14 persisted across BT


def test_fixture_writer_regression():
    """make_pdf output (monotonic Td descent) tokenizes to the same node
    stream as before the layout upgrade — the e2e byte-identity
    contract's PDF leg."""
    nodes = tokenize_pdf(make_pdf(["Article 7", "body text here"]))
    assert [n["text"] for n in nodes] == ["Article 7", "body text here"]
    assert [n["n_words"] for n in nodes] == [2, 3]
    nodes_raw = tokenize_pdf(make_pdf(["x"], compress=False))
    assert [n["text"] for n in nodes_raw] == ["x"]


def test_hostile_input_never_raises():
    for garbage in (b"", b"%PDF-1.4 junk", b"%PDF" + b"(" * 5000,
                    _raw_pdf(b"BT (unclosed Tj ET"), b"\x00" * 64,
                    # 400-digit operand floats to inf: must clamp, not
                    # OverflowError (never-raise; found by self-probe r06)
                    _raw_pdf(b"BT " + b"9" * 400 + b" 5 Td (x) Tj ET"),
                    _raw_pdf(b"BT -" + b"9" * 400 + b" .5 TL T* (y) Tj ET")):
        assert isinstance(pdf_spans(garbage), list)
        assert isinstance(tokenize_pdf(garbage), list)
    from image_ocr_spark.pycore.pdftok import _MILLI_CAP

    sp = pdf_spans(_raw_pdf(b"BT " + b"9" * 400 + b" 5 Td (x) Tj ET"))
    assert sp[0]["x_milli"] == _MILLI_CAP  # clamped, position still usable


@pytest.fixture(scope="module")
def span_rows(spark):
    pages = spark.createDataFrame(
        [
            ("http://a.example/inv", _raw_pdf(_INVOICE_CONTENT)),
            ("http://b.example/doc", make_pdf(["plain doc", "two lines"])),
            ("http://c.example/not-pdf", b"<html>nope</html>"),
            ("http://d.example/null", None),
        ],
        "url string, html binary",
    )
    df = pdf_layout_spans(pages)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # scan-stage only
    return pages, df


def test_spark_spans_match_pycore(spark, span_rows):
    pages, df = span_rows
    got = sorted(
        (r.url, r.span_id, r.page, r.text, r.x_milli, r.y_milli, r.size_milli)
        for r in df.collect()
    )
    want = []
    for r in pages.collect():
        raw = bytes(r.html) if r.html is not None else b""
        if raw[:5] != b"%PDF-":
            continue
        for sp in pdf_spans(raw):
            want.append(
                (r.url, sp["seq"], sp["page"], sp["text"], sp["x_milli"],
                 sp["y_milli"], sp["size_milli"])
            )
    assert got == sorted(want) and len(got) > 0


def test_geometric_predicates_match_duckdb(spark, span_rows):
    """right_of / below on real coordinates, both legs in one
    span_neighbors_geo call — value-replayed by DuckDB from the exported
    span relation (the engine-parity discipline)."""
    _, df = span_rows
    rows = [
        (r.url, r.span_id, r.text, r.x_milli, r.y_milli) for r in df.collect()
    ]
    got = span_neighbors_geo(
        df, [("Date:", "right_of"), ("INVOICE", "below")]
    ).collect()
    right = sorted(
        (r.url, r.keyword_text, r.value) for r in got if r.rel == "right_of"
    )
    below = sorted(
        (r.url, r.keyword_text, r.value) for r in got if r.rel == "below"
    )
    assert right == [("http://a.example/inv", "Date:", "2026-01-15")]
    # nearest below INVOICE within x tolerance is the Date: line
    assert below == [("http://a.example/inv", "INVOICE", "Date:")]

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE s(url VARCHAR, span_id INT, text VARCHAR,"
        " x_milli BIGINT, y_milli BIGINT)"
    )
    con.executemany("INSERT INTO s VALUES (?,?,?,?,?)", rows)
    want_right = sorted(
        tuple(r)
        for r in con.execute(
            """
            SELECT url, keyword_text, value FROM (
              SELECT k.url, k.text AS keyword_text, c.text AS value,
                     row_number() OVER (
                       PARTITION BY k.url, k.span_id
                       ORDER BY c.x_milli - k.x_milli, c.span_id) AS rn
              FROM s k JOIN s c ON k.url = c.url AND k.span_id <> c.span_id
              WHERE contains(k.text, 'Date:')
                AND abs(c.y_milli - k.y_milli) <= 3000
                AND c.x_milli > k.x_milli
            ) WHERE rn = 1
            """
        ).fetchall()
    )
    want_below = sorted(
        tuple(r)
        for r in con.execute(
            """
            SELECT url, keyword_text, value FROM (
              SELECT k.url, k.text AS keyword_text, c.text AS value,
                     row_number() OVER (
                       PARTITION BY k.url, k.span_id
                       ORDER BY k.y_milli - c.y_milli,
                                abs(c.x_milli - k.x_milli), c.span_id) AS rn
              FROM s k JOIN s c ON k.url = c.url AND k.span_id <> c.span_id
              WHERE contains(k.text, 'INVOICE')
                AND c.y_milli < k.y_milli
                AND abs(c.x_milli - k.x_milli) <= 50000
            ) WHERE rn = 1
            """
        ).fetchall()
    )
    con.close()
    assert right == want_right and below == want_below


def test_fuzz_never_raises_and_parses_bounded():
    """Byte-soup fuzz over a valid base: pdf_spans either parses or
    yields fewer/garbled spans, never raises (frontier-parser policy)."""
    import random

    rnd = random.Random(31)
    base = bytearray(_raw_pdf(_INVOICE_CONTENT))
    for _ in range(500):
        raw = bytearray(base)
        for _ in range(rnd.randrange(1, 6)):
            raw[rnd.randrange(len(raw))] = rnd.randrange(256)
        spans = pdf_spans(bytes(raw))
        assert isinstance(spans, list) and len(spans) <= 40


_TABLE_CONTENT = (
    b"BT 1 0 0 1 72 700 Tm (Order Summary) Tj "          # full-width header: not a cell
    b"1 0 0 1 72 680 Tm (item) Tj 200 0 Td (qty) Tj 100 0 Td (price) Tj "
    b"1 0 0 1 72 660 Tm (apple) Tj 200 0 Td (2) Tj 100 0 Td (220) Tj "
    b"1 0 0 1 72 640 Tm (milk) Tj 200 0 Td (1) Tj 100 0 Td (160) Tj "
    b"1 0 0 1 72 620 Tm (bread) Tj 300 0 Td (110) Tj "   # sparse row: qty missing
    b"1 0 0 1 90 600 Tm (thank you for shopping) Tj "    # prose at a one-off x
    b"ET"
)


def test_detect_tables_columns_rows_and_sparsity():
    from image_ocr_spark.pycore.pdftok import detect_tables

    cells = detect_tables(pdf_spans(_raw_pdf(_TABLE_CONTENT)))
    grid = {(c["row"], c["col"]): c["text"] for c in cells}
    assert grid == {
        (0, 0): "item", (0, 1): "qty", (0, 2): "price",
        (1, 0): "apple", (1, 1): "2", (1, 2): "220",
        (2, 0): "milk", (2, 1): "1", (2, 2): "160",
        (3, 0): "bread", (3, 2): "110",   # sparse row keeps its col ids
    }
    # anchors are x-ranked: col 0 at 72pt, col 1 at 272pt, col 2 at 372pt
    by_col = {c["col"]: c["x_milli"] for c in cells}
    assert by_col == {0: 72000, 1: 272000, 2: 372000}
    # the full-width header and the prose line are NOT cells
    assert all(c["text"] not in ("Order Summary", "thank you for shopping")
               for c in cells)


def test_detect_tables_rejects_prose():
    from image_ocr_spark.pycore.pdftok import detect_tables

    prose = (
        b"BT 1 0 0 1 72 700 Tm (one line) Tj 0 -20 Td (another line) Tj "
        b"0 -20 Td (third line) Tj ET"
    )
    # a single repeated x is one anchor — not a table (needs >= 2)
    assert detect_tables(pdf_spans(_raw_pdf(prose))) == []
    assert detect_tables([]) == []


def test_spark_table_cells_match_pycore(spark):
    from image_ocr_spark.operators.spans import pdf_table_cells
    from image_ocr_spark.pycore.pdftok import detect_tables

    pages = spark.createDataFrame(
        [
            ("http://t.example/table", _raw_pdf(_TABLE_CONTENT)),
            ("http://t.example/prose", make_pdf(["just", "text"])),
            ("http://t.example/nope", b"<html></html>"),
        ],
        "url string, html binary",
    )
    df = pdf_table_cells(pages)
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()
    got = sorted(
        (r.url, r.page, r.row, r.col, r.x_milli, r.y_milli, r.text)
        for r in df.collect()
    )
    want = sorted(
        ("http://t.example/table", c["page"], c["row"], c["col"],
         c["x_milli"], c["y_milli"], c["text"])
        for c in detect_tables(pdf_spans(_raw_pdf(_TABLE_CONTENT)))
    )
    assert got == want and len(got) == 11


def test_detect_tables_single_anchor_stack_is_not_a_table_row():
    """Review r06 finding: two spans stacked on ONE anchor x inside one
    y band (wrapped cell / repeated indent) are one column of evidence —
    not a table row; and same-(row,col) spans in a REAL table row merge
    in reading order."""
    from image_ocr_spark.pycore.pdftok import detect_tables

    # prose: every line at x=72, one band containing two spans at x=72
    prose = (
        b"BT 1 0 0 1 72 700 Tm (a) Tj 0 -1 Td (a2) Tj "  # same band, same x
        b"1 0 0 1 72 660 Tm (b) Tj 1 0 0 1 72 640 Tm (c) Tj ET"
    )
    assert detect_tables(pdf_spans(_raw_pdf(prose))) == []

    # real table where one cell wraps: the wrapped text merges into the
    # (row, col) cell, so (row, col) stays a key
    table = (
        b"BT 1 0 0 1 72 700 Tm (h1) Tj 200 0 Td (h2) Tj "
        b"1 0 0 1 72 680 Tm (long) Tj 0 -1 Td (cell) Tj 200 1 Td (v1) Tj "
        b"1 0 0 1 72 660 Tm (r2a) Tj 200 0 Td (r2b) Tj ET"
    )
    cells = detect_tables(pdf_spans(_raw_pdf(table)))
    grid = {}
    for c in cells:
        assert (c["row"], c["col"]) not in grid  # (row, col) is a key
        grid[(c["row"], c["col"])] = c["text"]
    assert grid == {
        (0, 0): "h1", (0, 1): "h2",
        (1, 0): "long cell", (1, 1): "v1",
        (2, 0): "r2a", (2, 1): "r2b",
    }
