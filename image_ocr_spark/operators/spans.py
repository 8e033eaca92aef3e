"""Labeled spans over the canonical extracted text (the north star's
"native Spark SQL expressions emitting labeled spans").

``label_spans_sql`` is pure Spark SQL: regexp_extract_all for the match
values, offsets recovered with a cumulative ``locate`` fold
(F.aggregate carrying (search_from, spans)), character offsets into the
canonical text.  The plan stays JVM-only and DuckDB-expressible
(entry:label_spans); tests/test_spans.py pins its rows to
pycore.extractor.label_spans.  Cost: the fold is an interpreted
``aggregate`` calling ``locate`` per match (CodegenFallback), so it is
O(matches x text) on match-dense documents.

Span rows: (url, start, end, label, value), ordered by (start, label).

PDF layout spans carry real page coordinates: ``pdf_layout_spans`` parses
them in one scan-stage Arrow pass, and ``span_neighbors_geo`` resolves
any number of (keyword, right_of|below) legs over them with one
(url, page) join and one ``min_by`` — two Python passes in all, however
many legs.
"""

from __future__ import annotations

from operator import itemgetter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..pycore.extractor import SPAN_PATTERNS
from .rowmap import map_rows


def _spans_for_pattern(text: Column, label: str, pattern: str) -> Column:
    """array<struct<start,end,label,value>> for one pattern — offsets via a
    cumulative locate fold over regexp_extract_all matches.

    locate is 1-based; searching resumes at the previous match end + 1 so
    repeated identical values land on successive occurrences (matching
    re.finditer's non-overlapping left-to-right scan).
    """
    matches = F.regexp_extract_all(text, F.lit(pattern), 0)
    init = F.struct(
        F.lit(1).alias("from_pos"),
        F.array().cast(
            "array<struct<start:int,end:int,label:string,value:string>>"
        ).alias("spans"),
    )

    def step(acc: Column, m: Column) -> Column:
        pos = F.call_function("locate", m, text, acc["from_pos"])
        span = F.struct(
            (pos - 1).cast("int").alias("start"),
            (pos - 1 + F.length(m)).cast("int").alias("end"),
            F.lit(label).alias("label"),
            m.alias("value"),
        )
        return F.struct(
            (pos + F.length(m)).cast("int").alias("from_pos"),
            F.array_append(acc["spans"], span).alias("spans"),
        )

    return F.aggregate(matches, init, step)["spans"]


def label_spans_sql(extracted: DataFrame) -> DataFrame:
    """(url, text) -> span rows (url, start, end, label, value)."""
    text = F.col("text")
    all_spans = F.flatten(
        F.array(
            *[_spans_for_pattern(text, label, pat) for label, pat in SPAN_PATTERNS]
        )
    )
    # order by (start, label) like the oracle
    ordered = F.array_sort(
        F.transform(
            all_spans,
            lambda s: F.struct(
                s["start"].alias("start"),
                s["label"].alias("label"),
                s["end"].alias("end"),
                s["value"].alias("value"),
            ),
        )
    )
    rows = extracted.select("url", F.explode(ordered).alias("s"))
    return rows.select(
        "url",
        F.col("s.start").alias("start"),
        F.col("s.end").alias("end"),
        F.col("s.label").alias("label"),
        F.col("s.value").alias("value"),
    )


# ---------------------------------------------------------------------------
# PDF layout spans (r06) — geometric coordinates, the reference's
# bounding-box world.  The reference's span predicates
# (get_text_right_of / get_text_below, span_utils.py) operate on OCR
# bounding boxes; the HTML graft approximates them with token positions
# (entry:span_neighbors).  For the PDF branch the coordinates are REAL:
# pycore.pdftok.pdf_spans tracks Tm/Td/TD/T*/TL line origins, so the
# same nearest-neighbor predicates run on page geometry, every leg in
# one join (span_neighbors_geo).
# ---------------------------------------------------------------------------

PDF_SPAN_SCHEMA = (
    "url string, span_id int, page int, text string, x_milli long,"
    " y_milli long, size_milli long"
)


def pdf_layout_spans(pages: DataFrame) -> DataFrame:
    """(url, span_id, page, text, x_milli, y_milli, size_milli) — one
    row per positioned text span of each PDF payload in pages(url, html),
    stream-sequence span_id, content-stream index as page (geometry is
    only comparable
    WITHIN a page).
    One scan-stage Arrow pass (the tokenizer discipline: only the two
    needed columns cross the boundary, zero shuffle); non-PDF or
    unparseable payloads yield no rows (never-raise policy)."""
    from ..pycore.pdftok import is_pdf, pdf_spans

    fields = itemgetter("seq", "page", "text", "x_milli", "y_milli", "size_milli")

    def spans(url, raw):
        raw = raw or b""
        if not is_pdf(raw):
            return []
        return [(url, *fields(sp)) for sp in pdf_spans(raw)]

    return map_rows(pages.select("url", "html"), spans, PDF_SPAN_SCHEMA)


# same-line tolerance (right_of) and same-column tolerance (below), in
# milli text-space units
SAME_LINE_TOL_MILLI = 3000
SAME_COLUMN_TOL_MILLI = 50_000


def span_neighbors_geo(spans: DataFrame, legs) -> DataFrame:
    """(url, rel, keyword_text, value): for each leg (keyword, rel) and
    each span containing keyword, the NEAREST other span of the SAME page
    in direction rel — the reference's get_text_right_of /
    get_text_below on real coordinates:

    - right_of: same visual line (|dy| <= SAME_LINE_TOL_MILLI), x
      greater; nearest by (dx, span_id);
    - below: y smaller, |dx| <= SAME_COLUMN_TOL_MILLI; nearest by
      (dy, |dx|, span_id).

    A span matching several legs answers each.  Every leg resolves in
    one pass over each side: the keyword side explodes the legs whose
    keyword a span contains, one (url, page) equi-join meets the
    candidate spans, and one min_by over (d, d2, span_id) picks the
    neighbor — (dx, 0) for right_of, (dy, |dx|) for below.  DuckDB
    replays both directions by value (tests/test_pdflayout.py)."""
    leg_table = F.array(
        *[
            F.struct(F.lit(i).alias("leg"), F.lit(kw).alias("kw"), F.lit(rel).alias("rel"))
            for i, (kw, rel) in enumerate(legs)
        ]
    )
    kw = spans.select(
        "url",
        "page",
        F.col("span_id").alias("kw_id"),
        F.col("text").alias("keyword_text"),
        F.col("x_milli").alias("kx"),
        F.col("y_milli").alias("ky"),
        F.explode(
            F.filter(leg_table, lambda leg: F.col("text").contains(leg["kw"]))
        ).alias("l"),
    ).select("url", "page", "kw_id", "keyword_text", "kx", "ky", "l.leg", "l.rel")
    cand = spans.select(
        "url", "page", "span_id", F.col("text").alias("value"),
        "x_milli", "y_milli",
    )
    dx = F.col("x_milli") - F.col("kx")
    dy = F.col("ky") - F.col("y_milli")
    right = F.col("rel") == "right_of"
    near = F.when(
        right, (F.abs(dy) <= SAME_LINE_TOL_MILLI) & (dx > 0)
    ).otherwise((dy > 0) & (F.abs(dx) <= SAME_COLUMN_TOL_MILLI))
    j = kw.join(cand, ["url", "page"]).filter(
        (F.col("span_id") != F.col("kw_id")) & near
    )
    key = F.struct(
        F.when(right, dx).otherwise(dy).alias("d"),
        F.when(right, F.lit(0)).otherwise(F.abs(dx)).alias("d2"),
        F.col("span_id").alias("sid"),
    )
    return j.groupBy("url", "kw_id", "leg", "rel", "keyword_text").agg(
        F.min_by("value", key).alias("value")
    ).select("url", "rel", "keyword_text", "value")


PDF_TABLE_SCHEMA = (
    "url string, page int, row int, col int, x_milli long, y_milli long,"
    " text string"
)


def pdf_table_cells(pages: DataFrame) -> DataFrame:
    """(url, page, row, col, x_milli, y_milli, text) — column-aligned
    table cells per PDF payload of pages(url, html)
    (pycore.pdftok.detect_tables at its default row tolerance and minimum
    row count, the PP-Structure analog).  Same scan-stage Arrow shape as
    pdf_layout_spans; non-PDF / table-free payloads yield no rows."""
    from ..pycore.pdftok import detect_tables, is_pdf, pdf_spans

    fields = itemgetter("page", "row", "col", "x_milli", "y_milli", "text")

    def cells(url, raw):
        raw = raw or b""
        if not is_pdf(raw):
            return []
        return [(url, *fields(c)) for c in detect_tables(pdf_spans(raw))]

    return map_rows(pages.select("url", "html"), cells, PDF_TABLE_SCHEMA)
