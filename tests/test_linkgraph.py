"""Host link graph + integer PageRank (operators/linkgraph.py):

- href extraction: pycore unit semantics + Spark==pycore parity over the
  generated fixture corpus (the tokenizer's byte-identity discipline);
- edge resolution: every branch replayed by a DuckDB value oracle;
- host_rank: unrolled materialized-CTE DuckDB oracle, value-identical
  ranks over a deterministic cross-host multigraph derived from the
  fixture documents; storage released after the loop.
"""

import duckdb
from pyspark.sql import functions as F

from image_ocr_spark.operators import storage
from image_ocr_spark.operators.linkgraph import (
    DEFAULT_DAMPING_MILLI,
    RANK_SCALE,
    extract_links,
    host_rank,
    resolve_edges,
)
from image_ocr_spark.pycore.links import find_hrefs
from tests.conftest import SF_DIR

# ---------------------------------------------------------------- pycore


def test_find_hrefs_semantics():
    html = (
        b"<html><body>"
        b"<a href='/one'>1</a>"
        b'<A HREF="http://x.com/two?a=1">2</A>'
        b"<a class='z' href=bare/three>3</a>"
        b"<a name='anchor-no-href'>4</a>"
        b"<a href=''>empty</a>"
        b"<a href='  '>ws</a>"
        b"<!-- <a href='/commented-out'>no</a> -->"
        b"<abbr href='/not-an-anchor'>no</abbr>"
        b"<a\nhref='/newline'>5</a>"
        b"</body></html>"
    )
    assert find_hrefs(html) == [
        "/one",
        "http://x.com/two?a=1",
        "bare/three",
        "/newline",
    ]


def test_find_links_close_tag_name_boundary():
    """Name boundaries in the href scan: a-prefixed tags (<abbr>, </abbr>)
    are not anchors and do not disturb the anchors around them, and
    data-href= must not count as an href attribute."""
    assert find_hrefs(
        b"<a href='/x'>read the <abbr href='/no'>REP</abbr> spec</a>"
        b"<a href='/y'>next</a>"
    ) == ["/x", "/y"]
    assert find_hrefs(b"<a data-href='/wrong'>t</a>") == []
    assert find_hrefs(b"<a data-href='/wrong' href='/right'>t</a>") == ["/right"]


def test_find_hrefs_linear_on_hostile_many_anchors():
    """20k href anchors in one unclosed run: the scan stays linear (the
    tag regex consumes [^>]* and the attribute alternatives are
    first-char-disjoint)."""
    import time

    raw = b"<a href='/x'>t " * 20000 + b"</a>"
    t0 = time.time()
    hrefs = find_hrefs(raw)
    elapsed = time.time() - t0
    assert hrefs == ["/x"] * 20000
    assert elapsed < 3.0, elapsed


def test_find_hrefs_never_raises_on_garbage():
    for raw in (b"", b"\xff\xfe\x00garbage", b"<a href=", b"<" * 4096, None or b"<a "):
        assert isinstance(find_hrefs(raw), list)


def test_extract_links_matches_pycore(spark, documents):
    """Spark Arrow pass == pure-Python extraction, page by page, over the
    generated fixture corpus (same single-source-of-truth guarantee as
    the tokenizer)."""
    from image_ocr_spark.operators.generate import generate_pages

    pages = generate_pages(documents.limit(200))
    got = {}
    for r in extract_links(pages).collect():
        got.setdefault(r.url, []).append(r.href)
    want = {}
    for r in pages.select("url", "html").collect():
        hrefs = find_hrefs(r.html or b"")
        if hrefs:
            want[r.url] = hrefs
    assert got == want
    assert sum(len(v) for v in want.values()) > 200  # fixture pages link


# ------------------------------------------------------------ resolution

LINK_ROWS = [
    # (src url, href) — one per resolution branch
    ("http://Src.example/a", "/relative/path"),
    ("http://src.example:80/a", "other/rel?q=1"),
    ("https://src.example:443/a", "../up"),
    ("http://src.example/a", "?query-only"),
    ("http://src.example/a", "http://DST.example/x"),
    ("http://src.example/a", "https://dst.example:443/x"),
    ("http://src.example/a", "http://dst.example:8080/x"),
    ("http://src.example/a", "HTTPS://dst.example/x"),
    ("http://src.example/a", "//proto.example:80/x"),
    ("https://src.example/a", "//proto.example:443/x"),
    ("http://src.example/a", "ftp://files.example/x"),
    ("http://src.example/a", "mailto:a@b.c"),
    ("http://src.example/a", "javascript:void(0)"),
    ("http://src.example/a", "tel:+1555"),
    ("http://src.example/a", "data:text/plain,hi"),
    ("http://src.example/a", "#frag-only"),
    # long-tail '://'-less schemes: must drop, never self-link (r06 fix)
    ("http://src.example/a", "skype:someone?call"),
    ("http://src.example/a", "news:comp.lang.python"),
    ("http://src.example/a", "about:blank"),
    ("http://src.example/a", "MAILTO:CAPS@b.c"),
    ("http://src.example/a", "./seg:colon-later"),
    ("not-a-url", "/x"),
]


def test_resolve_edges_matches_oracle(spark):
    links = spark.createDataFrame(LINK_ROWS, "url string, href string")
    got = sorted(
        (r.src_host, r.dst_host) for r in resolve_edges(links).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW links AS SELECT * FROM (VALUES "
        + ", ".join(f"('{u}', '{h}')" for u, h in LINK_ROWS)
        + ") t(url, href)"
    )
    want = sorted(
        (a, b)
        for a, b in con.execute(
            r"""
WITH resolved AS (
  SELECT
    CASE WHEN lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) = 'http'
         THEN regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)), ':80$', '')
         WHEN lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) = 'https'
         THEN regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)), ':443$', '')
         ELSE lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) END AS src_host,
    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS src_scheme,
    trim(href) AS h
  FROM links
), branched AS (
  SELECT src_host,
    CASE
      WHEN h = '' OR h LIKE '#%'
           OR (regexp_matches(h, '^[A-Za-z][A-Za-z0-9+.-]*:')
               AND regexp_extract(h, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) = '')
        THEN NULL
      WHEN regexp_extract(h, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) <> '' THEN
        CASE lower(regexp_extract(h, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
          WHEN 'http'  THEN regexp_replace(lower(regexp_extract(h, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), ':80$', '')
          WHEN 'https' THEN regexp_replace(lower(regexp_extract(h, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), ':443$', '')
          ELSE NULL END
      WHEN h LIKE '//%' THEN
        CASE src_scheme
          WHEN 'http'  THEN regexp_replace(lower(regexp_extract(h, '^//([^/?#]+)', 1)), ':80$', '')
          WHEN 'https' THEN regexp_replace(lower(regexp_extract(h, '^//([^/?#]+)', 1)), ':443$', '')
          ELSE lower(regexp_extract(h, '^//([^/?#]+)', 1)) END
      ELSE src_host END AS dst_host
  FROM resolved
)
SELECT src_host, dst_host FROM branched
WHERE dst_host IS NOT NULL AND dst_host <> '' AND src_host <> ''
"""
        ).fetchall()
    )
    con.close()
    assert got == want
    # spot-check the semantics the branches encode
    assert ("src.example", "dst.example") in got  # default ports stripped
    assert ("src.example", "dst.example:8080") in got  # real port kept
    assert ("src.example", "proto.example") in got  # proto-relative
    assert not any(d.startswith("files") for _, d in got)  # ftp dropped
    assert all(s != "not-a-url" for s, _ in got)  # unparseable src dropped


def test_resolve_edges_is_shuffle_free(spark):
    links = spark.createDataFrame(LINK_ROWS, "url string, href string")
    plan = resolve_edges(links)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# -------------------------------------------------------------- PageRank

ROUNDS = 6
HOSTS = 17


def _edges(spark):
    """Deterministic cross-host multigraph: every doc contributes 3 edges
    host(doc_id%H) -> host(min((doc_id+s)%H, (doc_id*3+s)%H)), s=1..3 —
    the min of two uniforms SKEWS in-links toward low-numbered hosts, so
    ranks must differentiate; repeated (weighted) edges and self-loops
    both occur and the rank must handle them."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id")
    return docs.select(
        F.concat(F.lit("host"), (F.col("doc_id") % HOSTS)).alias("src_host"),
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit("host"),
                        F.least(
                            (F.col("doc_id") + s) % HOSTS,
                            (F.col("doc_id") * 3 + s) % HOSTS,
                        ),
                    )
                    for s in (1, 2, 3)
                ]
            )
        ).alias("dst_host"),
    )


def _rank_oracle():
    base = ((1000 - DEFAULT_DAMPING_MILLI) * RANK_SCALE) // 1000
    sql = f"""
WITH docs AS (SELECT doc_id FROM read_parquet('{SF_DIR}/documents.parquet')),
edges AS MATERIALIZED (
  SELECT 'host' || (doc_id % {HOSTS}) AS src,
         'host' || least((doc_id + s) % {HOSTS}, (doc_id * 3 + s) % {HOSTS}) AS dst
  FROM docs, unnest([1, 2, 3]) t(s)
),
w AS MATERIALIZED (SELECT src, dst, count(*)::BIGINT AS w FROM edges GROUP BY 1, 2),
outw AS MATERIALIZED (SELECT src, sum(w)::BIGINT AS tw FROM w GROUP BY 1),
nodes AS MATERIALIZED (
  SELECT DISTINCT host FROM (SELECT src AS host FROM edges UNION ALL SELECT dst FROM edges)
),
r0 AS MATERIALIZED (SELECT host, {RANK_SCALE}::BIGINT AS rank FROM nodes)
"""
    for t in range(ROUNDS):
        sql += f""",
r{t + 1} AS MATERIALIZED (
  SELECT n.host,
         ({base} + ({DEFAULT_DAMPING_MILLI} * coalesce(c.contrib, 0)) // 1000)::BIGINT AS rank
  FROM nodes n LEFT JOIN (
    SELECT w.dst AS host, sum((r.rank * w.w) // o.tw)::BIGINT AS contrib
    FROM w JOIN outw o ON w.src = o.src JOIN r{t} r ON w.src = r.host
    GROUP BY w.dst
  ) c ON n.host = c.host
)"""
    return sql + f"\nSELECT host, rank FROM r{ROUNDS} ORDER BY host"


def test_host_rank_matches_unrolled_oracle(spark):
    got = sorted(
        (r.host, r.rank) for r in host_rank(_edges(spark), rounds=ROUNDS).collect()
    )
    con = duckdb.connect()
    want = con.execute(_rank_oracle()).fetchall()
    con.close()
    assert got == [tuple(r) for r in want]
    ranks = [r for _, r in got]
    assert len(set(ranks)) > 1  # non-degenerate: hosts differentiate
    assert all(r > 0 for r in ranks)
    storage.release()


def test_host_rank_releases_intermediate_storage(spark):
    """After the loop only the FINAL rank checkpoint is held; after the
    release call, nothing of ours remains (storage-census discipline)."""
    sc = spark.sparkContext
    before = storage.persisted_ids(sc)
    r = host_rank(_edges(spark), rounds=3)
    r.count()
    after = storage.persisted_ids(sc)
    assert len(after - before) == 1  # the final checkpoint, nothing else
    storage.release()
    assert storage.persisted_ids(sc) - before == set()


def test_pages_to_rank_end_to_end(spark, documents):
    """Full chain on fixture pages: extract -> resolve -> rank. Fixture
    links are site-relative, so every host must appear with rank > 0."""
    from image_ocr_spark.operators.generate import generate_pages

    pages = generate_pages(documents.limit(120))
    edges = resolve_edges(extract_links(pages))
    ranks = host_rank(edges, rounds=2).collect()
    assert len(ranks) > 0
    assert all(r.rank > 0 for r in ranks)
    storage.release()
