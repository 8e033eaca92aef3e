"""Seeded inputs and their oracle expectations.

Everything here is a pure function of the workload seed, so the same seed
gives the same tables on any host.  Inputs are synthesized, never read
from outside the checkout:

- ``documents(seed, n)``: a ``documents(doc_id, text, lang, source,
  n_chars)`` table shaped like the repository's test fixtures: uniform
  draws from a 30-word vocabulary, 10-99 words per text, and 5% of rows
  copying an earlier text (half of them with one word changed) so the
  dedup operators have real pairs to find.
- ``pages(seed, n)``: Common-Crawl-style pages built one per row with
  ``fixtures.gen_pages.build_page``.  The seed picks each page's text from
  a seeded documents pool and the page-id offset; page kinds follow
  ``page_id % 30``, so any ``n`` divisible by 30 keeps the generator's mix
  (50% article, 10% each pdf / receipt / invoice / link farm / edge) and
  30% of urls on the hot host.

Tables are written as ``files`` parquet files so the scan splits across
every core.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_WEIGHTS = (41, 15, 14, 15, 15)
POOL_DOCS = 5000


def documents(seed: int, n: int) -> pa.Table:
    rng = random.Random(seed)
    texts: list = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            words = texts[rng.randrange(i)].split(" ")
            if rng.random() < 0.5:
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
            texts.append(" ".join(words) + " dup")
        else:
            texts.append(" ".join(rng.choices(VOCAB, k=rng.randint(10, 99))))
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": rng.choices(LANGS, LANG_WEIGHTS, k=n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def page_ids(seed: int, n: int) -> range:
    if n % 30:
        raise ValueError("page count must be a multiple of 30 to keep the kind mix")
    offset = 30 * random.Random(seed ^ 0x5EED).randrange(1, 300_000)
    return range(offset, offset + n)


def pages(seed: int, n: int) -> tuple:
    """(pages table, {url: (page_id, expected_text, expected_title,
    expected_doc_type)})."""
    from image_ocr_spark.fixtures import gen_pages as G

    pool = documents(seed, POOL_DOCS)
    texts, langs = pool.column("text").to_pylist(), pool.column("lang").to_pylist()
    rng = random.Random(seed)
    cols: dict = {"doc_id": [], "url": [], "warc_ts": [], "html": [], "lang": []}
    expect: dict = {}
    for pid in page_ids(seed, n):
        j = rng.randrange(POOL_DOCS)
        page = G.build_page(pid, texts[j], langs[j])
        cols["doc_id"].append(pid)
        cols["url"].append(page["url"])
        cols["warc_ts"].append(page["warc_ts"] * 1_000_000)
        cols["html"].append(page["html"])
        cols["lang"].append(page["lang"])
        expect[page["url"]] = (
            pid,
            G.expected_text(pid, texts[j]),
            G.expected_title(pid),
            doc_type_for(pid),
        )
    table = pa.table(
        {
            "doc_id": pa.array(cols["doc_id"], pa.int64()),
            "url": cols["url"],
            "warc_ts": pa.array(cols["warc_ts"], pa.timestamp("us", tz="UTC")),
            "html": pa.array(cols["html"], pa.binary()),
            "lang": cols["lang"],
        }
    )
    return table, expect


def doc_type_for(page_id: int) -> str:
    """The flagship_extract oracle's doc_type formula (receipt / invoice
    pages classify as such, everything else is unknown)."""
    return {6: "receipt", 7: "invoice"}.get(page_id % 10, "unknown")


def write_table(table: pa.Table, path: str, files: int) -> int:
    """Write ``table`` as ``files`` parquet files under ``path``; returns
    the bytes written."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = math.ceil(table.num_rows / files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"))
    return dir_bytes(path)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
        if not f.startswith((".", "_"))
    )


# ---------------------------------------------------------------------------
# oracle checks
# ---------------------------------------------------------------------------


def check_pages(expect: dict, rows: list) -> int:
    """Failed urls: each expected url must come back exactly once with
    byte-identical ``text`` and equal ``title`` / ``doc_type``; missing and
    unexpected urls fail too.  ``rows`` are (url, text, title, doc_type)."""
    seen = Counter(r[0] for r in rows)
    bad = {
        url
        for url, *got in rows
        if seen[url] > 1 or tuple(got) != expect.get(url, (None,))[1:]
    }
    return len(bad | (expect.keys() - seen.keys()))


def check_json_totals(expect: dict, lines: list) -> int:
    """Failures in the JSON sink: each url's extracted text must match, and
    each receipt / invoice total must equal the generator's arithmetic."""
    from image_ocr_spark.fixtures.gen_pages import invoice_values, receipt_values

    got = {url: json.loads(js) for url, js in lines}
    bad = len(expect.keys() - got.keys()) + len(got.keys() - expect.keys())
    for url, doc in got.items():
        want = expect.get(url)
        if want is None:
            continue
        pid, text, _title, doc_type = want
        ok = doc.get("抽出テキスト", "") == text and doc.get("文書タイプ") == doc_type
        if doc_type == "receipt":
            ok = ok and doc.get("領収書データ", {}).get("合計金額") == receipt_values(pid)["total"]
        elif doc_type == "invoice":
            ok = ok and doc.get("請求書データ", {}).get("請求金額") == invoice_values(pid)["total"]
        bad += not ok
    return bad


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def rowset(cols: list, rows) -> list:
    """Sorted normalized rows with columns in name order: the
    order-insensitive comparison the repository's oracle tests use."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in idx) for r in rows)
