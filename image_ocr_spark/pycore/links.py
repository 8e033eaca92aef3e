"""Anchor-href extraction — the per-document half of the host link graph.

Single source of truth for "which URLs does this page link to": the Spark
operator (operators/linkgraph.py extract_links) calls THIS function inside
its Arrow pass, so Spark output is byte-identical to the pure-Python
reference by construction — the same pycore-first discipline as the
tokenizer (htmltok.py).

Semantics:
- charset handling is exactly the page tokenizer's (decode_html: sniff ->
  decode -> replacement chars on garbage), so a page yields the same hrefs
  no matter which operator touches it first;
- comments and <!...> declarations are stripped BEFORE scanning, so
  commented-out anchors do not count as links;
- an anchor contributes its href attribute value verbatim (whitespace
  trimmed, entity escapes left as-is — canonicalization belongs to the
  relational layer, functions/urls.py), in document order, one entry per
  <a> tag that has a non-empty href;
- scanning is linear-time: the tag regex consumes `[^>]*` (no nested
  quantifiers), the attribute regex alternatives are first-char-disjoint
  (same hostile-input discipline as htmltok, which a fuzz test pins).

The reference has no link concept (it processes isolated scans); this
feeds the beyond-reference host-graph centrality operator.
"""

from __future__ import annotations

import re
from typing import List

from image_ocr_spark.pycore.htmltok import _COMMENT_RE, _DECL_RE, decode_html

# an <a ...> open tag: name must be exactly "a" (then whitespace, /, or >)
_A_TAG_RE = re.compile(r"<[Aa](?=[\s/>])[^>]*>")

# href inside the tag body: double-quoted, single-quoted, or bare value.
# Alternatives are first-char-disjoint after the = (",',other) -> linear.
# The (?<![\w-]) boundary keeps the match off other attributes' suffixes
# (data-href= must not count as href=) — r05 review fix.
_HREF_RE = re.compile(
    r"""(?<![\w-])href\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>"']+))""",
    re.IGNORECASE,
)


def find_hrefs(raw: bytes) -> List[str]:
    """href values of every anchor tag in a raw HTML page, in document
    order.  Anchors without href (or with an empty/whitespace href) are
    skipped.  Never raises: garbage bytes decode best-effort and simply
    yield no anchors."""
    html = decode_html(raw)
    html = _COMMENT_RE.sub(" ", html)
    html = _DECL_RE.sub(" ", html)
    out: List[str] = []
    for tag in _A_TAG_RE.finditer(html):
        m = _HREF_RE.search(tag.group(0))
        if m is None:
            continue
        href = (m.group(1) or m.group(2) or m.group(3) or "").strip()
        if href:
            out.append(href)
    return out
