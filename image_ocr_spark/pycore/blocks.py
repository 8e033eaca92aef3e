"""Boilerpipe-style content-block classification (pure Python reference).

The rule is deliberately *integer-only* so the exact same decision can be
expressed as Spark SQL column expressions (operators/blocks.py) and in the
DuckDB oracle with bit-exact agreement — no float density thresholds.

Semantics (graft of the reference's OCR-confidence model + block rollup,
SURVEY.md §2.4 A1/A5):

  seed      := tag not boilerplate AND 3*n_link_chars < n_chars
               AND (n_words >= SEED_WORDS OR (tag in TEXT_TAGS and n_words >= MIN_WORDS))
  content   := seed OR (short clean block adjacent to a seed)   [one smoothing pass]
  main text := '\n'.join(content node texts in node order), then clean_text()

The smoothing pass mirrors Boilerpipe's prev/next context feature and maps
to lag/lead window functions in Spark (SURVEY.md §2.5).
"""

from __future__ import annotations

from typing import Dict, List

from .normalize import clean_text

BOILER_CLASSES = frozenset("nav header footer aside form menu select".split())
# tag classes that carry main text even when short
TEXT_TAGS = frozenset("p h1 h2 h3 h4 h5 h6 blockquote pre td li".split())
# tag classes never part of main text (title is reported separately)
NON_BODY = frozenset(["title"])

SEED_WORDS = 8       # a long clean block is content regardless of tag
MIN_WORDS = 2        # minimum words for TEXT_TAGS seed blocks
MIN_CHARS = 3        # CJK text has no spaces: chars stand in for words
NEIGHBOR_WORDS = 1   # smoothing: >=1 word, clean, adjacent to a seed


def is_seed(node: Dict) -> bool:
    if node["tag_class"] in BOILER_CLASSES or node["tag_class"] in NON_BODY:
        return False
    if 3 * node["n_link_chars"] >= node["n_chars"]:
        return False
    if node["n_words"] >= SEED_WORDS:
        return True
    return node["tag_class"] in TEXT_TAGS and (
        node["n_words"] >= MIN_WORDS or node["n_chars"] >= MIN_CHARS
    )


def select_content(nodes: List[Dict]) -> List[int]:
    """Return node_ids of content blocks (ordered)."""
    seeds = [is_seed(n) for n in nodes]
    out = []
    for i, n in enumerate(nodes):
        if seeds[i]:
            out.append(n["node_id"])
            continue
        # smoothing: clean short block sandwiched next to a seed
        if (
            n["tag_class"] not in BOILER_CLASSES
            and n["tag_class"] not in NON_BODY
            and 3 * n["n_link_chars"] < n["n_chars"]
            and n["n_words"] >= NEIGHBOR_WORDS
            and ((i > 0 and seeds[i - 1]) or (i + 1 < len(nodes) and seeds[i + 1]))
        ):
            out.append(n["node_id"])
    return out


def extract_main_text(nodes: List[Dict]) -> str:
    """Content selection + canonicalization — the byte-identity target."""
    keep = set(select_content(nodes))
    lines = [n["text"] for n in nodes if n["node_id"] in keep]
    return clean_text("\n".join(lines))
