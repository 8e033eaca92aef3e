"""Content-block selection + main-text assembly as native Spark SQL.

Relational mirror of pycore.blocks (integer-only rule — exact agreement,
pinned per url against pycore.extractor in tests/test_blocks_parity.py and
tests/test_e2e_byte_identity.py).  ``extract_text_packed`` consumes
tokenize_packed's one-row-per-document output: a document's node array
arrives already in document order, so the seed/smoothing rule and text
assembly run as per-row higher-order array expressions (transform /
filter / zip_with with index access — the lag/lead neighbor feature
becomes ``get(seeds, i±1)``) with no shuffle and no window sort.

Every projection is SQL text, assembled once at import from the pycore
constants and applied with one ``selectExpr``.  Built as Column trees,
each lambda, literal and alias was its own Py4J round trip: building
``extract_pages`` took 2,000-3,000 Py4J calls and 0.5-0.6 s on the
driver.  With the rollup and classify as SQL text it takes 140-210 calls
and 0.2-0.3 s (warm builds over the 9,990 perfbench pages, 4-core
host); test_plan_quality bounds it at 400.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.normalize import clean_text, sql_literal
from ..pycore import blocks as pyblocks


def _in(values) -> str:
    return "(%s)" % ", ".join(sql_literal(v) for v in sorted(values))


# a clean block: not boilerplate, and under a third of it link text
_CLEAN = (
    f"x.tag_class NOT IN {_in(pyblocks.BOILER_CLASSES | pyblocks.NON_BODY)}"
    " AND 3 * x.n_link_chars < x.n_chars"
)

# pycore.blocks.is_seed of every node
_SEEDS = f"""transform(nodes, x -> {_CLEAN} AND (
    x.n_words >= {pyblocks.SEED_WORDS}
    OR (x.tag_class IN {_in(pyblocks.TEXT_TAGS)}
        AND (x.n_words >= {pyblocks.MIN_WORDS} OR x.n_chars >= {pyblocks.MIN_CHARS}))))"""

# a seed, or a short clean block next to one (pycore.blocks.select_content)
_CONTENT_FLAGS = f"""transform(nodes, (x, i) -> get(seeds, i) OR (
    {_CLEAN} AND x.n_words >= {pyblocks.NEIGHBOR_WORDS}
    AND (coalesce(get(seeds, i - 1), false) OR coalesce(get(seeds, i + 1), false))))"""


def _first_text(tag: str) -> str:
    return f"get(transform(filter(nodes, n -> n.tag_class = '{tag}'), n -> n.text), 0)"


_ROLLUP = (
    "url",
    "doc_id",
    "engine",
    """array_join(transform(filter(arrays_zip(nodes, content_flags),
        z -> z.content_flags), z -> z.nodes.text), '\\n') AS _raw""",
    f"coalesce({_first_text('title')}, {_first_text('h1')}) AS title",
    "size(filter(nodes, n -> n.node_id >= 0)) AS n_nodes",
    "size(filter(content_flags, c -> c)) AS n_content_nodes",
)

# clean_text guard (r07, guide §1.2 "per-task work"): node texts arrive
# whitespace-COLLAPSED from the tokenizers (" ".join(split()) in
# scan_html_cols / pdf_spans flush), so the joined text contains no \r,
# \t, \n (inside nodes), \x0b, \x0c, no space runs, and no
# leading/trailing whitespace on any line — every clean_text step is
# provably a no-op UNLESS a non-whitespace control char
# [\x00-\x08\x0e-\x1f\x7f] survives collapse (str.split() only removes
# whitespace).  One cheap rlike scan replaces six regexp_replace
# rewrite passes + btrim for the ~100% of real documents with no
# control bytes; documents that do contain one take the full chain, so
# output is byte-identical either way (pinned by test_blocks_parity /
# e2e byte identity, including control-char fixtures).
_CTRL_CLASS = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"

_TEXT = (
    "url",
    "doc_id",
    "engine",
    f"CASE WHEN _raw RLIKE {sql_literal(_CTRL_CLASS)} THEN {clean_text('_raw')}"
    " ELSE _raw END AS text",
    "title",
    "n_nodes",
    "n_content_nodes",
)


def extract_text_packed(packed: DataFrame) -> DataFrame:
    """tokenize_packed output -> one row per url: canonical main text,
    title, node counts.  A document's nodes arrive as one array (already
    in document order), so seed/smoothing/assembly are pure per-row
    higher-order expressions — no shuffle.

    ``seeds`` and ``content_flags`` are projected before the lambdas that
    index them, and ``_raw`` before the 3-reference guard that cleans it:
    CollapseProject keeps a multi-referenced non-trivial alias in its own
    projection, so each is evaluated once per row."""
    return (
        packed.selectExpr("*", f"{_SEEDS} AS seeds")
        .selectExpr("*", f"{_CONTENT_FLAGS} AS content_flags")
        .selectExpr(*_ROLLUP)
        .selectExpr(*_TEXT)
    )
