"""Content-block selection + main-text assembly as native Spark SQL.

Relational mirror of pycore.blocks (integer-only rule — exact agreement,
pinned per url against pycore.extractor in tests/test_blocks_parity.py and
tests/test_e2e_byte_identity.py).  ``extract_text_packed`` consumes
tokenize_packed's one-row-per-document output: a document's node array
arrives already in document order, so the seed/smoothing rule and text
assembly run as per-row higher-order array expressions (transform /
filter / zip_with with index access — the lag/lead neighbor feature
becomes ``get(seeds, i±1)``) with no shuffle and no window sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.normalize import clean_text
from ..pycore import blocks as pyblocks

_BOILER = sorted(pyblocks.BOILER_CLASSES | pyblocks.NON_BODY)
_TEXT_TAGS = sorted(pyblocks.TEXT_TAGS)

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


def _clean_collapsed(raw: Column) -> Column:
    return F.when(raw.rlike(_CTRL_CLASS), clean_text(raw)).otherwise(raw)


def _seed_of(x) -> Column:
    """pycore.blocks.is_seed over a node struct (column or lambda var)."""
    not_boiler = ~x["tag_class"].isin(_BOILER)
    clean = (3 * x["n_link_chars"]) < x["n_chars"]
    long_block = x["n_words"] >= pyblocks.SEED_WORDS
    texty = x["tag_class"].isin(_TEXT_TAGS) & (
        (x["n_words"] >= pyblocks.MIN_WORDS) | (x["n_chars"] >= pyblocks.MIN_CHARS)
    )
    return not_boiler & clean & (long_block | texty)


def _smoothable(x) -> Column:
    return (
        ~x["tag_class"].isin(_BOILER)
        & ((3 * x["n_link_chars"]) < x["n_chars"])
        & (x["n_words"] >= pyblocks.NEIGHBOR_WORDS)
    )


def extract_text_packed(packed: DataFrame) -> DataFrame:
    """tokenize_packed output -> one row per url: canonical main text,
    title, node counts.  A document's nodes arrive as one array (already
    in document order), so seed/smoothing/assembly are pure per-row
    higher-order expressions — no shuffle."""
    seeds = F.transform(F.col("nodes"), _seed_of)
    df = packed.withColumn("seeds", seeds)
    neighbor = lambda i, off: F.coalesce(  # noqa: E731
        F.get(F.col("seeds"), i + off), F.lit(False)
    )
    content = F.transform(
        F.col("nodes"),
        lambda x, i: F.get(F.col("seeds"), i)
        | (_smoothable(x) & (neighbor(i, -1) | neighbor(i, 1))),
    )
    df = df.withColumn("content_flags", content)
    zipped = F.arrays_zip(F.col("nodes"), F.col("content_flags"))
    raw_text = F.array_join(
        F.transform(
            F.filter(zipped, lambda z: z["content_flags"]),
            lambda z: z["nodes"]["text"],
        ),
        "\n",
    )
    first_of = lambda tag: F.get(  # noqa: E731
        F.transform(
            F.filter(F.col("nodes"), lambda n: n["tag_class"] == tag),
            lambda n: n["text"],
        ),
        0,
    )
    df = df.select(
        "url",
        "doc_id",
        "engine",
        raw_text.alias("_raw"),
        F.coalesce(first_of("title"), first_of("h1")).alias("title"),
        F.size(F.filter(F.col("nodes"), lambda n: n["node_id"] >= 0)).alias(
            "n_nodes"
        ),
        F.size(F.filter(F.col("content_flags"), lambda c: c)).alias(
            "n_content_nodes"
        ),
    )
    # separate projection so _raw is evaluated ONCE under the 3-reference
    # guard (CollapseProject keeps multi-referenced non-trivial aliases)
    return df.select(
        "url",
        "doc_id",
        "engine",
        _clean_collapsed(F.col("_raw")).alias("text"),
        "title",
        "n_nodes",
        "n_content_nodes",
    )
