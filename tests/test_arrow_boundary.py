"""The one Arrow boundary (operators/rowmap.py).

Every Python batch pass goes through ``rowmap.map_batches`` (or its
per-row adapter ``map_rows``); the one other ``mapInArrow`` is the WARC
writer, whose output chunks carry records across input batches.  The
guard parses the library source (no JVM).

``map_batches`` skips empty input batches, so no kernel sees one: the
numpy kernels in ``similarity`` divide by a batch's row count.  Each
operator that runs a batch pass is checked on an empty input and on one
row spread over four partitions (three of them empty).
"""

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

LIB = Path(__file__).resolve().parents[1] / "image_ocr_spark"

# (module file, top-level def) allowed to call .mapInArrow(; None = any def
ALLOWED = {("rowmap.py", None), ("warcsource.py", "pages_to_warc")}


def test_map_in_arrow_only_at_the_boundary():
    found = []
    for path in sorted(LIB.rglob("*.py")):
        for top in ast.parse(path.read_text(), str(path)).body:
            name = getattr(top, "name", None)
            for n in ast.walk(top):
                if (
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "mapInArrow"
                    and (path.name, None) not in ALLOWED
                    and (path.name, name) not in ALLOWED
                ):
                    found.append(f"{path.relative_to(LIB)}:{name}")
    assert not found, (
        f"mapInArrow outside rowmap.map_batches: {found}; "
        "route the pass through rowmap.map_batches or map_rows"
    )


def _spread(df, rows):
    """``df`` with no rows (rows=0), or its first row over 4 partitions.
    The empty case filters at run time (a constant-false filter would let
    the optimizer drop the Python pass altogether)."""
    if rows == 0:
        return df.filter(F.rand(0) < 0)
    return df.limit(1).repartition(4)


@pytest.fixture(scope="module")
def docs(documents):
    return documents.persist()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").persist()


def _extract_pages(spark, docs, emb, rows):
    from image_ocr_spark.operators.generate import generate_pages
    from image_ocr_spark.plans.pipeline import extract_pages

    return extract_pages(_spread(generate_pages(docs), rows))


def _simhash(spark, docs, emb, rows):
    from image_ocr_spark.operators.dedup import simhash_arrow

    return simhash_arrow(_spread(docs, rows))


def _minhash(spark, docs, emb, rows):
    from image_ocr_spark.operators.dedup import minhash_arrow

    return minhash_arrow(_spread(docs, rows))


def _assign_cells(spark, docs, emb, rows):
    from image_ocr_spark.operators.similarity import assign_cells_arrow

    dim = len(emb.first().embedding)
    vecs = _spread(
        emb.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("v")), rows
    )
    return assign_cells_arrow(vecs, [(0, [1.0] * dim), (1, [-1.0] * dim)])


def _brute_force(spark, docs, emb, rows):
    from image_ocr_spark.operators.similarity import brute_force_topk

    one = _spread(emb, rows)
    return brute_force_topk(one, one, k=1)


def _bloom(spark, docs, emb, rows):
    from image_ocr_spark.operators.bloom import bloom_build, flag_maybe_seen

    m_bits = 1 << 12
    bitmap = bloom_build(docs, "text", m_bits, 3)
    return flag_maybe_seen(_spread(docs, rows), bitmap, "text", m_bits, 3)


OPS = {
    "extract_pages": _extract_pages,
    "simhash_arrow": _simhash,
    "map_rows.minhash_arrow": _minhash,
    "assign_cells_arrow": _assign_cells,
    "brute_force_topk": _brute_force,
    "flag_maybe_seen": _bloom,
}


@pytest.mark.parametrize("rows", [0, 1])
@pytest.mark.parametrize("op", list(OPS))
def test_empty_and_sparse_batches(spark, docs, emb, op, rows):
    got = OPS[op](spark, docs, emb, rows).collect()
    assert len(got) == rows, got
