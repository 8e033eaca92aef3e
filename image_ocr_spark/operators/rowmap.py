"""The one Arrow boundary for Python batch passes.

``map_batches`` owns how a DataFrame's batches cross into Python and how
the results come back as typed Arrow columns: the output schema is
declared once (a DDL string or a StructType), its Arrow form is derived
from it on the driver, empty input batches are skipped, and ``fn`` gets
each batch's columns and returns the output columns.  The tokenizer,
``dedup.simhash_arrow``, the numpy kernels in ``similarity`` and
``bloom`` run through it directly.

``map_rows`` is the per-row adapter on top: link, canonical, robots.txt,
sitemap, WARC, PDF span/table, pixel, LM-quality, dedup-signature and
page-synthesis operators run a pure-Python function per input row, whose
output tuples become one struct array typed by the declared schema.

The one other ``mapInArrow`` is ``warcsource.pages_to_warc``: its output
chunk carries records across input batches, so it is not a function of
one batch.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, Sequence, Union

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def _struct(schema: Union[str, StructType]) -> StructType:
    return StructType.fromDDL(schema) if isinstance(schema, str) else schema


def map_batches(
    df: DataFrame,
    fn: Callable[..., Sequence[pa.Array]],
    schema: Union[str, StructType],
) -> DataFrame:
    """``fn(*columns)`` over every non-empty Arrow batch of ``df``, the
    batch's columns in order as the positional arguments.  ``fn`` returns
    the output columns in ``schema`` order; each input batch yields one
    output batch.  ``schema`` (a DDL string or a StructType) is the only
    declaration: the Arrow schema is derived from it here, on the driver."""
    struct = _struct(schema)
    arrow = to_arrow_schema(struct)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows:
                yield pa.RecordBatch.from_arrays(fn(*batch.columns), schema=arrow)

    run.__name__ = fn.__name__  # the plan's MapInArrow node names the kernel
    return df.mapInArrow(run, struct)


def map_rows(
    df: DataFrame,
    fn: Callable[..., Iterable[tuple]],
    schema: Union[str, StructType],
) -> DataFrame:
    """``fn(*row)`` over every row of ``df``, its columns in order as the
    positional arguments.  ``fn`` returns an iterable of output tuples in
    ``schema`` order, so one input row yields 0, 1 or many output rows."""
    struct = _struct(schema)
    # tuples convert into a struct array in one pass; transposing them into
    # per-field lists first made the winnow pass (~100 rows out per row
    # in) 1.6x slower end to end in Python
    row_type = pa.struct(list(to_arrow_schema(struct)))

    def rows(*cols: pa.Array) -> list:
        out: list = []
        for args in zip(*(c.to_pylist() for c in cols)):
            out.extend(fn(*args))
        return pa.array(out, row_type).flatten()

    rows.__name__ = fn.__name__
    return map_batches(df, rows, struct)
