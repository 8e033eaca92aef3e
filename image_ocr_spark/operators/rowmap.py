"""The one Arrow boundary for per-row Python operators.

Link, canonical, robots.txt, sitemap, WARC, PDF span/table, pixel,
LM-quality, dedup-signature and page-synthesis operators all run a
pure-Python function per input row.  ``map_rows`` owns how those
rows cross into Python and how the results become typed Arrow columns:
the input batch's columns are converted once, ``fn`` runs per row, and
its output tuples become one struct array typed by the declared schema.
Each input batch yields one output batch.

Operators whose batch function is not a per-row map keep their own
``mapInArrow`` (see the tokenizer, ``dedup.simhash_arrow``, the numpy
kernels in ``similarity`` and ``bloom``, ``warcsource.pages_to_warc``).
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, Union

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def map_rows(
    df: DataFrame,
    fn: Callable[..., Iterable[tuple]],
    schema: Union[str, StructType],
) -> DataFrame:
    """``fn(*row)`` over every row of ``df``, its columns in order as the
    positional arguments.  ``fn`` returns an iterable of output tuples in
    ``schema`` order, so one input row yields 0, 1 or many output rows.
    ``schema`` (a DDL string or a StructType) is the only declaration: the
    Arrow schema is derived from it here, on the driver."""
    struct = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    # tuples convert into a struct array in one pass; transposing them into
    # per-field lists first made the winnow pass (~100 rows out per row
    # in) 1.6x slower end to end in Python
    row_type = pa.struct(list(to_arrow_schema(struct)))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            out: list = []
            for args in zip(*(c.to_pylist() for c in batch.columns)):
                out.extend(fn(*args))
            yield pa.RecordBatch.from_struct_array(pa.array(out, row_type))

    return df.mapInArrow(run, struct)
