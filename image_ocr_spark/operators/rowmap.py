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

``map_groups`` is the grouped form (``groupBy(...).applyInArrow``): ``fn``
gets one group's columns and returns its output columns.  The bloom
bitmap build and the per-cell embedding pair scoring run through it.

The one other ``mapInArrow`` is ``warcsource.pages_to_warc``: its output
chunk carries records across input batches, so it is not a function of
one batch.  It builds each chunk under ``no_pandas`` too.

No kernel uses pandas, but pyarrow 16's ``pa.array`` / ``pa.scalar``
import it on their first call to probe for pandas inputs, which costs a
Python worker about 41 MB RSS it never uses.  So every kernel call runs
under ``no_pandas``, which makes every pandas import fail meanwhile.
Inside it pyarrow records "pandas absent" and converts lists, ndarrays
and scalars without it; an untyped ``pa.array`` retries the blocked
import on every call, so kernels pass the Arrow type.

The trade-off: Spark reuses a Python worker across passes, and pyarrow
keeps that "pandas absent" answer after the guard is gone.  A later
pandas pass in the same worker (the streaming state operator in
``streaming/stateful.py``, the one left) then imports pandas itself,
but an untyped ``pa.Array.from_pandas`` made before any ``to_pandas``
would convert a categorical to ``string`` instead of ``dictionary`` and
a tz-aware ``ns`` timestamp to ``us``; a ``to_pandas`` call clears the
stale answer.  Spark's pandas passes convert their input with
``to_pandas`` and cast their output to the declared Spark type, so they
return the same types and values (tests/test_arrow_boundary.py checks
this in a reused worker).

What each Python task pays before its first batch, whatever its rows:
Spark hands the task to a reused worker, and PySpark's
``setup_spark_files`` calls ``importlib.invalidate_caches()``.  On Python
3.11 that makes every ``zipimporter`` on the worker's path re-read its
archive's whole central directory: 16 of them in a batch-pass worker
(pyspark.zip's root and 11 of its subpackages at 10-12.6 ms each, the
Spark core jar and its ``/org`` entry at 46 / 50 ms, py4j's zip), 150-270
ms per task on a 4-core host.  So every worker-side entry here and the
WARC writer first call ``_lazy_zip_rereads``, after which an archive is
re-read only when its (mtime, size) changed: a worker's first task still
pays, its later ones do not.  CPython 3.13 made the stdlib re-read lazy,
and there the helper does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport
from contextlib import contextmanager
from typing import Callable, Iterable, Iterator, Sequence, Union

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


class _NoPandasFinder:
    """A ``sys.meta_path`` finder that fails every import of pandas.
    ``sys.modules["pandas"] = None`` would not do: pyarrow's Cython import
    then gets ``None`` and raises ``AttributeError``."""

    @staticmethod
    def find_spec(name, path=None, target=None):
        if name == "pandas" or name.startswith("pandas."):
            raise ImportError(f"{name} is kept out of Python batch passes")
        return None


@contextmanager
def no_pandas() -> Iterator[None]:
    """Make every import of pandas in this process fail for the ``with``
    body (or the decorated call).  A pandas already imported stays
    usable."""
    sys.meta_path.insert(0, _NoPandasFinder)
    try:
        yield
    finally:
        sys.meta_path.remove(_NoPandasFinder)


_stdlib_invalidate = zipimport.zipimporter.invalidate_caches


def _archive_stamp(archive: str) -> tuple:
    st = os.stat(archive)
    return st.st_mtime_ns, st.st_size


def _reread_if_changed(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when its (mtime, size) changed since this importer last
    read it.  An archive that cannot be stat'ed gets the stdlib re-read."""
    try:
        stamp = _archive_stamp(importer.archive)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(importer, "_stamp", None):
        _stdlib_invalidate(importer)
        importer._stamp = stamp


def _lazy_zip_rereads() -> None:
    """Stop this Python worker's later tasks from re-reading unchanged zip
    archives; idempotent, called first by every worker-side entry.

    Each task's ``setup_spark_files`` calls ``importlib.invalidate_caches``,
    and on Python < 3.13 that makes every ``zipimporter`` re-read its
    archive's whole directory (CPython 3.13 only drops the cache).  The
    importers present now were re-read by this task's own setup moments
    ago, so they are stamped as read."""
    if sys.version_info >= (3, 13):
        return
    if zipimport.zipimporter.invalidate_caches is _reread_if_changed:
        return
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            try:
                importer._stamp = _archive_stamp(importer.archive)
            except OSError:
                pass
    zipimport.zipimporter.invalidate_caches = _reread_if_changed


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
        _lazy_zip_rereads()
        for batch in batches:
            if batch.num_rows:
                with no_pandas():
                    out = pa.RecordBatch.from_arrays(
                        fn(*batch.columns), schema=arrow
                    )
                yield out  # unguarded: Spark's own code runs until the next batch

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


def map_groups(
    df: DataFrame,
    keys: Sequence[str],
    fn: Callable[..., Sequence[pa.Array]],
    schema: Union[str, StructType],
) -> DataFrame:
    """``fn(*columns)`` once per group of ``df`` by the ``keys`` columns,
    the group's columns of ``df`` in order as the positional arguments.
    ``fn`` returns the output columns in ``schema`` order, of any length.
    One shuffle brings each group's rows to one task."""
    struct = _struct(schema)
    arrow = to_arrow_schema(struct)

    def run(table):
        _lazy_zip_rereads()
        with no_pandas():
            cols = [c.combine_chunks() for c in table.columns]
            return pa.Table.from_arrays(fn(*cols), schema=arrow)

    run.__name__ = fn.__name__  # names the FlatMapGroupsInArrow node
    return df.groupBy(*keys).applyInArrow(run, struct)
