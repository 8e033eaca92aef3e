"""What Python batch-pass workers import, each pass in a fresh worker.

Run as ``python -m tests.worker_probe``; prints one JSON object.  Each
section runs in its own SparkContext on ``local[1]``, so its first Python
pass gets a freshly forked worker and every later pass of the section
reuses that one worker:

- ``map_batches`` / ``map_rows`` / ``map_groups``: a kernel that builds
  typed string and struct arrays with ``pa.array``, then reports whether
  ``pandas`` is in the worker's ``sys.modules`` (and its pid).
- ``reused``: a ``map_batches`` pass, then an ``applyInPandas`` pass that
  returns a categorical and a tz-aware timestamp column, in the worker
  the first pass left behind.  ``fresh`` runs the same pandas pass in a
  worker that ran no batch pass.
- ``zip_rereads``: three ``map_batches`` passes, one task each, in one
  worker.  The kernel counts the worker's zip archive directory reads
  (``zipimport._read_directory``) since its previous call, so the 2nd
  and 3rd passes report what each task's start re-read.

tests/test_arrow_boundary.py runs it in a subprocess: the shared test
session's workers have run whatever earlier tests ran.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa

from image_ocr_spark.operators.rowmap import map_batches, map_groups, map_rows
from image_ocr_spark.session import get_spark

PROBE_SCHEMA = "pandas boolean, pid long"
_NODE = pa.struct([("tag", pa.string()), ("n", pa.int64())])


def _probe() -> tuple:
    import sys

    pa.array(["a", None, "c"], pa.string())
    pa.array([("x", 1), None], _NODE)
    return "pandas" in sys.modules, os.getpid()


def _probe_batch(id, key) -> list:
    loaded, pid = _probe()
    return [pa.array([loaded] * len(id), pa.bool_()), pa.array([pid] * len(id), pa.int64())]


def _probe_row(id, key) -> list:
    return [_probe()]


def _probe_group(id, key) -> list:
    loaded, pid = _probe()
    return [pa.array([loaded], pa.bool_()), pa.array([pid], pa.int64())]


def _zip_reads(id, key) -> list:
    """The worker's zip directory reads since this kernel's previous call
    in it, -1 on the first call (which starts the count).  The count lives
    on the wrapper in ``zipimport``: this module runs as ``__main__``, so
    each task unpickles its own copy of it."""
    import zipimport

    read = zipimport._read_directory
    if hasattr(read, "reads"):
        n, read.reads = read.reads, 0
    else:

        def counted(archive):
            counted.reads += 1
            return read(archive)

        counted.reads = 0
        zipimport._read_directory = counted
        n = -1
    return [pa.array([n] * len(id), pa.int64()), pa.array([os.getpid()] * len(id), pa.int64())]


def _pandas_pass(spark) -> dict:
    def frame(pdf):
        import pandas as pd

        cat = pd.Categorical(["b", "a"])
        ts = pd.to_datetime(
            ["2024-03-01 12:00:00.123456", "2024-03-02 00:00:00.000001"]
        ).tz_localize("Europe/Paris")
        # what pyarrow makes of the two columns in this worker, untyped
        arrow = f"{pa.Array.from_pandas(cat).type}|{pa.Array.from_pandas(ts).type}"
        return pd.DataFrame(
            {"pid": [os.getpid()] * 2, "cat": cat, "ts": ts, "arrow": [arrow] * 2}
        )

    out = (
        spark.range(1, numPartitions=1)
        .groupBy("id")
        .applyInPandas(frame, "pid long, cat string, ts timestamp, arrow string")
    )
    rows = out.collect()
    return {
        "pids": sorted({r.pid for r in rows}),
        "schema": out.schema.simpleString(),
        "rows": [[r.cat, r.ts.isoformat(), r.arrow] for r in rows],
    }


def _section(name: str) -> dict:
    spark = get_spark("local[1]", app_name="worker-probe", shuffle_partitions=1)
    try:
        if name == "fresh":
            return _pandas_pass(spark)
        df = spark.range(8, numPartitions=1).selectExpr("id", "id % 2 AS key")
        if name == "zip_rereads":
            passes = [map_batches(df, _zip_reads, "reads long, pid long").collect() for _ in range(3)]
            return {
                "reads": [sorted({r.reads for r in rows}) for rows in passes],
                "pids": sorted({r.pid for rows in passes for r in rows}),
            }
        if name == "map_rows":
            out = map_rows(df, _probe_row, PROBE_SCHEMA)
        elif name == "map_groups":
            out = map_groups(df, ["key"], _probe_group, PROBE_SCHEMA)
        else:  # map_batches, and the first pass of "reused"
            out = map_batches(df, _probe_batch, PROBE_SCHEMA)
        rows = out.collect()
        got = {"pandas": [r.pandas for r in rows], "pids": sorted({r.pid for r in rows})}
        if name == "reused":
            got["then"] = _pandas_pass(spark)
        return got
    finally:
        spark.stop()


def main() -> None:
    names = ("map_batches", "map_rows", "map_groups", "reused", "fresh", "zip_rereads")
    print(json.dumps({name: _section(name) for name in names}))


if __name__ == "__main__":
    main()
