"""Bucketed-table co-located joins (the 'bucketing for repeated joins' axis
of the north rule's partitioning story).

A crawl pipeline joins page-keyed relations (extraction output, fields,
spans, scores) on `url` over and over; writing both sides bucketed by url
once makes every later equi-join exchange-free — each task reads matching
buckets from both tables, no shuffle of either side.  The plan property is
asserted in tests/test_bucketed_join.py: SortMergeJoin with ZERO Exchange.

Local-mode warehouse lives under $TMPDIR (session.py); a cluster deployment
points spark.sql.warehouse.dir / the catalog at its metastore instead.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

DEFAULT_BUCKETS = 64


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int = DEFAULT_BUCKETS,
    key: str = "url",
) -> None:
    """Persist `df` as a parquet table bucketed AND sorted by `key`.

    Sorting inside buckets lets the co-located join skip its sort too when
    both sides declare the same sort columns.  Idempotent: drops the table
    and clears a stale warehouse location first — the in-memory catalog
    forgets tables between sessions while their directories persist."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # stale-location cleanup only for simple default-db names whose layout
    # (warehouse/<name>) we know; db-qualified tables live under <db>.db/
    # and are left to DROP TABLE.  The rmtree target is derived from a
    # caller-supplied name, so the name must be a bare identifier AND the
    # resolved path must stay inside the warehouse (no '../x' escapes).
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    if warehouse and re.fullmatch(r"\w+", table):
        wroot = os.path.realpath(warehouse.removeprefix("file:"))
        loc = os.path.realpath(os.path.join(wroot, table.lower()))
        if os.path.commonpath([wroot, loc]) == wroot and os.path.isdir(loc):
            shutil.rmtree(loc)
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str, key: str = "url"
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key — exchange-free.

    The merge hint sits on an INPUT relation (a hint on the join result does
    not reach the planner) and forces sort-merge over broadcast so the
    bucketed layout is actually exercised; at production row counts the
    planner picks SMJ on its own."""
    return spark.table(left_table).hint("merge").join(
        spark.table(right_table), key
    )
