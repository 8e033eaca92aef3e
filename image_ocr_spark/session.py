"""SparkSession construction with the engine's scale-oriented defaults.

Tuned for the job shape (SURVEY.md §4): one Arrow boundary (the tokenizer),
hash aggregations, broadcast dictionary joins, AQE everywhere.  On a real
cluster the same config ships via spark-submit --conf; nothing here is
local-mode-specific except the master default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_heap() -> str:
    """Default driver heap: about half of the host's MemTotal, in whole GiB
    (at least 1g); ``SPARK_GRAFT_DRIVER_MEM`` overrides it."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            kib = next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError):
        return "4g"
    return f"{max(1, kib // 2 // (1 << 20))}g"


def _host_cpus() -> int:
    """Default shuffle partitions: the cpus this process may run on;
    ``SPARK_GRAFT_CPUS`` overrides it."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


ENGINE_CONFS = {
    "spark.driver.maxResultSize": "4g",
    # AQE: runtime shuffle coalescing + skew-join splitting (north rule)
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow boundary: 512 rows per batch.  The flagship's Python stage
    # runs as 2 tasks, and each task's rollup, classify and sink of the
    # last batch its worker returns is not overlapped with Python work;
    # a smaller batch shortens that tail and the worker's batch memory
    # (html payloads are ~2-50 KB each).  2048 -> 512 measured
    # pages_extract job_s 1.76 -> 1.65 s and Python RSS 272 -> 258 MB
    # (medians of 3 alternating pairs, 4-core host).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
    # parquet scans: split fat html columns sanely at 100 TB
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.compression.codec": "zstd",
    # timestamps in fixtures are UTC
    "spark.sql.session.timeZone": "UTC",
}


def get_spark(
    master: str | None = None,
    app_name: str = "image_ocr_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    if shuffle_partitions is None:
        shuffle_partitions = _host_cpus()
    heap = _host_heap()
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    # single-JVM local mode: driver heap IS executor heap, sized from the
    # host.  -Xms pinned to -Xmx: a growing heap caused multi-pass GC
    # thrash that showed up as 10-20x stage-CPU swings in bench runs.
    builder = builder.config("spark.driver.memory", heap).config(
        "spark.driver.extraJavaOptions", f"-Xms{heap} -XX:+UseG1GC"
    )
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
