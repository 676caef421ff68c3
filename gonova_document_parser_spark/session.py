"""SparkSession factory with the engine's tuned defaults.

Settings mirror the reference's hand-tuned physical choices where an
equivalent exists (SURVEY §4): Arrow batch size ~64 docs ↔ the reference's
BATCH_SIZE=64 page batching (``config.py:44-47``); AQE on for runtime skew
handling (the reference has none); dynamic partition overwrite for
idempotent per-partition checkpointed writes (§ checkpoint module).
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession

ARROW_DOCS_PER_BATCH = 64  # reference BATCH_SIZE=64 (config.py:44-47)


def get_spark(
    app_name: str = "gonova-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    configs: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("GONOVA_MASTER", "local[*]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_DOCS_PER_BATCH)
        )
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("GONOVA_DRIVER_MEM", "8g"))
    )
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (configs or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def drop_zip_finders() -> None:
    """Drop the ``zipimporter`` entries from ``sys.path_importer_cache``.

    Called at the start of each batch by every Python function this library
    hands to Spark.  A PySpark worker calls ``importlib.invalidate_caches()``
    before each task, and under CPython 3.11 every cached ``zipimporter``
    then re-reads its archive's whole central directory: one finder per
    imported ``pyspark.zip`` sub-package plus the zip/jar entries of
    ``sys.path``, 0.2-0.45 s per task on a reused 4-CPU worker.  The cache
    is only a cache: a dropped finder is rebuilt on the next import through
    its path from zipimport's module-level directory cache, without reading
    the file.  Per batch rather than once per task, because the first batch
    of a worker still imports lazily (pyarrow loads pandas on first use),
    which rebuilds the ``sys.path`` finders.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)
