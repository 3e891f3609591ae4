"""Per-task hygiene for the Python functions the engine hands to Spark.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py``, ``setup_spark_files``). On
CPython 3.11 that makes every ``zipimport.zipimporter`` cached in
``sys.path_importer_cache`` re-read its archive's central directory:
pyspark.zip (1,328 entries), the py4j zip and the spark-core jar, once
per cached package path inside them. In a reused worker that measured
113-291 ms per task on a 4-core x86 box (CPython 3.11.7, Spark 4.1.2),
more than a small kernel partition's whole work.

Every ``mapInPandas`` / ``pandas_udf`` / ``applyInPandas`` function in
this package calls :func:`drop_zip_finders` on its first line, so the
next task's invalidation finds no zip finder to refresh. A later import
from a zip re-creates its finder from zipimport's module-level directory
cache, so import behaviour is unchanged.

:func:`stream_groups` is the one grouped-stream runner the geometry
operators share; it owns their kernel-stage partitioning.
"""

from __future__ import annotations

import sys
import zipimport
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def drop_zip_finders() -> None:
    """Delete the ``zipimporter`` entries from ``sys.path_importer_cache``."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


def stream_groups(
    df: DataFrame,
    key: str,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: T.StructType,
) -> DataFrame:
    """Apply ``fn`` to every ``key`` group of ``df``, each group whole.

    Rows are repartitioned by ``key`` alone, with no partition count, so
    AQE coalesces ``spark.sql.shuffle.partitions`` from the shuffle's
    runtime sizes: a small job runs a few Python tasks, not a fixed
    multiple of the cores of which most read no rows. Each partition is
    sorted by ``key`` and streamed through one pandas iterator
    (mapInPandas) instead of one JVM<->Python round-trip per group
    (applyInPandas); a group split across adjacent Arrow batches is
    buffered until its last row is seen."""

    def stream(batches):
        drop_zip_finders()
        buf = None
        for pdf in batches:
            if buf is not None and len(buf):
                pdf = pd.concat([buf, pdf], ignore_index=True)
            if not len(pdf):
                buf = None
                continue
            last = pdf[key].iloc[-1]
            done = pdf[pdf[key] != last]
            buf = pdf[pdf[key] == last]
            for _, g in done.groupby(key, sort=False):
                yield fn(g)
        if buf is not None and len(buf):
            yield fn(buf)

    parts = df.repartition(key).sortWithinPartitions(key)
    return parts.mapInPandas(stream, schema=schema)
