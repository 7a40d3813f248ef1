"""Partition-shape helpers.

Small parquet inputs arrive as 1-2 partitions (one per file split);
CPU-heavy per-row derivations (regex tokenize, shingling, hashing)
then run serially no matter how many cores exist. ``fan_out`` inserts
a round-robin repartition to ``sparkContext.defaultParallelism``
ahead of those stages, so narrow single-file reads fan out to all
cores before regex/shingle/hash work.

The target comes from the context, never from ``df.rdd`` — a ``.rdd``
call forces a full physical-planning pass per invocation, a real tax
on hot construction paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition to ``defaultParallelism``. Streaming
    DataFrames pass through untouched (micro-batch sizing belongs to
    the source's ``maxFilesPerTrigger``). Never inspects ``df.rdd`` —
    plan construction stays free of physical-planning passes."""
    if df.isStreaming:
        return df
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
