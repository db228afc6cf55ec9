"""Scan-parallelism guard shared by query entrypoints, ANN operators and
the pipeline (optimization guide §2.5, input skew)."""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["widen_scan"]


def widen_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to cluster width when it arrives
    narrower — a single parquet file / row group is ONE scan split, which
    serializes every narrow stage above it (normalize, mapInPandas
    hashing, per-element cosine) on one core.  On a production multi-file
    source this is a no-op (the 1M-doc scaling corpus reads as ~91
    splits, so the scaling legs never hit the repartition).

    Caveat: the partition-count probe goes through ``df.rdd``, which under
    AQE materializes upstream shuffle stages for complex plans — callers
    pass scan-stage frames (raw reads / simple projections), where the
    probe is free.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        return df.repartition(parallelism)
    return df
