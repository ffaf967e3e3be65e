"""Shared operator plumbing."""

from __future__ import annotations

from pyspark.sql import DataFrame


def scan_parallelism(df: DataFrame) -> int:
    """How many tasks ``df``'s partitions can keep busy, without running a
    job: the partition count, but at most one per input file when the plan
    reads files. Byte-sized splits cut a file into ranges, and only a range
    holding a Parquet row group's start gets rows: a one-row-group file cut
    into 8 splits fills 1 of them, and the other 7 tasks finish empty."""
    n = df.rdd.getNumPartitions()
    files = df.inputFiles()
    return min(n, len(files)) if files else n


def ensure_parallelism(df: DataFrame, min_rows_per_partition: int = 1) -> DataFrame:
    """Spread a narrow input over the cluster before a compute-heavy stage.

    Small dimension-sized inputs (a single parquet file) fill ONE
    partition, which serializes any expensive projection downstream —
    interpreted higher-order array functions (MinHash, hyperplane sketches)
    and pandas UDFs never get past one core. When the scan can keep fewer
    tasks busy than the session's default parallelism
    (:func:`scan_parallelism`), repartition round-robin; the shuffle moves
    only the narrow input rows and buys a cluster-wide stage. Inputs that
    already arrive well-partitioned (any real corpus) pass through
    untouched.
    """
    if df.isStreaming:
        # .rdd is illegal on a streaming plan; micro-batch sizing is the
        # trigger's job (maxFilesPerTrigger), not a static repartition
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if scan_parallelism(df) < target:
        return df.repartition(target)
    return df
