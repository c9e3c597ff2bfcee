"""Scan-parallelism guard for narrow inputs (guide §2.5 "input skew").

A compact parquet table often lands as one or two file splits — single-file
dims are even written as ONE row group, which Spark can never split — so a
CPU-heavy stage downstream (a vectorized Python UDF, wide string column
math, per-row hashing) serializes onto one or two cores no matter how many
the cluster has. The fix: repartition UP to the cluster's parallelism when
(and only when) the input arrives with fewer partitions. The exchange moves exactly the rows
the stage was going to read anyway, once, and buys core-count parallelism
for everything above it.

The guard only ever RAISES parallelism: a 100 TB table arrives with
thousands of splits and passes through untouched (no accidental
down-partitioning, no extra exchange at scale). The partition-count probe,
`df.rdd.getNumPartitions()`, plans the query on the driver: a plain scan
runs no job, but a plan holding a broadcast runs one to build it (0.5-1 s
for a broadcast join at local[4]).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition `df` up to min_partitions (default: the
    cluster's defaultParallelism) when it has fewer partitions; returns it
    unchanged otherwise. Round-robin keeps the sort-before-repartition
    determinism guarantee (retried tasks reproduce the same assignment),
    and every caller's downstream result is order-independent."""
    if min_partitions is None:
        min_partitions = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min_partitions:
        return df.repartition(min_partitions)
    return df


def pack_waves(df: DataFrame, max_factor: int = 4) -> DataFrame:
    """fan_out's mirror for a SLIGHTLY over-split input ahead of a
    Python-boundary map stage: coalesce down to defaultParallelism when the
    partition count is above it but within max_factor of it.

    Why: each Python task pays a fixed cost before it reads a row, about
    0.27 CPU-s on a 4-core host with PySpark 4.1 / Python 3.11 (24 runs of
    an identity mapInPandas over 8 one-row partitions: 6.3 CPU-s of worker
    time). Most of it, about 0.2 CPU-s, is the `importlib.invalidate_caches()`
    in `pyspark.worker_util.setup_spark_files`: on Python 3.11 it makes
    each of the worker's 14-16 zipimporters re-read its zip's index, and
    `pyspark.zip` alone has 1,328 entries. So a scan that lands at a small
    multiple of the slot count runs 2-4 ragged waves of half-empty tasks —
    measured on the 2 M-row flagship encode at local[32]: 64 partitions
    0.64 s -> 0.40 s, 128 partitions 0.98 s -> 0.39 s (interleaved
    min-of-5, identical rows).
    coalesce() merges adjacent splits with NO exchange, so this never adds
    a shuffle.

    Why the max_factor bound makes it scale-safe rather than a local[32]
    tune: a genuinely large scan arrives with partitions >> slots and
    passes through untouched — coalescing a 100 TB scan to slot count
    would build monster tasks and forfeit straggler recovery/elasticity,
    exactly the regime where many waves are the POINT. Only the
    "one-ish wave of fragments" regime is packed, and the rule reads the
    actual partition count and cluster parallelism at plan time."""
    p = df.sparkSession.sparkContext.defaultParallelism
    n = df.rdd.getNumPartitions()
    if p < n <= max_factor * p:
        return df.coalesce(p)
    return df
