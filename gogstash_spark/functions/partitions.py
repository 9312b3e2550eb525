"""Parallelism repair for CPU-dense stages over byte-light inputs.

Two local realities starve CPU-heavy operators of cores while the data
is small in BYTES (single-digit MB of text/vectors that cost minutes of
regex/hash/distance CPU):

- a single-row-group parquet file can never scan with more than one
  task (row groups are the split unit), and
- AQE partition coalescing targets bytes (minPartitionSize), so a 5 MB
  post-shuffle frame collapses to 1-2 partitions regardless of how much
  CPU the next projection burns per row.

spread() raises a frame to the session's default parallelism with one
round-robin repartition when (and only when) it currently has fewer
partitions — a no-op on well-partitioned input, so at 100 TB (where
scans and shuffles already exceed core count) it never fires and never
adds an exchange. Values are row-local or order-insensitive in every
caller, so results are unchanged.

Neither helper swallows an error. spread()'s partition probe plans the
frame, which under AQE runs its shuffle stages; a failure there is the
frame's own failure and reaches the caller unchanged. plan_bytes()
returns None only for a streaming frame, which has no batch plan to
size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame, target: int | None = None) -> DataFrame:
    if getattr(df, "isStreaming", False):
        return df
    sc = df.sparkSession.sparkContext
    t = target or sc.defaultParallelism
    return df.repartition(t) if df.rdd.getNumPartitions() < t else df


def plan_bytes(df: DataFrame) -> int | None:
    """Optimizer size estimate of a frame (bytes) — file-size-derived
    for scans; None for a streaming frame. Used to pick
    broadcast-vs-shuffle shapes from DATA SIZE with a conservative env
    budget (GOGSTASH_BROADCAST_CELLS_MB), so local byte-light runs get
    shuffle-free joins while cluster-scale inputs keep the shuffled
    plan."""
    if df.isStreaming:
        return None
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
