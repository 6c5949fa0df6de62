"""Partition width from the optimizer's size estimate: how many tasks a
stage gets from the bytes it sees.  Driver-only: reading it runs no job."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Estimates at or above this are not sizes: Spark's defaultSizeInBytes
# (Long.MaxValue) for a relation without stats — a LogicalRDD such as
# createDataFrame(list) included — and products of it through joins.
_UNKNOWN = 1 << 60


def estimated_bytes(df: DataFrame) -> int | None:
    """The optimized plan's ``sizeInBytes``; None when it is unknown."""
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return size if size < _UNKNOWN else None


def split_bytes(spark: SparkSession) -> int:
    """``spark.sql.files.maxPartitionBytes`` as the JVM parsed it."""
    return spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()


def tasks(amount: int, per_task: int, cap: int | None = None) -> int:
    """ceil(amount / per_task), at least 1, at most ``cap`` when given."""
    n = max(1, -(-amount // per_task))
    return n if cap is None else min(n, cap)


# Spread granularity: one spread task per this many INPUT bytes, capped by
# the core count.  Tasks cost a fixed scheduler/launch overhead (~1-5 ms
# JVM, ~5-6 ms with a Python handoff — measured r13, OPTIMIZATION_r13.md
# change 4), so fanning a 600 KB corpus to 32 tasks puts more wall into task
# launches than into the per-row compute the spread exists to parallelize;
# the r13 in-session A/B read every spread consumer faster or flat with a
# size-derived width (dedup_simhash 1.67->1.25 s mean, text_tfidf_topterms
# 1.20->0.73, dedup_lsh_verified 2.94->2.80, 0 regressions over 10
# queries).  At larger inputs the cores cap keeps the old fan-out, and
# past maxPartitionBytes*cores the spread never fires at all — the
# constant changes LOCAL granularity only.
_SPREAD_BYTES_PER_TASK = 48 * 1024


def spread_small(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition a small-file input before heavy per-row compute
    (explode + hash, codec decode, cosine) — sized by the input, capped by
    the cores.

    A tiny parquet file arrives as 1 scan partition, so any expensive
    projection before the first shuffle runs single-threaded — on a cluster
    a small dimension-ish input serializes the whole stage the same way.
    Shuffling by the downstream grouping key is doubly useful: the work
    spreads across cores AND the resulting hash partitioning satisfies the
    later window/groupBy on that key, so the (much larger) post-explode
    rowset never shuffles.  The width is ``size / _SPREAD_BYTES_PER_TASK``
    capped at ``defaultParallelism`` (scale-adaptive in both directions:
    small corpora don't fragment into launch-overhead-dominated tasks,
    big ones still use every core).  Skipped when the scan already yields
    enough partitions — at scale this branch never triggers.

    The smallness probe reads the OPTIMIZER's size estimate instead of
    ``df.rdd.getNumPartitions()``: ``.rdd`` compiles the physical plan
    (Catalyst physical planning + Janino codegen, ~0.9 s cold on a wide
    shingle/minhash projection) just to count scan splits, while
    ``optimizedPlan().stats()`` stops after logical optimization (~40 ms)
    — the decision only needs order-of-magnitude.  Inputs with unknown
    stats (a frame built from an RDD, such as createDataFrame(list)) fall
    back to the exact partition count and the full-core width."""
    size = estimated_bytes(df)
    cores = df.sparkSession.sparkContext.defaultParallelism
    if size is None:
        parts, target = df.rdd.getNumPartitions(), cores
    else:
        parts = tasks(size, split_bytes(df.sparkSession))
        target = min(cores, max(2, tasks(size, _SPREAD_BYTES_PER_TASK)))
    if parts < target:
        return df.repartition(target, *keys)
    return df
