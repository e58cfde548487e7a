"""Shared LSH-bucket plumbing: tracked persistence + degenerate-bucket pruning.

Both dedup (minhash bands, simhash chunks) and similarity (hyperplane
buckets) generate candidates from bucket self-joins; both need the same two
scale guards:

- ``prune_degenerate_buckets``: drop singleton buckets (no pair can come
  from them) and buckets above a cap (a degenerate bucket — e.g. every
  empty doc hashing together — goes quadratic in the self-join). Done with
  a groupBy().count() + hash join instead of a count-over-Window: the
  window variant SORT-shuffles the full exploded table, the join variant is
  hash-aggregate + hash join (AQE broadcasts the pruned bucket list when it
  is small), no sort anywhere.
- ``persist_tracked`` / ``release_persisted``: intermediates consumed by
  both sides of a self-join are persisted so they compute once; callers in
  long-lived sessions release them after materializing the result (the
  cached blocks otherwise accumulate for the process lifetime).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_LIVE: list[DataFrame] = []


def persist_tracked(
    df: DataFrame,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """persist() + register in the process-global registry, drained by
    ``release_persisted()`` (single-query sessions and the bench's
    between-queries drain; concurrent queries in one session would drain
    each other's intermediates)."""
    df = df.persist(level)
    _LIVE.append(df)
    return df


def release_persisted() -> int:
    """Drain the GLOBAL registry: unpersist every intermediate persisted via
    persist_tracked since the last drain. Call after the
    consuming DataFrame is materialized."""
    n = 0
    while _LIVE:
        df = _LIVE.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


def ensure_scan_parallelism(df: DataFrame, parallelism: int | None = None) -> DataFrame:
    """Round-robin repartition when the scan is visibly under-split.

    A handful of input files — possibly single-row-group parquet, which
    ``spark.sql.files.maxPartitionBytes`` cannot subdivide — would serialize
    every downstream per-row stage (gram explode, tokenization, signature
    UDFs) through one task. ``inputFiles()`` is a plan-only probe (no RDD
    materialization); at 100 TB the scan is thousands of files and this is
    a no-op — the repartition only fires on under-split inputs, where one
    cheap shuffle of the source rows buys full-cluster parallelism for the
    compute-heavy stages above it. Same guard ``minhash_candidates`` has
    carried since round 5, shared so every corpus operator applies it."""
    par = parallelism or df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles() or [None])
    except Exception:
        return df
    return df.repartition(par) if n_files < par else df


def prune_degenerate_buckets(
    df: DataFrame, keys: list[str], max_bucket: int
) -> DataFrame:
    """Keep only rows in buckets whose size is in (1, max_bucket]."""
    sizes = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_bsize"))
        .filter((F.col("_bsize") > 1) & (F.col("_bsize") <= max_bucket))
        .drop("_bsize")
    )
    return df.join(sizes, list(keys))
