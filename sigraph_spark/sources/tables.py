"""Sink helpers: bucketed tables and size-targeted parquet writes — the
local bindings of Iceberg's ``bucket(N, col)`` partitioning and its
target-file-size property.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Write a bucketed (hash-partitioned-by-key) table — the local analog
    of Iceberg's ``bucket(N, col)`` storage partitioning.

    Why it matters at 100 TB: a join between two tables bucketed on the
    join key with the same bucket count reads co-located buckets and runs
    with NO Exchange on either side (verified by plan assert in
    tests/test_bucketed_join.py). For the graph tables that means every
    adjacency expansion / node-attribute join after the initial build is
    shuffle-free — the big one-time shuffle happens at write time, then
    every downstream query reuses it. ``sort_cols`` additionally pre-sorts
    within buckets so sort-merge joins skip their sort.

    ``path`` makes it an external table (data at ``path``, metadata in the
    session catalog) — pass it in tests to keep data out of the cwd
    warehouse dir.
    """
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table_name)


def write_sized_parquet(
    df: DataFrame,
    out_dir: str,
    target_file_mb: int = 512,
    sample_rows: int = 10_000,
) -> int:
    """Write ``df`` as parquet with files sized near ``target_file_mb`` —
    the small-files guard: a 100 TB table written straight from a
    50k-partition shuffle produces 50k files per partition boundary,
    which murders both the object store (request amplification) and every
    later scan (task-per-tiny-file). The inverse — too few files — caps
    downstream read parallelism.

    Mechanism: estimate on-disk bytes from a bounded SAMPLE (serialized
    row size x exact row count x a parquet-compression factor measured
    empirically at ~0.4 for text-heavy tables), then coalesce-or-
    repartition to ceil(bytes / target). Estimation is one tiny job plus
    the count; the write itself is the same single pass. Returns the file
    count written. (On Iceberg this is the write.target-file-size-bytes
    table property + rewrite_data_files compaction; this helper is the
    parquet-local binding of the same contract.)
    """
    import math

    n_rows = df.count()
    if n_rows == 0:
        df.coalesce(1).write.mode("overwrite").parquet(out_dir)
        return 1
    sample = df.limit(sample_rows)
    sampled_bytes = (
        sample.select(
            F.sum(F.octet_length(F.to_json(F.struct("*")))).alias("b")
        ).collect()[0]["b"]
        or 1
    )
    sampled_n = min(n_rows, sample_rows)
    est_bytes = (sampled_bytes / sampled_n) * n_rows * 0.4  # parquet factor
    n_files = max(1, math.ceil(est_bytes / (target_file_mb * (1 << 20))))
    shaped = (
        df.coalesce(n_files)
        if n_files < df.rdd.getNumPartitions()
        else df.repartition(n_files)
    )
    shaped.write.mode("overwrite").parquet(out_dir)
    return n_files
