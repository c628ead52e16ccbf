"""Skew handling: degree sketching + salted two-phase aggregation.

North-star requirement: "salted repartitioning for head-entity skew (e.g.,
high-degree URLs/entities)". The reference has no analog (its Neo4j point
writes just serialize on the hot node); at 100 TB a groupBy over a key where
one entity carries 30% of rows puts ~30% of the shuffle in one reducer.

Strategy (SURVEY.md §4-custom-2):
1. Sketch the head: one cheap pre-aggregation (count by key, top-N filter)
   or a sampled approximation at very large scale.
2. Phase 1: append ``salt = pmod(hash(<row id>), k)`` for hot keys only
   (cold keys keep salt 0) and aggregate by (key, salt) — map-side partial
   aggregation now spreads the hot key over k reducers.
3. Phase 2: re-aggregate the k partials per hot key (tiny).

Used for adjacency-list building where ``collect_list`` is not algebraic
(no map-side combine), so phase 1 bounds per-reducer list size.
AQE's skew-join splitting (enabled in session.py) covers the join paths;
this module covers aggregation paths, which AQE does not split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sigraph_spark import signals


def hot_keys(df: DataFrame, key: str, threshold_rows: int) -> DataFrame:
    """Keys whose row count exceeds the threshold. One shuffle over (key),
    but count() is algebraic so the map-side combine keeps it cheap."""
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > threshold_rows)
        .select(key, "_n")
    )


def salted_adjacency(
    edges: DataFrame,
    threshold_rows: int = 100_000,
    salt_buckets: int = 32,
) -> DataFrame:
    """Adjacency lists with two-phase salted aggregation for hot sources.

    Same output as ``operators.graph.adjacency_lists`` (sorted struct
    arrays) but per-reducer state for a hot key is bounded by
    rows(key)/salt_buckets in phase 1.
    """
    hot = hot_keys(edges, "src", threshold_rows).select("src", F.lit(True).alias("_hot"))
    salted = (
        edges.join(F.broadcast(hot), "src", "left")
        .withColumn(
            "_salt",
            F.when(
                F.col("_hot").isNotNull(),
                F.pmod(F.xxhash64("dst", "predicate"), F.lit(salt_buckets)),
            ).otherwise(F.lit(0)),
        )
    )
    partial = salted.groupBy("src", "_salt").agg(
        F.collect_list(F.struct("predicate", "dst", "start_time", "weight")).alias("_part"),
        F.count(F.lit(1)).alias("_cnt"),
    )
    return (
        partial.groupBy("src")
        .agg(
            F.array_sort(F.flatten(F.collect_list("_part"))).alias("out_edges"),
            F.sum("_cnt").alias("out_degree"),
        )
    )


def choose_salting(
    edges: DataFrame,
    src: str = "src",
    nominal_parallelism: int | None = None,
    sketch_n: int = 20,
    floor_rows: int = 1024,
    max_buckets: int = 64,
) -> dict:
    """Data-driven salting decision from the degree sketch (VERDICT r2
    item 9): pick ``threshold_rows`` and ``salt_buckets`` for
    :func:`salted_adjacency` from the data instead of static defaults, and
    emit and return the whole decision (sketch included) for the manifest.

    Heuristic: the target per-reducer group size is
    ``max(floor_rows, total_rows / shuffle_partitions)`` — a key above
    that is a straggler candidate; ``salt_buckets`` spreads the hottest
    key down to roughly the target (capped at ``max_buckets``). Two cheap
    jobs: one algebraic count, one top-N degree sketch (map-side combine
    absorbs the head before the shuffle)."""
    import math

    spark = edges.sparkSession
    if nominal_parallelism is None:
        nominal_parallelism = int(
            spark.conf.get("spark.sql.shuffle.partitions", "200")
        )
    total = edges.count()
    top_src = (
        edges.groupBy(src)
        .agg(F.count(F.lit(1)).alias("degree"))
        .orderBy(F.col("degree").desc(), F.col(src))
        .limit(sketch_n)
        .collect()
    )
    target = max(floor_rows, math.ceil(total / max(nominal_parallelism, 1)))
    max_deg = int(top_src[0]["degree"]) if top_src else 0
    buckets = (
        min(max_buckets, max(2, math.ceil(max_deg / target)))
        if max_deg > target
        else 1
    )
    decision = {
        "total_rows": int(total),
        "target_rows_per_reducer": int(target),
        "threshold_rows": int(target),
        "salt_buckets": int(buckets),
        "max_src_degree": max_deg,
        "hot_key_count": sum(1 for r in top_src if r["degree"] > target),
        "top_degrees": [
            {"key": r[src], "degree": int(r["degree"])} for r in top_src[:5]
        ],
    }
    signals.emit("salting", **decision)
    return decision


def top_degree_entities(edges: DataFrame, n: int = 20) -> DataFrame:
    """Degree sketch for choosing salting thresholds; also a useful
    diagnostic query (head-entity report)."""
    return (
        edges.select(F.col("src").alias("entity"))
        .unionAll(edges.select(F.col("dst").alias("entity")))
        .groupBy("entity")
        .agg(F.count(F.lit(1)).alias("degree"))
        .orderBy(F.col("degree").desc(), F.col("entity"))
        .limit(n)
    )
