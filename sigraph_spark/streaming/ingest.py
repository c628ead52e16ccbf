"""Structured-Streaming ingest wrapper.

The reference has no stream engine — "streaming" is REST event-at-a-time
with idempotent MERGE (``/root/reference/src/app/backend/v1/api.py:149-163``;
SURVEY.md §2-J). Our batch pipeline is the source of truth; this wrapper
runs the SAME stage functions over a stream in ``foreachBatch`` so the
merge semantics (and tests) are shared, not re-implemented:

* watermark on ``warc_ts`` bounds state only — there are no windowed aggs
  in the reference to reproduce;
* each micro-batch runs extract -> triples -> an upsert into the edge
  table keyed (subj, predicate, obj): props are last-writer-wins by
  (warc_ts, url), weight sums per-batch counts. Entity canonicalization
  here is BATCH-LOCAL (each micro-batch links its own vocabulary) — the
  latency-first choice; for globally consistent canonicals across deltas
  use the batch append path ``plans/incremental.apply_crawl_delta``,
  which carries persistent frozen-history linking state;
* exactly-once = checkpointLocation (offset tracking) + an IDEMPOTENT
  sink with an applied-batch ledger, so a crash between table commit and
  the streaming checkpoint re-delivers the same batch_id and the sink
  no-ops — weight can never double-count (ADVICE r1).

BUCKETED LOCAL BINDING (O(delta), not O(table), per batch): the edge
table is stored as N_BUCKETS hash buckets of the triple key, each bucket
a versioned parquet directory, with the ``plans/ledger.py`` state file
mapping bucket -> current version path (the applied-batch ledger rides
inside it). A micro-batch merges ONLY the buckets its delta touches
(:func:`merge_buckets`, shared with the crawl-delta append), writes them
as new versions under ``v{batch_id}/``, then commits everything with the
ledger's ONE atomic rename — untouched bucket files are never rewritten
(byte-identical across the batch, pinned by test). A crash before the
commit leaves the old state live and only orphan version dirs, which the
ledger's GC collects on the next batch. This is the parquet-local analog of
the production Iceberg MERGE INTO against a bucket(subj)-partitioned
table with a batch-id snapshot property.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from sigraph_spark.plans import ledger

N_BUCKETS = 16


def _bucket_col() -> Column:
    return F.pmod(F.xxhash64("subj", "predicate", "obj"), F.lit(N_BUCKETS))


def _state(edges_dir: str) -> dict:
    return ledger.load(edges_dir, {"applied": [], "buckets": {}})


def applied_batch_ids(edges_dir: str) -> set[int]:
    return set(_state(edges_dir)["applied"])


def read_edges(spark: SparkSession, edges_dir: str) -> DataFrame | None:
    """The current edge table: the union of every bucket's state-
    referenced version directory. Returns None when nothing is committed."""
    paths = sorted(
        os.path.join(edges_dir, rel)
        for rel in _state(edges_dir)["buckets"].values()
    )
    if not paths:
        return None
    return spark.read.parquet(*paths)


def _merge_edges(existing: DataFrame | None, delta: DataFrame) -> DataFrame:
    """Edge upsert (batch-side MERGE INTO equivalent): union the delta,
    re-dedup on the triple key keeping max (start_time, url) props; weight
    sums the per-batch counts (distinct batches only — the applied-batch
    ledger guarantees each batch folds in at most once)."""
    all_rows = delta if existing is None else existing.unionByName(delta)
    return (
        all_rows.groupBy("subj", "predicate", "obj")
        .agg(
            F.max(F.struct("start_time", "provenance_url", "weight")).alias("_m"),
            F.sum("weight").alias("_wsum"),
        )
        .select(
            "subj", "predicate", "obj",
            F.col("_m.start_time").alias("start_time"),
            F.col("_m.provenance_url").alias("provenance_url"),
            F.col("_wsum").alias("weight"),
        )
    )


def merge_buckets(
    root: str, buckets: dict[str, str], delta: DataFrame, out_rel: str
) -> tuple[dict[str, str], DataFrame | None]:
    """Upsert the ``delta`` edge rows into the bucketed edge table at
    ``root`` whose bucket -> path map is ``buckets``: only the buckets the
    delta touches are read, merged (:func:`_merge_edges`) and written,
    partitioned by ``_bucket``, under ``root/out_rel``; every other bucket
    keeps its files. Returns the new map and the merged rows (with
    ``_bucket``, checkpointed; None when the delta is empty)."""
    spark = delta.sparkSession
    delta = delta.withColumn("_bucket", _bucket_col()).localCheckpoint(eager=True)
    touched = sorted(
        r["_bucket"] for r in delta.select("_bucket").distinct().collect()
    )
    if not touched:
        return buckets, None
    paths = [os.path.join(root, buckets[str(b)]) for b in touched
             if str(b) in buckets]
    existing = spark.read.parquet(*paths) if paths else None
    merged = _merge_edges(existing, delta.drop("_bucket")).withColumn(
        "_bucket", _bucket_col()
    ).localCheckpoint(eager=True)
    merged.write.partitionBy("_bucket").mode("overwrite").parquet(
        os.path.join(root, out_rel)
    )
    new = dict(buckets)
    for b in touched:
        new[str(b)] = os.path.join(out_rel, f"_bucket={b}")
    return new, merged


def apply_pages_batch(batch: DataFrame, batch_id: int, edges_dir: str) -> bool:
    """Fold one micro-batch of pages into the bucketed edge table at
    ``edges_dir``.

    Returns False (no-op) when ``batch_id`` is already in the ledger —
    the redelivery path after a crash between the state commit and the
    checkpoint commit. Otherwise: extract -> triples -> link -> per-batch
    edge delta -> merge ONLY the touched buckets -> one ledger commit.
    """
    from sigraph_spark.operators.extract import extract_pages
    from sigraph_spark.operators.linking import canonical_edges, link_entities
    from sigraph_spark.operators.triples import triples_from_docs

    st = _state(edges_dir)
    # GC BEFORE the ledger check so crash orphans are collected even when
    # the stream is only re-delivering already-applied batches
    ledger.gc(edges_dir, st["buckets"].values())
    if int(batch_id) in st["applied"]:
        return False

    docs = extract_pages(batch).select("url", "warc_ts", "text")
    triples = triples_from_docs(docs)
    delta = canonical_edges(triples, link_entities(triples), docs)
    buckets, _ = merge_buckets(edges_dir, st["buckets"], delta, f"v{int(batch_id)}")
    # an empty micro-batch still commits its ledger entry
    st = {"applied": sorted({*st["applied"], int(batch_id)}), "buckets": buckets}
    ledger.commit(edges_dir, st)
    ledger.gc(edges_dir, buckets.values())
    return True


def stream_pages_to_edges(
    spark: SparkSession,
    source_dir: str,
    workdir: str,
    trigger_once: bool = True,
    watermark: str = "1 hour",
) -> StreamingQuery:
    """pages parquet dir (streamed) -> canonical edge table at
    ``{workdir}/edges`` via foreachBatch running the batch stage functions.

    ``trigger_once`` processes all available input then stops — the
    batch-equivalent mode used in tests; leave False for continuous
    micro-batches. Read the result with :func:`read_edges`.
    """
    edges_dir = os.path.join(workdir, "edges")
    ckpt_dir = os.path.join(workdir, "_checkpoint")

    static_schema = spark.read.parquet(source_dir).schema
    stream = (
        spark.readStream.schema(static_schema)
        .parquet(source_dir)
        .withWatermark("warc_ts", watermark)
    )

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        apply_pages_batch(batch, batch_id, edges_dir)

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", ckpt_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
