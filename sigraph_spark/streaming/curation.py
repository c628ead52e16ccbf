"""Streaming training-data ingestion: normalize -> funnel -> incremental
exact dedup against a persistent content-hash index, in foreachBatch.

The streaming form of ``plans.pipeline.run_curation``'s front half, built
for continuous crawl intake: each micro-batch of documents is

  1. normalized and pushed through the curation rule funnel (stateless
     narrow maps — identical Column expressions as batch, so
     stream == batch exactly);
  2. classified against the STORED content-hash index with
     ``dedup.incremental_exact_dedup`` — the corpus is never re-hashed,
     each batch costs O(|batch|) plus one join against the bucketed
     index;
  3. only ``new``-status survivors are appended to the corpus directory,
     and their (content_hash, id) rows are appended to the index.

Exactly-once = streaming checkpoint (offset tracking) + the
``plans/ledger.py`` state ledger, as in ``streaming/ingest.py``: each
batch writes the new index as ``hash_index/v{N}/data`` and one ledger
commit makes it and the applied-batch entry live together, so a
redelivered micro-batch (crash between the commit and the checkpoint
commit) is a no-op — a doc can never be admitted twice, and a doc
REJECTED as a duplicate can never sneak in on replay.

At 100 TB the index/corpus commit seam is an Iceberg MERGE INTO / append
with a batch-id snapshot property; the parquet-local binding keeps the
identical contract testable here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from sigraph_spark.plans import ledger

# The versioned-table state of the three ledger sinks here and in
# streaming/fusion.py and streaming/sketches.py: the table lives at
# ``v{version}/data`` under the state directory.


def _state(state_dir: str) -> dict:
    """The committed state, after collecting what it does not name."""
    st = ledger.load(state_dir, {"applied": [], "version": 0})
    ledger.gc(state_dir, [os.path.join(f"v{st['version']}", "data")])
    return st


def _stored(spark: SparkSession, state_dir: str, st: dict) -> DataFrame | None:
    if not st["version"]:
        return None
    return spark.read.parquet(os.path.join(state_dir, f"v{st['version']}", "data"))


def _commit(state_dir: str, st: dict, batch_id: int, table: DataFrame) -> None:
    """Write ``table`` as the next version, then one ledger commit makes it
    and ``batch_id``'s ledger entry live together."""
    rel = os.path.join(f"v{st['version'] + 1}", "data")
    table.write.mode("overwrite").parquet(os.path.join(state_dir, rel))
    ledger.commit(state_dir, {
        "applied": sorted({*st["applied"], int(batch_id)}),
        "version": st["version"] + 1,
    })
    ledger.gc(state_dir, [rel])


def curate_batch(
    batch: DataFrame, batch_id: int, workdir: str
) -> dict[str, int] | None:
    """Fold one micro-batch of documents (doc_id, text, lang) into the
    curated corpus at ``workdir``. Returns the admission report, or None
    when the batch_id was already applied (replay no-op)."""
    from sigraph_spark.operators.corpus import curation_funnel, normalize_text
    from sigraph_spark.operators.dedup import incremental_exact_dedup

    index_dir = os.path.join(workdir, "hash_index")
    corpus_dir = os.path.join(workdir, "corpus")
    st = _state(index_dir)
    if batch_id in st["applied"]:
        return None

    spark = batch.sparkSession
    normed = (
        batch.select("doc_id", "lang")
        .join(normalize_text(batch), "doc_id")
        .select("doc_id", F.col("norm_text").alias("text"), "lang")
    )
    verdicts = curation_funnel(normed)
    passed = normed.join(
        verdicts.filter(F.col("verdict") == "pass").select("doc_id"), "doc_id"
    ).localCheckpoint(eager=True)

    index = _stored(spark, index_dir, st)
    if index is None:
        index = spark.createDataFrame([], "id long, content_hash string")
    statuses = incremental_exact_dedup(passed, index).localCheckpoint(eager=True)
    new_rows = statuses.filter(F.col("status") == "new")
    admitted = passed.join(new_rows.select("doc_id"), "doc_id")

    # one ledger commit makes the new index (old ∪ new hashes) and the
    # ledger entry live together; the corpus append lands BEFORE it, so a
    # crash in between re-delivers the batch, the ledger check no-ops, and
    # the only residue is an orphaned corpus part-file for a batch that IS
    # in the corpus — guarded by writing the corpus per-batch into its own
    # subdirectory keyed by batch_id (replays overwrite the same path
    # idempotently).
    admitted.write.mode("overwrite").parquet(
        os.path.join(corpus_dir, f"batch_id={int(batch_id)}")
    )
    _commit(index_dir, st, batch_id, index.unionByName(
        new_rows.select(F.col("doc_id").alias("id"), "content_hash")
    ))

    return {
        "input": batch.count(),
        "passed": passed.count(),
        "admitted": admitted.count(),
    }


def stream_curation(
    spark: SparkSession,
    source_dir: str,
    workdir: str,
    schema: str = "doc_id long, text string, lang string",
    trigger_once: bool = True,
) -> StreamingQuery:
    """readStream over a document drop-directory -> curate_batch sink."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    writer = (
        stream.writeStream.foreachBatch(
            lambda b, i: curate_batch(b, i, workdir) and None
        )
        .option("checkpointLocation", os.path.join(workdir, "_checkpoint"))
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def curated_corpus(spark: SparkSession, workdir: str) -> DataFrame:
    """The admitted corpus across all applied batches."""
    return spark.read.parquet(os.path.join(workdir, "corpus"))
