"""Streaming webtext KG ingestion: continuous crawl -> fused one-scan
extraction -> O(delta) claims state, in foreachBatch.

The Structured Streaming form of the webtext multi-extractor plan
(``plans/webtext.py``): a crawl drop-directory of page parquet is read
as a stream, and every micro-batch folds into the persistent claims
state through ``apply_webtext_delta`` — the SAME append path the batch
CLI uses (one fused scan of the batch's html, set-union semilattice
claim parts, global re-fuse, one ledger commit of ``_state.json``), so
stream == batch by construction and the ``webtext_state_tables`` view
is the single source of truth either way.

Exactly-once: the streaming checkpoint tracks source offsets, and the
applied-delta LEDGER inside ``_state.json`` (keyed ``batch-<id>``)
makes redelivery a no-op — a crash between the state commit and the
checkpoint commit re-delivers the micro-batch, the ledger check
answers ``None``, and no claim is ever double-counted (the
``plans/ledger.py`` state ledger every delta applier commits through).

At 100 TB the claim parts and fused table are Iceberg appends/MERGEs
with batch-id snapshot properties; the parquet-local state keeps the
identical contract testable here. Per-batch cost is O(batch) for
extraction + one anti-join against stored claims + a re-fuse over the
(fact-vocabulary-sized) claims table — the corpus html is never
re-read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def webtext_batch(
    batch: DataFrame, batch_id: int, workdir: str
) -> dict | None:
    """Fold one micro-batch of crawl pages into the webtext claims
    state. Returns the apply report, or None on a replayed batch."""
    from sigraph_spark.plans.webtext import apply_webtext_delta

    return apply_webtext_delta(
        batch.sparkSession, batch, workdir, f"batch-{int(batch_id)}"
    )


def stream_webtext(
    spark: SparkSession,
    source_dir: str,
    workdir: str,
    schema: str = PAGES_SCHEMA,
    trigger_once: bool = True,
) -> StreamingQuery:
    """readStream over a crawl drop-directory -> webtext_batch sink."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    writer = (
        stream.writeStream.foreachBatch(
            lambda b, i: webtext_batch(b, i, workdir) and None
        )
        .option("checkpointLocation", os.path.join(workdir, "_checkpoint"))
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
