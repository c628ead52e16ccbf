"""Streaming media intake: perceptual-dedup state folds in foreachBatch.

The streaming form of the media-dedup pipeline, built for continuous
crawl intake of binary payloads: each micro-batch IS a delta of
:func:`plans.media_delta.apply_media_delta` — payloads decode once,
probe the stored perceptual-hash index (image dHash + acoustic
fingerprint planes), and commit as append-only index/pair parts through
the ``plans/ledger.py`` state ledger (one atomic ``_state.json`` commit).

Exactly-once = streaming checkpoint (offset tracking) + that ledger:
the micro-batch id is the delta id, so a redelivered batch (crash
between state commit and checkpoint commit) is a no-op — stream state
after any replay sequence equals the batch pipeline over the union of
inputs (pinned in tests). One definition of the fold is shared between
the batch CLI's ``--delta-id`` path and this sink — structural reuse,
not parallel copies that could drift (the ``plans/incremental.py`` /
``streaming/ingest.py`` convention).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

__all__ = ["media_batch", "stream_media"]


def media_batch(
    batch: DataFrame, batch_id: int, workdir: str, max_hamming: int = 3
) -> dict | None:
    """Fold one micro-batch of ``(media_id, payload)`` into the
    media-dedup state. Returns the apply report, or None on replay."""
    from sigraph_spark.plans.media_delta import apply_media_delta

    return apply_media_delta(
        batch.sparkSession, batch, workdir, f"batch-{batch_id}",
        max_hamming=max_hamming,
    )


def stream_media(
    spark: SparkSession,
    source_dir: str,
    workdir: str,
    schema: str = "media_id string, payload binary",
    trigger_once: bool = True,
) -> StreamingQuery:
    """readStream over a media drop-directory -> media_batch sink."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    writer = (
        stream.writeStream.foreachBatch(
            lambda b, i: media_batch(b, i, workdir) and None
        )
        .option("checkpointLocation", os.path.join(workdir, "_checkpoint"))
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
