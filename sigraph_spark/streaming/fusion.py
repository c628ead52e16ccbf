"""Streaming claims intake: fold micro-batches of claims into the
persistent claim state and keep the fused KG current.

The streaming form of ``plans.postprocess``'s k1/k2: each micro-batch of
(subject, predicate, object, source) claims merges into the stored claim
set through the ``fusion.merge_claims`` set-union semilattice — so batch
order, duplication inside a batch, and replay of a whole batch are ALL
no-ops by construction, and the fused table recomputed from the state is
bit-identical to a from-scratch fuse over every claim ever seen
(pinned by the ``triple_fusion_merge`` gate).

Exactly-once = the ``plans/ledger.py`` state ledger, as in
``streaming/curation.py``: the claim set lives at
``claims_state/v{N}/data`` and one ledger commit makes it and the
applied-batch entry live together. At 100 TB the commit seam is an
Iceberg MERGE INTO keyed on the full claim tuple; the parquet-local
binding keeps the identical contract testable here. The fused table is a
DERIVED artifact — rebuilt per batch from the merged claims, never merged
incrementally, and written before the commit, so a crash mid-rebuild
costs recomputation, never correctness, and a batch whose commit landed
never leaves a stale fused table behind.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from sigraph_spark.streaming.curation import _commit, _state, _stored

_CLAIM_COLS = ["subject", "predicate", "object", "source"]


def fold_claims_batch(
    batch: DataFrame, batch_id: int, workdir: str
) -> dict[str, int] | None:
    """Fold one micro-batch of claims into the state at ``workdir``.
    Returns {claims_state, fused} counts, or None on a replayed
    batch_id."""
    from sigraph_spark.operators.fusion import fuse_triples, merge_claims

    state_dir = os.path.join(workdir, "claims_state")
    st = _state(state_dir)
    if batch_id in st["applied"]:
        return None

    state = _stored(batch.sparkSession, state_dir, st)
    merged = merge_claims(state, batch.select(*_CLAIM_COLS)).localCheckpoint(
        eager=True
    )
    fused = fuse_triples(merged, *_CLAIM_COLS)
    fused.write.mode("overwrite").parquet(os.path.join(workdir, "fused"))
    _commit(state_dir, st, batch_id, merged)
    return {"claims_state": merged.count(), "fused": fused.count()}


def stream_claims(
    spark: SparkSession,
    source_dir: str,
    workdir: str,
    schema: str = (
        "subject string, predicate string, object string, source string"
    ),
) -> StreamingQuery:
    """readStream over a claims drop directory -> foreachBatch fold."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    return (
        stream.writeStream.foreachBatch(
            lambda b, bid: fold_claims_batch(b, bid, workdir)
        )
        .option("checkpointLocation", os.path.join(workdir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
