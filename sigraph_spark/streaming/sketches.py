"""Streaming sketch intake: fold micro-batches into persistent HLL
register state and keep per-key distinct-count estimates current.

The streaming form of ``operators/sketches.py``: each micro-batch of
(key, value) observations sketches locally and max-merges into the
stored register table. Because the HLL merge is an IDEMPOTENT
semilattice (max), a replayed batch folds to a no-op even WITHOUT the
ledger — the ledger is still kept (the ``plans/ledger.py`` state ledger,
registers at ``hll_state/v{N}/data`` as in ``streaming/curation.py``)
so the returned counts stay exactly-once and
the contract matches the other intakes; the register state itself is
safe under at-least-once delivery either way. Contrast with a Count-Min
fold, whose per-cell SUM is NOT idempotent and MUST dedup batches via
the ledger first — the reason cms lives behind the same seam but is not
offered ledgerless.

The estimates table is a DERIVED artifact rebuilt from the merged
registers per batch and written before the commit (crash mid-rebuild
costs recomputation, never correctness). At 100 TB the commit seam is an Iceberg MERGE keyed on (key..., reg) with
``rho = greatest(old, new)``; the parquet-local binding keeps the
identical contract testable here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from sigraph_spark.streaming.curation import _commit, _state, _stored


def fold_sketch_batch(
    batch: DataFrame,
    batch_id: int,
    workdir: str,
    key_cols: list[str],
    value_col: str,
    p: int = 12,
) -> dict[str, int] | None:
    """Fold one micro-batch into the register state at ``workdir``.
    Returns {registers, keys} counts, or None on a replayed batch."""
    from sigraph_spark.operators.sketches import (
        hll_estimate, hll_merge, hll_registers,
    )

    state_dir = os.path.join(workdir, "hll_state")
    st = _state(state_dir)
    if batch_id in st["applied"]:
        return None

    delta = hll_registers(batch, key_cols, value_col, p)
    state = _stored(batch.sparkSession, state_dir, st)
    merged = (
        delta if state is None else hll_merge(state, delta, key_cols)
    ).localCheckpoint(eager=True)
    est = hll_estimate(merged, key_cols, p)
    est.write.mode("overwrite").parquet(os.path.join(workdir, "estimates"))
    _commit(state_dir, st, batch_id, merged)
    return {"registers": merged.count(), "keys": est.count()}


def stream_sketches(
    spark: SparkSession,
    source_dir: str,
    workdir: str,
    key_cols: list[str],
    value_col: str,
    schema: str,
    p: int = 12,
) -> StreamingQuery:
    """readStream over an observation drop directory -> foreachBatch
    register fold."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    return (
        stream.writeStream.foreachBatch(
            lambda b, bid: fold_sketch_batch(
                b, bid, workdir, key_cols, value_col, p
            )
        )
        .option("checkpointLocation", os.path.join(workdir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
