"""Continuous-crawl incremental pipeline: fold page DELTAS into persistent
graph state without recomputing — or rewriting — the corpus.

``run_pipeline`` (plans/pipeline.py) is the full-recompute path with
per-stage resume; this module is the APPEND path a 10^12-document crawl
actually runs between full rebuilds: each delta is extracted and
triple-parsed in isolation, linked INCREMENTALLY against the stored
entity state (operators/linking.incremental_link_entities — only unseen
entities are signed/scored, history frozen), and merged into the
cumulative canonical edge table with the same last-writer-wins + weight-sum
combiners as the streaming sink.

The runnable parquet binding is O(delta) per apply, mirroring the
production Iceberg MERGEs (plans/iceberg_sql.py):

* ``mapping`` / ``band_index`` are APPEND-ONLY under frozen history —
  each delta adds one immutable part directory of the NEW entities' rows;
  nothing is ever rewritten (Iceberg twin: insert-if-absent MERGE);
* ``shingle_df`` appends per-delta count INCREMENTS; the read view sums
  per shingle, and parts compact into one when they exceed
  ``ledger.COMPACT_PARTS`` (amortized; Iceberg twin: ``_df = t._df + s._df``);
* ``edges`` uses the versioned hash-bucket scheme of streaming/ingest.py:
  a delta rewrites ONLY the buckets its triples touch; untouched bucket
  files are never rewritten.

Durability: the ``plans/ledger.py`` protocol — all new part/bucket
directories land first, then ONE atomic commit of ``_state.json``, which
carries the applied-delta ledger, makes everything live together. A
crash before the commit leaves the old state fully intact (orphan dirs
are garbage-collected on the next apply); a redelivered delta no-ops on
the ledger, so weights can never double-count.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sigraph_spark.plans import ledger

# the touched-bucket merge (edge combiner, bucket hash and bucket count) is
# SHARED with the streaming sink — one definition, so the "same semilattice
# combiner" contract between the two incremental paths is structural, not
# parallel copies that could drift
from sigraph_spark.streaming.ingest import merge_buckets


def _state(workdir: str) -> dict:
    return ledger.load(workdir, {
        "applied": [],
        "version": 0,
        "n_entities": 0,
        "parts": {"mapping": [], "band_index": [], "shingle_df": []},
        "edge_buckets": {},
        "edge_bucket_rows": {},
    })


def _sum_df(df: DataFrame) -> DataFrame:
    """shingle_df's read view: sum the appended per-shingle increments."""
    return df.groupBy("sh").agg(F.sum("_df").alias("_df"))


def _live(st: dict) -> list[str]:
    return [r for rels in st["parts"].values() for r in rels] + list(
        st["edge_buckets"].values()
    )


def crawl_state_tables(
    spark: SparkSession, workdir: str
) -> dict[str, DataFrame | None]:
    """Current committed state: {edges, mapping, band_index, shingle_df}.
    shingle_df sums its appended increments; edges unions the live bucket
    versions."""
    st = _state(workdir)

    def read(rels):
        return spark.read.parquet(
            *[os.path.join(workdir, r) for r in rels]) if rels else None

    df = read(st["parts"]["shingle_df"])
    return {
        "mapping": read(st["parts"]["mapping"]),
        "band_index": read(st["parts"]["band_index"]),
        "shingle_df": _sum_df(df) if df is not None else None,
        "edges": read(sorted(st["edge_buckets"].values())),
    }


def apply_crawl_delta(
    spark: SparkSession,
    delta_pages: DataFrame,
    workdir: str,
    delta_id: str,
) -> dict | None:
    """Fold one crawl delta (pages table) into the persistent state at
    ``workdir``. ``delta_id`` is the caller's idempotency key (crawl
    segment id / snapshot fingerprint). Returns the apply report, or None
    when the delta was already applied (replay no-op)."""
    from sigraph_spark.operators.extract import extract_pages
    from sigraph_spark.operators.linking import (
        LinkState, canonical_edges, empty_link_state,
        incremental_link_entities,
    )
    from sigraph_spark.operators.triples import triples_from_docs

    st = _state(workdir)
    # GC BEFORE the ledger check: crash orphans from an interrupted apply
    # must be collected even when every subsequent invocation is a replay
    ledger.gc(workdir, _live(st))
    if delta_id in st["applied"]:
        return None

    docs = extract_pages(delta_pages).select("url", "warc_ts", "text")
    triples = triples_from_docs(docs).localCheckpoint(eager=True)
    if triples.isEmpty():
        # nothing to link or merge: record the delta as applied and keep
        # version, parts and buckets as they are
        ledger.commit(workdir, {**st, "applied": sorted({*st["applied"], delta_id})})
        return _report(delta_id, delta_pages, 0, st, 0)

    stored = crawl_state_tables(spark, workdir)
    empty = empty_link_state(spark)
    prev = LinkState(
        mapping=stored["mapping"] if stored["mapping"] is not None else empty.mapping,
        band_index=stored["band_index"]
        if stored["band_index"] is not None
        else empty.band_index,
        shingle_df=stored["shingle_df"]
        if stored["shingle_df"] is not None
        else empty.shingle_df,
        n_entities=st["n_entities"],
    )
    mapping_total, new_state = incremental_link_entities(triples, prev)

    ver = st["version"] + 1
    vname = f"v{ver}"

    # 1) append-only linking parts: ONLY the delta rows are written
    parts = {
        name: ledger.append_part(
            workdir, st["parts"][name], os.path.join(vname, name), df,
            _sum_df if name == "shingle_df" else None,
        )
        for name, df in (
            ("mapping", new_state.delta_mapping),
            ("band_index", new_state.delta_bands),
            ("shingle_df", new_state.delta_df),
        )
    }

    # 2) bucketed edge merge: only delta-touched buckets rewrite
    buckets, merged = merge_buckets(
        workdir, st["edge_buckets"],
        canonical_edges(triples, mapping_total, docs),
        os.path.join(vname, "edges"),
    )
    # per-bucket row counts ride in the state so the report's edges_total
    # stays O(touched), never a full-table scan
    touched_rows = {} if merged is None else {
        str(r["_bucket"]): int(r["n"])
        for r in merged.groupBy("_bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    bucket_rows = {**st["edge_bucket_rows"], **touched_rows}

    # 3) THE commit: one ledger commit (ledger + all references)
    new_st = {
        "applied": sorted({*st["applied"], delta_id}),
        "version": ver,
        "n_entities": new_state.n_entities,
        "parts": parts,
        "edge_buckets": buckets,
        "edge_bucket_rows": bucket_rows,
    }
    ledger.commit(workdir, new_st)
    ledger.gc(workdir, _live(new_st))
    return _report(delta_id, delta_pages, triples.count(), new_st, len(touched_rows))


def _report(
    delta_id: str, delta_pages: DataFrame, triples: int, st: dict,
    touched_buckets: int,
) -> dict:
    """The apply report of the committed state ``st``."""
    return {
        "delta_id": delta_id,
        "version": st["version"],
        "pages": delta_pages.count(),
        "triples": triples,
        "entities_total": st["n_entities"],
        # summed from the per-bucket counts in the state — O(buckets), no
        # full-table scan in the report path
        "edges_total": sum(st["edge_bucket_rows"].values()),
        "touched_buckets": touched_buckets,
        "parts": {k: len(v) for k, v in st["parts"].items()},
    }
