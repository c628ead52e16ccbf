"""O(delta) media-dedup state: continuous-crawl appends (round 5).

The incremental twin of :func:`plans.media.run_media_curation`, the
same state discipline as ``plans/incremental.py``'s crawl appends:
a versioned workdir holding

- append-only PERCEPTUAL-HASH INDEX parts (the ``audio_index`` /
  ``image_index`` relation with a ``plane`` tag) — each delta's
  payloads are decoded exactly once, and prior parts are never
  rewritten (amortized compaction folds them past
  ``ledger.COMPACT_PARTS``);
- append-only PAIR parts — each delta contributes only pairs with a
  new endpoint (``incremental_image_candidates`` /
  ``incremental_audio_candidates`` probing the stored index), which
  by the band-decomposition guarantee reconstructs exactly the
  from-scratch pair set;
- the ``plans/ledger.py`` state ledger: one atomic ``_state.json``
  commit per delta; a replayed ``delta_id`` is a no-op; interrupted
  applies leave orphan ``v{N}`` dirs that its GC collects on the next
  call.

The keeplist is NOT stored — it is derived (connected components over
the accumulated pairs, O(duplicates) not O(corpus)) via
:func:`media_delta_keeplist` when a consumer wants verdicts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sigraph_spark.plans import ledger

__all__ = ["apply_media_delta", "media_state_tables",
           "media_delta_keeplist"]


def _state(workdir: str) -> dict:
    return ledger.load(workdir, {
        "applied": [], "version": 0,
        "parts": {"index": [], "pairs": [], "ids": []},
    })


def _live(st: dict) -> list[str]:
    return [r for rels in st["parts"].values() for r in rels]


def media_state_tables(spark: SparkSession, workdir: str) -> dict:
    """Read the accumulated state -> {'index': df|None, 'pairs':
    df|None, 'ids': df|None}."""
    st = _state(workdir)
    out = {}
    for name in ("index", "pairs", "ids"):
        rels = st["parts"][name]
        out[name] = (
            spark.read.parquet(*[os.path.join(workdir, r) for r in rels])
            if rels else None
        )
    return out


def apply_media_delta(
    spark: SparkSession,
    delta_media: DataFrame,
    workdir: str,
    delta_id: str,
    max_hamming: int = 3,
) -> dict | None:
    """Fold one media delta ``(media_id, payload)`` into the state at
    ``workdir``. Returns the apply report, or None on replay."""
    from sigraph_spark.operators.audiofp import (
        audio_index,
        incremental_audio_candidates,
    )
    from sigraph_spark.operators.imagehash import (
        image_index,
        incremental_image_candidates,
    )

    st = _state(workdir)
    ledger.gc(workdir, _live(st))
    if delta_id in st["applied"]:
        return None

    stored = media_state_tables(spark, workdir)

    def plane_index(plane: str):
        if stored["index"] is None:
            return None
        return stored["index"].filter(F.col("plane") == plane).select(
            F.col("media_id").alias("id"),
            F.col("h").alias("dh" if plane == "image" else "afp"),
            "bi", "bv",
        )

    def empty_idx(hcol: str):
        return spark.createDataFrame(
            [], f"id string, {hcol} long, bi int, bv long")

    im_stored = plane_index("image")
    au_stored = plane_index("audio")
    im_pairs, im_delta = incremental_image_candidates(
        delta_media, im_stored if im_stored is not None
        else empty_idx("dh"), max_hamming=max_hamming)
    au_pairs, au_delta = incremental_audio_candidates(
        delta_media, au_stored if au_stored is not None
        else empty_idx("afp"), max_hamming=max_hamming)

    delta_index = (
        im_delta.select(F.col("id").alias("media_id"),
                        F.lit("image").alias("plane"),
                        F.col("dh").alias("h"), "bi", "bv")
        .unionByName(au_delta.select(
            F.col("id").alias("media_id"), F.lit("audio").alias("plane"),
            F.col("afp").alias("h"), "bi", "bv"))
        .localCheckpoint(eager=True)
    )
    delta_pairs = (
        im_pairs.withColumn("plane", F.lit("image"))
        .unionByName(au_pairs.withColumn("plane", F.lit("audio")))
        .localCheckpoint(eager=True)
    )
    delta_ids = delta_media.select(
        F.col("media_id").cast("string").alias("media_id"))

    ver = st["version"] + 1
    parts = {
        name: ledger.append_part(
            workdir, st["parts"][name], os.path.join(f"v{ver}", name), df)
        for name, df in (
            ("index", delta_index), ("pairs", delta_pairs), ("ids", delta_ids),
        )
    }
    new_st = {
        "applied": sorted({*st["applied"], delta_id}),
        "version": ver,
        "parts": parts,
    }
    ledger.commit(workdir, new_st)
    ledger.gc(workdir, _live(new_st))

    return {
        "delta_id": delta_id,
        "version": ver,
        "payloads": delta_media.count(),
        "new_index_rows": delta_index.count(),
        "new_pairs": delta_pairs.count(),
        "parts": {k: len(v) for k, v in parts.items()},
    }


def media_delta_keeplist(spark: SparkSession, workdir: str) -> DataFrame:
    """Derive keep/drop verdicts from the accumulated state: connected
    components over ALL pair parts (O(duplicates)), one representative
    per cluster, singletons keep themselves."""
    from sigraph_spark.operators.dedup import dedup_keeplist

    stored = media_state_tables(spark, workdir)
    if stored["ids"] is None:
        raise ValueError("no media state at " + workdir)
    ids = stored["ids"].distinct()
    if stored["pairs"] is None:
        return ids.select(
            "media_id", F.col("media_id").alias("cluster_id"),
            F.lit(True).alias("keep"))
    return dedup_keeplist(ids, stored["pairs"], id_col="media_id")
