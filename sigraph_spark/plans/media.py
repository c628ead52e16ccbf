"""Checkpointed MEDIA curation pipeline (round 5).

The multimodal counterpart of :func:`plans.pipeline.run_curation` —
the same stage/manifest machinery (atomic rename, chained
fingerprints, per-partition lineage, resume == skip) over a corpus of
binary media payloads:

  m1 sniff   — the no-decode metadata plane (image header walks +
               audio container walks); kind/format/dims per payload,
               'unknown' rows kept — the audit artifact;
  m2 index   — the STORED perceptual-hash band index: image dHash +
               acoustic Haar fingerprint in one Arrow pass each,
               exploded to (media_id, plane, h, bi, bv). This is the
               table an incremental crawl probes
               (``imagehash.incremental_image_candidates``) without
               re-decoding corpus pixels;
  m3 pairs   — per-plane pigeonhole band joins -> verified
               Hamming<=3 near-dup pairs;
  m4 keep    — pairs -> connected components -> one representative
               per cluster (``dedup.dedup_keeplist``).

Decode happens EXACTLY once (m2); every later stage works on hashes
and ids. A new crawl delta invalidates only what it touches via the
chained fingerprints, and the m2 index is precisely the state the
O(delta) incremental path consumes — batch and incremental share one
artifact, the same design as the text-side minhash/simhash indexes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import run_stage, stage_fingerprint, table_fingerprint

__all__ = ["run_media_curation"]


def _sniff(media: DataFrame) -> DataFrame:
    from sigraph_spark.operators.mediameta import image_metadata
    from sigraph_spark.operators.multimodal import audio_metadata

    im = image_metadata(media).filter(F.col("format") != "unknown").select(
        "media_id", F.lit("image").alias("kind"), "format",
        "width", "height",
    )
    au = audio_metadata(media).filter(F.col("format") != "unknown").select(
        "media_id", F.lit("audio").alias("kind"), "format",
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
    )
    known = im.unionByName(au)
    rest = media.select(F.col("media_id").cast("string").alias("media_id")) \
        .join(known.select("media_id"), "media_id", "left_anti") \
        .select(
            "media_id", F.lit("unknown").alias("kind"),
            F.lit("unknown").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
        )
    return known.unionByName(rest)


def _hash_index(media: DataFrame) -> DataFrame:
    from sigraph_spark.operators.audiofp import audio_index
    from sigraph_spark.operators.imagehash import image_index

    im = image_index(media).select(
        F.col("id").alias("media_id"), F.lit("image").alias("plane"),
        F.col("dh").alias("h"), "bi", "bv",
    )
    au = audio_index(media).select(
        F.col("id").alias("media_id"), F.lit("audio").alias("plane"),
        F.col("afp").alias("h"), "bi", "bv",
    )
    return im.unionByName(au)


def _pairs(index: DataFrame, max_hamming: int) -> DataFrame:
    from sigraph_spark.operators.hamming import banded_neardup_pairs

    out = None
    for plane in ("image", "audio"):
        banded = index.filter(F.col("plane") == plane).select(
            F.col("media_id").alias("id"), "h", "bi", "bv",
        )
        p = banded_neardup_pairs(banded, "h", max_hamming) \
            .withColumn("plane", F.lit(plane))
        out = p if out is None else out.unionByName(p)
    return out


def run_media_curation(
    spark: SparkSession,
    media: DataFrame,
    workdir: str,
    max_hamming: int = 3,
    input_fingerprint: str | None = None,
) -> dict[str, DataFrame]:
    """Run (or resume) the four-stage media curation pipeline.
    ``media``: ``(media_id, payload binary)``. Returns the per-stage
    tables; counts are the curation report."""

    # content proxy: id + payload length (an in-place payload edit with
    # an unchanged id must invalidate the chain)
    fp = input_fingerprint or table_fingerprint(
        media.select("media_id", F.length("payload").alias("_len"))
    )

    m1 = run_stage(spark, "m1_sniff", os.path.join(workdir, "m1_sniff"),
                   lambda: _sniff(media), fp + ":m1v1")
    fp1 = stage_fingerprint(workdir, "m1_sniff")

    m2 = run_stage(spark, "m2_index", os.path.join(workdir, "m2_index"),
                   lambda: _hash_index(media), fp1 + ":m2v1",
                   partition_by=["plane"])
    fp2 = stage_fingerprint(workdir, "m2_index")

    m3 = run_stage(
        spark, "m3_pairs", os.path.join(workdir, "m3_pairs"),
        lambda: _pairs(m2, max_hamming), fp2 + f":m3v1:h{max_hamming}")
    fp3 = stage_fingerprint(workdir, "m3_pairs")

    def build_keep() -> DataFrame:
        from sigraph_spark.operators.dedup import dedup_keeplist

        ids = media.select(F.col("media_id").cast("string").alias("media_id"))
        return dedup_keeplist(ids, m3, id_col="media_id")

    m4 = run_stage(spark, "m4_keep", os.path.join(workdir, "m4_keep"),
                   build_keep, fp3 + ":m4v1")

    return {"sniff": m1, "index": m2, "pairs": m3, "keep": m4}
