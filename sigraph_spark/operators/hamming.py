"""Banded-Hamming near-duplicate kernel shared by every 64-bit-hash
modality: SimHash text (``dedup``), dHash images (``imagehash``) and
Haar-band audio fingerprints (``audiofp``).

A 64-bit hash splits into four 16-bit bands, numbered high-to-low
(band 0 = bits 63..48). Two hashes within Hamming distance 3 agree on
at least one band (pigeonhole), so a bucket join on ``(bi, bv)`` is a
complete blocking for Hamming <= 3 (best-effort above). Each joined
pair is kept only at its FIRST matching band — a per-row filter
instead of a ``distinct`` shuffle over possibly quadratic pairs — and
then verified exactly via ``bit_count(xor)``.

- ``banded_index``: ``(id, <hash_col>)`` -> the storable band relation
  ``(id, <hash_col>, bi, bv)``. The band order is persisted by
  ``plans/media_delta.py`` and must not change.
- ``banded_neardup_pairs``: the batch self-join.
- ``incremental_banded_pairs``: a delta index probed against a stored
  index, plus new-vs-new, in O(|delta|) probe rows.

Every pair relation has the schema ``(a, b, hamming int)`` with a < b.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["banded_index", "banded_neardup_pairs",
           "incremental_banded_pairs"]


def _band(col: Column, bi: int) -> Column:
    """16-bit band ``bi`` (0..3, high-to-low) of a signed-long hash."""
    return F.shiftrightunsigned(col, 16 * (3 - bi)).bitwiseAND(
        F.lit(0xFFFF))


def _first_match(ca: Column, cb: Column) -> Column:
    """Index of the first band where two hashes agree (pair dedup:
    a bucket-join pair is kept only at its first matching band, so no
    ``distinct`` shuffle is needed)."""
    return (
        F.when(_band(ca, 0) == _band(cb, 0), 0)
        .when(_band(ca, 1) == _band(cb, 1), 1)
        .when(_band(ca, 2) == _band(cb, 2), 2)
        .otherwise(3)
    )


def banded_index(hashes: DataFrame, hash_col: str) -> DataFrame:
    """Explode a 64-bit-hash relation ``(id, <hash_col>)`` into the
    4x16-bit pigeonhole band relation ``(id, <hash_col>, bi, bv)``.
    NULL hashes drop."""
    h = hashes.filter(F.col(hash_col).isNotNull())
    return h.select(
        "id",
        hash_col,
        F.explode(
            F.array(*[
                F.struct(F.lit(bi).alias("bi"),
                         _band(F.col(hash_col), bi).alias("bv"))
                for bi in range(4)
            ])
        ).alias("band"),
    ).select("id", hash_col, F.col("band.bi").alias("bi"),
             F.col("band.bv").alias("bv"))


def _verified_pairs(
    left: DataFrame,
    right: DataFrame,
    hash_col: str,
    max_hamming: int,
    self_join: bool,
) -> DataFrame:
    """Bucket join of two band relations on ``(bi, bv)`` ->
    first-matching-band filter -> exact Hamming verify. ``self_join``
    keeps each unordered pair once (x < y); otherwise every x != y pair
    is kept and oriented to a < b (ids may overlap across the sides
    only when the caller re-feeds an id)."""
    x = left.select("bi", "bv", F.col("id").alias("x"),
                    F.col(hash_col).alias("hx"))
    y = right.select("bi", "bv", F.col("id").alias("y"),
                     F.col(hash_col).alias("hy"))
    keep = (F.col("x") < F.col("y")) if self_join \
        else (F.col("x") != F.col("y"))
    return (
        x.join(y, ["bi", "bv"])
        .filter(keep)
        .filter(F.col("bi") == _first_match(F.col("hx"), F.col("hy")))
        .withColumn("hamming",
                    F.bit_count(F.col("hx").bitwiseXOR(F.col("hy"))))
        .filter(F.col("hamming") <= max_hamming)
        .select(F.least("x", "y").alias("a"),
                F.greatest("x", "y").alias("b"),
                F.col("hamming").cast("int").alias("hamming"))
    )


def banded_neardup_pairs(
    banded: DataFrame,
    hash_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs ``(a, b, hamming)`` from a ``banded_index``
    relation via a bucket self-join."""
    # the index feeds BOTH self-join legs, and its upstream is usually
    # an Arrow hash pass — an opaque subplan the optimizer cannot share
    # across aliased legs, so without a boundary every input re-hashes
    # per leg. One lazy materialization serves both; a deployment reads
    # the STORED index here anyway.
    banded = banded.localCheckpoint(eager=False)
    return _verified_pairs(banded, banded, hash_col, max_hamming, True)


def incremental_banded_pairs(
    delta_index: DataFrame,
    index: DataFrame,
    hash_col: str,
    max_hamming: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup: the NEW rows ``delta_index`` (a
    ``banded_index`` relation) probed against the EXISTING stored
    ``index``, plus new-vs-new. Stored inputs are never re-hashed.

    Returns ``(pairs, delta_index)``: verified pairs ``(a, b,
    hamming)`` (a < b, distinct) where at least one endpoint is new,
    and the delta index rows the caller appends to the stored index.
    The returned ``delta_index`` is a lazy ``localCheckpoint`` of the
    input: it materializes on first use, its blocks are executor-local
    (lost if an executor is lost — persist it before relying on it
    across failures), and it holds storage for as long as the caller
    keeps a reference.

    Equivalence: bands are per-row independent, so ``neardup(old ∪
    new) = neardup(old) ∪ incremental(index(new), index(old))``
    exactly. Probe cost is O(|delta| x 4) rows against a bucketed
    index; band values carry no hot-key amplification beyond true
    duplicate clusters (``dedup.bucket_histogram`` applies)."""
    # the delta feeds the probe leg, both new-vs-new legs, AND the
    # caller's append — without a boundary its Arrow hash pass re-runs
    # per consumer (opaque subplan, no reuse)
    delta_index = delta_index.localCheckpoint(eager=False)
    new_vs_old = _verified_pairs(index, delta_index, hash_col,
                                 max_hamming, False)
    new_vs_new = _verified_pairs(delta_index, delta_index, hash_col,
                                 max_hamming, True)
    # distinct: a re-fed id can surface the same pair from both legs
    return new_vs_old.unionByName(new_vs_new).distinct(), delta_index
