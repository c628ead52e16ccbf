"""Perceptual image hashing + near-duplicate blocking (round 5).

The image side of training-data dedup: re-encoded, re-saved, or
format-shifted copies of the same picture share (or almost share) a
64-bit difference hash, so exact-byte dedup misses them while dHash
blocking catches them — the standard curation step next to text
MinHash/SimHash (Krawetz's dHash; same family as pHash/aHash).

- ``dhash64(width, height, rgb)``: EXACT integer dHash — BT.601
  luminance in integer milli-weights (299/587/114), box resize to a
  9x8 grid with floor(i*dim/9) block boundaries and cross-multiplied
  mean comparisons (``sum_l*cnt_r > sum_r*cnt_l``) so NO float or
  division appears anywhere; bit (r, c) set iff the left block is
  brighter than its right neighbour, row-major from the MSB.
  Format-independent by construction: any two LOSSLESS encodings of the
  same pixels hash identically.
- ``image_hashes``: mapInPandas over payload bytes through the repo's
  own pure-Python codecs (PNG/GIF/BMP/JPEG — undecodable payloads yield
  NULL, never a batch failure).
- ``image_neardup``: the shared banded-Hamming kernel (``hamming.py``)
  over dHash: 4 16-bit bands (pigeonhole for Hamming<=3), bucket
  self-join, first-matching-band filter, exact Hamming verify.

Scale shape: one narrow Arrow pass decodes + hashes (payload bytes
never leave the stage); the only shuffle is the band-bucket join on
uniform 16-bit keys. Reference parity: hongsam14/sigraph has no media
plane — this extends the multimodal dedup family SURVEY §2 adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .hamming import (
    banded_index,
    banded_neardup_pairs,
    incremental_banded_pairs,
)

__all__ = ["dhash64", "dhash_from_payload", "decode_rgb_payload",
           "image_hashes", "image_neardup", "image_index",
           "incremental_image_candidates"]

_GRID_W, _GRID_H = 9, 8  # dHash grid: 8 comparisons per row x 8 rows


def dhash64(width: int, height: int, rgb: bytes) -> int:
    """Exact-integer 64-bit dHash of a top-down RGB buffer."""
    import numpy as np

    if width < 1 or height < 1 or len(rgb) < width * height * 3:
        raise ValueError("dhash64: bad dimensions or short buffer")
    px = np.frombuffer(rgb, dtype=np.uint8)[: width * height * 3]
    px = px.reshape(height, width, 3).astype(np.int64)
    # BT.601 luminance in integer milli-weights — stays integral
    lum = px[:, :, 0] * 299 + px[:, :, 1] * 587 + px[:, :, 2] * 114
    # integer box-resize: block (r, c) spans rows [floor(r*h/8),
    # floor((r+1)*h/8)) x cols [floor(c*w/9), floor((c+1)*w/9));
    # degenerate (empty) spans clamp to one source row/col
    col_sum = np.add.accumulate(lum, axis=1)
    col_sum = np.concatenate(
        [np.zeros((height, 1), dtype=np.int64), col_sum], axis=1)
    row_acc = np.add.accumulate(col_sum, axis=0)
    row_acc = np.concatenate(
        [np.zeros((1, width + 1), dtype=np.int64), row_acc], axis=0)

    def bounds(n_blocks: int, dim: int) -> list:
        out = []
        for b in range(n_blocks):
            lo = b * dim // n_blocks
            hi = (b + 1) * dim // n_blocks
            if hi <= lo:  # dim < n_blocks: clamp to one pixel
                lo = min(b, dim - 1)
                hi = lo + 1
            out.append((lo, hi))
        return out

    rb = bounds(_GRID_H, height)
    cb = bounds(_GRID_W, width)
    sums = [[0] * _GRID_W for _ in range(_GRID_H)]
    cnts = [[0] * _GRID_W for _ in range(_GRID_H)]
    for r, (r0, r1) in enumerate(rb):
        for c, (c0, c1) in enumerate(cb):
            s = (row_acc[r1][c1] - row_acc[r0][c1]
                 - row_acc[r1][c0] + row_acc[r0][c0])
            sums[r][c] = int(s)
            cnts[r][c] = (r1 - r0) * (c1 - c0)
    h = 0
    for r in range(_GRID_H):
        for c in range(_GRID_W - 1):
            # mean_l > mean_r without division: cross-multiply
            bit = int(sums[r][c] * cnts[r][c + 1]
                      > sums[r][c + 1] * cnts[r][c])
            h = (h << 1) | bit
    return h


def decode_rgb_payload(payload: bytes) -> tuple[int, int, bytes]:
    """Sniff + decode via the repo codecs -> ``(w, h, rgb)``. Raises
    ValueError when no codec accepts the payload — the shared pixel
    entry point for every image operator (hashing, tiling, stats)."""
    if not payload or len(payload) < 8:
        raise ValueError("image payload too short")
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        from .multimodal import decode_png
        return decode_png(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        from .multimodal import decode_gif
        return decode_gif(payload)
    if payload[:2] == b"BM":
        from .multimodal import decode_bmp
        return decode_bmp(payload)
    if payload[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg
        return decode_jpeg(payload)
    raise ValueError("unrecognized image container")


def dhash_from_payload(payload: bytes | None) -> int | None:
    """Sniff + decode via the repo codecs, then dHash; None when the
    payload is missing or no codec accepts it."""
    if payload is None:
        return None
    try:
        w, h, rgb = decode_rgb_payload(payload)
        return dhash64(w, h, rgb)
    except ValueError:
        return None


def image_hashes(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """-> ``(id, dh)`` with ``dh`` the signed-long dHash (NULL when
    undecodable). One Arrow-batched narrow pass; bytes stay in-stage."""
    import pandas as pd

    schema = "id string, dh long"

    def run(batches):
        for pdf in batches:
            ids, dhs = [], []
            for i, p in zip(pdf[id_col], pdf[payload_col]):
                dh = dhash_from_payload(bytes(p) if p is not None
                                        else None)
                # store as signed 64-bit (two's complement) for LongType
                if dh is not None and dh >= 1 << 63:
                    dh -= 1 << 64
                ids.append(i)
                dhs.append(dh)
            # dh MUST be nullable Int64, not inferred: a plain
            # pd.DataFrame coerces int+None columns to float64, which
            # silently rounds away the low ~11 bits of a 64-bit hash
            # (53-bit mantissa) whenever an undecodable payload shares
            # the batch
            yield pd.DataFrame({
                "id": pd.Series(ids, dtype=object),
                "dh": pd.Series(dhs, dtype="Int64"),
            })

    return media.select(id_col, payload_col).mapInPandas(run, schema)


def image_index(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """The persistable image-dedup index relation: one row per
    ``(id, dh, bi, bv)`` — the four 16-bit pigeonhole bands of the
    64-bit dHash plus the hash itself (probe time verifies exact
    Hamming, exactly like ``dedup.simhash_index``).

    The table a 100 TB deployment stores (bucketed by ``(bi, bv)``) so
    each crawl snapshot deduplicates its images against the corpus
    WITHOUT re-decoding corpus pixels: decode + hash happen once, at
    ingest. Undecodable payloads drop here (no NULL index rows)."""
    return banded_index(image_hashes(media, id_col, payload_col), "dh")


def incremental_image_candidates(
    new_media: DataFrame,
    index: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_hamming: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Incremental image near-dup: NEW images vs the EXISTING corpus
    index (``image_index`` rows), plus new-vs-new — corpus pixels are
    never re-decoded. A thin wrapper over
    ``hamming.incremental_banded_pairs`` (oracled by the
    ``imagehash_incremental`` gate).

    Returns ``(pairs, delta_index)``: verified pairs ``(a, b,
    hamming)`` (a < b) where at least one endpoint is new, and the
    delta index rows the caller appends to the stored index. The
    returned ``delta_index`` is a lazy ``localCheckpoint``: executor-
    local, lost on executor loss, and holding storage while the caller
    keeps a reference."""
    return incremental_banded_pairs(
        image_index(new_media, id_col, payload_col), index, "dh",
        max_hamming)


def image_neardup(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup image pairs ``(a, b, hamming)`` with Hamming(dHash) <=
    ``max_hamming`` (<= 3 guaranteed complete by the 4-band pigeonhole;
    larger thresholds are best-effort, same contract as SimHash)."""
    return banded_neardup_pairs(image_index(media, id_col, payload_col),
                                "dh", max_hamming)
