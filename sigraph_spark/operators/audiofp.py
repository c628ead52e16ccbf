"""Acoustic fingerprinting + near-duplicate blocking (round 5).

The audio plane of training-data dedup, completing the modality set
(SimHash text / dHash images / this): re-containered or losslessly
re-encoded copies of the same recording share a 64-bit sub-band
energy fingerprint, so exact-byte dedup misses them while band
blocking catches them.  Same family as the Haitsma-Kalker/Philips
robust hash (sign of band-energy differences); the filter bank here is
an integer Haar decomposition instead of an FFT so EVERY step is exact
int arithmetic — no float appears anywhere in the hash.

- ``audio_fp64(samples)``: EXACT integer fingerprint — 9 equal time
  slices with floor(s*n/9) bounds (the dHash column convention);
  per slice, 8 octave sub-band energies from a Haar cascade
  (``d = a[0::2] - a[1::2]``, ``E = sum(d*d)``, smooth
  ``a = a[0::2] + a[1::2]``, repeat); bit (level, s) is set iff
  ``E[level][s] > E[level][s+1]``, row-major from the MSB.
  Properties, all by construction: invariant under any uniform
  integer gain (energies scale by gain^2, comparisons unchanged),
  under polarity inversion (squares), and under lossless re-encoding
  (FLAC / Ogg-FLAC / WAV carry identical PCM).
- ``audio_hashes``: mapInPandas over payload bytes through the repo's
  own pure-Python codecs (WAV-PCM, IMA ADPCM, FLAC, Ogg-FLAC —
  undecodable payloads yield NULL, never a batch failure).  Output is
  nullable Int64 — the same float64-coercion trap documented in
  ``imagehash.image_hashes`` applies.
- ``audio_neardup`` / ``audio_index``: the shared banded-Hamming
  kernel (``hamming.py``), complete for Hamming <= 3.

Scale shape: one narrow Arrow pass decodes + fingerprints (payload
bytes never leave the stage); the only shuffle is the band-bucket
join.  Overflow bound: energies are < 2^63 for any 16-bit signal up
to ~2^17 samples per slice at the deepest level (int64 headroom
2^63 / (32767 * 2^8)^2); longer inputs are fingerprinted from their
first 2^20 samples — documented cap, logged nowhere silently because
the cap is part of the fingerprint definition.
Reference parity: hongsam14/sigraph has no media plane — this extends
the multimodal dedup family SURVEY §2 adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .hamming import (
    banded_index,
    banded_neardup_pairs,
    incremental_banded_pairs,
)

__all__ = ["audio_fp64", "afp_from_payload", "encode_wav16",
           "audio_hashes", "audio_index", "audio_neardup",
           "incremental_audio_candidates"]

_SLICES = 9        # -> 8 adjacent-slice comparisons per level
_LEVELS = 8        # Haar cascade depth -> 8 levels x 8 comparisons
_MAX_SAMPLES = 1 << 20  # fingerprint window (overflow headroom, see above)


def audio_fp64(samples) -> int:
    """Exact-integer 64-bit sub-band fingerprint of an int 1-D signal.

    Empty / constant slices produce zero energies at every level, so
    silence fingerprints to 0 — callers who want to skip silence can
    filter on that."""
    import numpy as np

    x = np.asarray(samples, dtype=np.int64).ravel()[:_MAX_SAMPLES]
    n = x.shape[0]
    energies = [[0] * _SLICES for _ in range(_LEVELS)]
    for s in range(_SLICES):
        lo = s * n // _SLICES
        hi = (s + 1) * n // _SLICES
        a = x[lo:hi]
        for lev in range(_LEVELS):
            if a.shape[0] < 2:
                break  # deeper levels stay 0
            even = a[: (a.shape[0] // 2) * 2]
            d = even[0::2] - even[1::2]
            energies[lev][s] = int(np.dot(d, d))
            a = even[0::2] + even[1::2]
    h = 0
    for lev in range(_LEVELS):
        for s in range(_SLICES - 1):
            bit = int(energies[lev][s] > energies[lev][s + 1])
            h = (h << 1) | bit
    return h


def _pcm16_channel0(payload: bytes):
    """Sniff + decode via the repo codecs -> int64 array (channel 0,
    exact sample values). Raises ValueError when no codec accepts."""
    import numpy as np

    if payload[:4] == b"fLaC":
        from .flac import decode_flac
        _rate, _ch, _bits, samples = decode_flac(payload)
        return np.asarray(samples, dtype=np.int64)[:, 0]
    if payload[:4] == b"OggS":
        from .oggflac import decode_ogg_flac
        _rate, _ch, _bits, samples = decode_ogg_flac(payload)
        return np.asarray(samples, dtype=np.int64)[:, 0]
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        import io
        import struct
        import wave

        # fmt tag decides PCM vs IMA ADPCM
        try:
            with wave.open(io.BytesIO(payload)) as wf:
                nch = wf.getnchannels()
                width = wf.getsampwidth()
                frames = wf.readframes(wf.getnframes())
            if width != 2:
                raise ValueError("audio_fp: only 16-bit PCM WAV")
            return np.frombuffer(frames, dtype="<i2").astype(
                np.int64)[0::nch]
        except wave.Error:
            pass  # not plain PCM: try the ADPCM decoder
        from .multimodal import decode_ima_adpcm_wav
        _rate, mono = decode_ima_adpcm_wav(payload)
        # mono-channel ADPCM floats are exactly int/32768 (see the
        # decoder); multi-channel averages are halves — round-half-even
        # is still deterministic
        return np.rint(np.asarray(mono) * 32768.0).astype(np.int64)
    raise ValueError("audio_fp: unrecognized container")


def afp_from_payload(payload: bytes | None) -> int | None:
    """Decode + fingerprint; None when the payload is missing or no
    codec accepts it."""
    if not payload or len(payload) < 12:
        return None
    try:
        return audio_fp64(_pcm16_channel0(payload))
    except ValueError:
        return None


def encode_wav16(rate: int, samples) -> bytes:
    """Bit-exact int16 mono PCM WAV writer (the float path in
    ``multimodal.encode_wav`` rounds through [-1, 1] floats, which is
    not sample-exact for arbitrary ints)."""
    import io
    import wave

    import numpy as np

    data = np.asarray(samples, dtype=np.int64)
    if data.size and (data.min() < -32768 or data.max() > 32767):
        raise ValueError("encode_wav16: samples out of int16 range")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(data.astype("<i2").tobytes())
    return buf.getvalue()


def audio_hashes(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """-> ``(id, afp)`` with ``afp`` the signed-long fingerprint (NULL
    when undecodable). One Arrow-batched narrow pass."""
    import pandas as pd

    schema = "id string, afp long"

    def run(batches):
        for pdf in batches:
            ids, fps = [], []
            for i, p in zip(pdf[id_col], pdf[payload_col]):
                fp = afp_from_payload(bytes(p) if p is not None
                                      else None)
                if fp is not None and fp >= 1 << 63:
                    fp -= 1 << 64
                ids.append(i)
                fps.append(fp)
            # nullable Int64: see imagehash.image_hashes — float64
            # inference would round off the low ~11 bits
            yield pd.DataFrame({
                "id": pd.Series(ids, dtype=object),
                "afp": pd.Series(fps, dtype="Int64"),
            })

    return media.select(id_col, payload_col).mapInPandas(run, schema)


def audio_index(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """The persistable audio-dedup index ``(id, afp, bi, bv)`` —
    decode + fingerprint happen once, at ingest (the
    ``imagehash.image_index`` shape on the audio plane)."""
    return banded_index(audio_hashes(media, id_col, payload_col), "afp")


def audio_neardup(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup audio pairs ``(a, b, hamming)`` with
    Hamming(fingerprint) <= ``max_hamming`` (complete for <= 3 by the
    4-band pigeonhole)."""
    return banded_neardup_pairs(
        audio_index(media, id_col, payload_col), "afp", max_hamming)


def incremental_audio_candidates(
    new_media: DataFrame,
    index: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_hamming: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Incremental audio near-dup: NEW clips vs the EXISTING corpus
    index (``audio_index`` rows), plus new-vs-new — corpus samples are
    never re-decoded. Completes the stored-index symmetry across all
    three dedup modalities (text SimHash / image dHash / this). A thin
    wrapper over ``hamming.incremental_banded_pairs``.

    Returns ``(pairs, delta_index)``. The returned ``delta_index``
    is a lazy ``localCheckpoint``: executor-local, lost on executor
    loss, and holding storage while the caller keeps a reference."""
    return incremental_banded_pairs(
        audio_index(new_media, id_col, payload_col), index, "afp",
        max_hamming)
