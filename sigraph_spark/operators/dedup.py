"""Deduplication operators for the training-data pipeline.

Five families, all first-class at 100 TB (driver brief):

* **exact**        — content-hash groupBy; keeps the min-id representative.
* **MinHash+LSH**  — shingle -> minhash signature -> band buckets ->
  bucket-join candidate pairs. The hash family is explicit, documented
  modular arithmetic (``(a*h + b) mod p`` over crc32 shingle hashes) with
  no dependence on Spark ML internals — the Column and numpy formulations
  are proven bit-identical by test (DuckDB lacks crc32, so the driver gate
  records this family rows-only; the downstream Jaccard verify IS
  oracle-checked in integer form).
* **SimHash**      — 64-bit sign-aggregated shingle hash; near-dups =
  Hamming distance <= k, found by the shared banded-Hamming kernel
  (``hamming.py``: 4 16-bit bands, pigeonhole-complete for Hamming<=3).
* **n-gram Jaccard** — exact Jaccard over shingle sets for a candidate
  pair set (the verify step after LSH blocking).
* **embedding cosine** — near-dup by cosine >= t over an
  ``array<float>`` column (see operators/similarity.py for the top-k and
  bucketed variants).

Scale notes:
* signatures are one narrow pass: Arrow-batched numpy kernels (the
  pure-Column formulations are kept for the oracle-portable pieces, but a
  64-slot expression tree exceeds janino's 64KB method limit and falls
  back to interpreted eval — measured ~10x slower);
* the only shuffles are the band-bucket self-joins — keyed on
  near-uniform hash buckets, so no head-key skew by construction; SimHash
  pair dedup is a per-row first-matching-band filter, not a distinct();
* bucket-join pair generation caps per-bucket fanout: a bucket of b docs
  yields b*(b-1)/2 pairs — monitor via ``bucket_histogram`` and raise
  bands/rows when buckets saturate (logged, not silently truncated).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .hamming import (
    banded_index,
    banded_neardup_pairs,
    incremental_banded_pairs,
)

# 61-bit Mersenne prime keeps (a*h+b) mod p exact in signed 64-bit range
# only if a*h fits — so we work mod 2^31-1 with 32-bit shingle hashes
# (crc32 output), the classic Broder construction. All arithmetic stays
# exact in BIGINT in both Spark and DuckDB.
MERSENNE_P = (1 << 31) - 1


def _word_grams(c: Column, k: int) -> Column:
    """Ordered (non-distinct) k-word gram array from lowercased text.

    Built as arrays_zip of k SHIFTED SLICES of the word array rather than
    ``transform(sequence(1, n-k+1), i -> slice(words, i, k))``: the
    indexed-lambda form drops out of codegen into per-element interpreted
    eval (measured ~6x slower on the documents fixture); the zip-shift
    form stays vectorized. Docs with fewer than k words collapse to one
    whole-text gram (the short-input fallback every oracle mirrors).
    """
    words = F.split(F.lower(F.trim(F.coalesce(c, F.lit("")))), r"\s+")
    n = F.size(words)
    cnt = n - (k - 1)
    shifted = [F.slice(words, j + 1, cnt).alias(f"w{j}") for j in range(k)]
    grams = F.transform(
        F.arrays_zip(*shifted),
        lambda s: F.concat_ws(" ", *[s[f"w{j}"] for j in range(k)]),
    )
    return F.when(n < k, F.array(F.concat_ws(" ", words))).otherwise(grams)


def _word_shingles(c: Column, k: int) -> Column:
    """k-word shingle array (distinct) from lowercased text — pure Columns."""
    return F.array_distinct(_word_grams(c, k))


def hash32_md5_le(s: Column) -> Column:
    """Portable 32-bit string hash: the little-endian uint32 of the first
    four md5 digest bytes. Every engine exposes md5, so this family crosses
    engines exactly:

    * Spark (here): reverse the first 4 hex-pairs of ``md5()`` and ``conv``
      base-16 — stays inside whole-stage codegen.
    * numpy kernels: ``int.from_bytes(md5(s).digest()[:4], "little")``.
    * DuckDB oracle: ``md5_number_upper(s) & 4294967295``
      (``md5_number_upper`` IS the little-endian uint64 of digest[0:8]).
    """
    m = F.md5(s.cast("binary"))
    le_hex = F.concat(
        F.substring(m, 7, 2), F.substring(m, 5, 2),
        F.substring(m, 3, 2), F.substring(m, 1, 2),
    )
    return F.conv(le_hex, 16, 10).cast("long")


def shingle_hashes(c: Column, k: int = 3, family: str = "crc32") -> Column:
    """array<long> of hashes of the k-word shingles (sorted distinct).

    ``family="crc32"`` (default): bit-identical across Spark and every
    engine that exposes crc32 (it's the IEEE polynomial), unlike xxhash64
    whose seed handling is Spark-specific. ``family="md5"``: the portable
    ``hash32_md5_le`` form — DuckDB lacks crc32, so the driver-gate oracle
    path uses this family (same Broder construction, different 32-bit
    uniform hash).
    """
    hash_fn = (
        (lambda s: F.crc32(s.cast("binary")))
        if family == "crc32"
        else hash32_md5_le
    )
    return F.array_sort(
        F.array_distinct(F.transform(_word_shingles(c, k), hash_fn))
    )


def minhash_signature(hashes: Column, num_hashes: int = 64) -> Column:
    """MinHash signature: for i in 0..n-1, min over shingles of
    ``(a_i * h + b_i) mod p`` with fixed odd coefficients.

    a_i = 2i+1, b_i = i*i+1 — fixed, documented, reproducible anywhere.
    Empty shingle set -> p (sentinel max) in every slot.

    Single ``aggregate`` pass over the shingle array carrying all
    ``num_hashes`` running minima as an array accumulator — the shingle
    hashes are scanned ONCE (a per-slot formulation would inline and
    recompute the shingling ``num_hashes`` times after Catalyst's
    CollapseProject).
    """
    a_coefs = F.array(*[F.lit(2 * i + 1).cast("long") for i in range(num_hashes)])
    b_coefs = F.array(*[F.lit(i * i + 1).cast("long") for i in range(num_hashes)])
    init = F.array_repeat(F.lit(MERSENNE_P).cast("long"), num_hashes)
    return F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.zip_with(
                a_coefs, b_coefs, lambda a, b: (a * h + b) % F.lit(MERSENNE_P)
            ),
            lambda x, y: F.least(x, y),
        ),
    )


def lsh_band_keys(sig: Column, bands: int = 16, rows: int = 4) -> Column:
    """Band the signature: array of ``band_idx || ':' || joined-rows`` keys.
    Two docs sharing any band key are candidates."""
    return F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(str(b)),
                F.concat_ws("_", F.slice(sig, b * rows + 1, rows)),
            )
            for b in range(bands)
        ]
    )


def _minhash_batch_factory(
    k: int, num_hashes: int, family: str = "crc32", shingle: str = "word"
):
    """Arrow-batched MinHash signatures, numpy-vectorized, computing the
    EXACT same family as ``minhash_signature`` over ``shingle_hashes``
    (``(a_i*h+b_i) mod p``, a_i=2i+1, b_i=i*i+1) — the two formulations are
    bit-identical per hash family (pinned by tests/test_dedup.py). The
    pure-Column form's 64-wide zip_with tree exceeds janino's 64KB method
    limit and drops to interpreted eval; the numpy kernel is one
    (shingles x 64) outer op. ``family``: "crc32" (default) or the
    engine-portable "md5" (see ``hash32_md5_le``). ``shingle``: "word"
    (lowercased word k-grams, the document path) or "char" (raw char
    k-grams mirroring ``linking.char_shingles`` — the entity path; the
    input is already normalized there)."""
    import hashlib
    import zlib

    import numpy as np

    if family == "crc32":
        hash_one = lambda s: zlib.crc32(s.encode())  # noqa: E731
    else:
        hash_one = lambda s: int.from_bytes(  # noqa: E731
            hashlib.md5(s.encode()).digest()[:4], "little"
        )

    A = np.arange(num_hashes, dtype=np.uint64) * 2 + 1
    B = np.arange(num_hashes, dtype=np.uint64) ** 2 + 1
    P = np.uint64(MERSENNE_P)

    def shingles_of(t: str) -> set[str]:
        if shingle == "char":
            t = t or ""
            if len(t) < k:
                return {t}
            return {t[i:i + k] for i in range(len(t) - k + 1)}
        words = (t or "").lower().strip().split()
        if len(words) < k:
            return {" ".join(words)}
        return {" ".join(words[i:i + k]) for i in range(len(words) - k + 1)}

    def batch(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            sh = shingles_of(t)
            hs = np.fromiter(
                (hash_one(s) for s in sh), dtype=np.uint64, count=len(sh)
            )
            if len(hs) == 0:
                out.append([MERSENNE_P] * num_hashes)
                continue
            sig = ((hs[:, None] * A[None, :] + B[None, :]) % P).min(axis=0)
            out.append(sig.astype(np.int64).tolist())
        return pd.Series(out)

    return batch


def minhash_signature_udf(
    k: int = 3,
    num_hashes: int = 64,
    family: str = "crc32",
    shingle: str = "word",
):
    return F.pandas_udf(
        _minhash_batch_factory(k, num_hashes, family, shingle), "array<long>"
    )


def minhash_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    rows: int = 4,
    hash_family: str = "crc32",
) -> DataFrame:
    """MinHash-LSH candidate near-duplicate pairs (a < b by id).

    Plan shape: narrow signature pass (Arrow numpy kernel) -> explode band
    keys -> self-join on band key (shuffle on uniform hash keys) -> pair
    dedup. ``hash_family="md5"`` selects the engine-portable shingle hash
    so an external SQL engine can reproduce the exact pair set.
    """
    assert bands * rows <= num_hashes
    sig = docs.select(
        F.col(id_col).alias("id"),
        minhash_signature_udf(k, num_hashes, hash_family)(F.col(text_col)).alias("sig"),
    )
    banded = sig.select("id", F.explode(lsh_band_keys(F.col("sig"), bands, rows)).alias("bk"))
    # pair generation via ONE grouped shuffle + in-place cross-explode:
    # the aliased a/b self-join legs each re-ran the Arrow signature UDF
    # over the whole corpus (opaque subplans defeat both reuse and
    # exchange sharing) and shuffled the band table twice. Bucket arrays
    # hold bare ids (longs), so per-task memory is linear in the bucket —
    # the downstream pair explosion, not the array, is the quadratic
    # term, exactly as in the join form.
    postings = banded.groupBy("bk").agg(F.collect_list("id").alias("_ids"))
    return (
        postings.select(F.explode("_ids").alias("a"), F.col("_ids").alias("_bs"))
        .select("a", F.explode("_bs").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def minhash_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    rows: int = 4,
    hash_family: str = "crc32",
) -> DataFrame:
    """The persistable LSH index relation: one row per (id, bk) band key.

    This is the table a 100 TB deployment stores (Iceberg, bucketed by
    ``bk``) so that each new crawl snapshot deduplicates against the
    existing corpus WITHOUT re-signing the corpus: signatures are computed
    only for the delta and joined against this index (see
    ``incremental_minhash_candidates``). One narrow Arrow pass + explode;
    no shuffle until the consumer joins on ``bk``.
    """
    assert bands * rows <= num_hashes
    sig = docs.select(
        F.col(id_col).alias("id"),
        minhash_signature_udf(k, num_hashes, hash_family)(F.col(text_col)).alias("sig"),
    )
    return sig.select(
        "id", F.explode(lsh_band_keys(F.col("sig"), bands, rows)).alias("bk")
    )


def incremental_minhash_candidates(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    rows: int = 4,
    hash_family: str = "crc32",
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup candidates: NEW docs vs the EXISTING corpus
    index, plus new-vs-new — without touching corpus text.

    Returns ``(pairs, delta_index)``: candidate pairs (a < b, distinct)
    where at least one endpoint is new, and the delta index rows the caller
    appends to the stored index (so the next snapshot sees these docs as
    corpus).

    Equivalence (oracled by the ``minhash_incremental`` gate query): band
    keys are per-doc independent, so the full-corpus candidate pair set
    decomposes exactly — ``candidates(old ∪ new) = candidates(old) ∪
    incremental(new, index(old))``. The incremental join costs
    O(|delta| x bands) probe rows against a bucketed index instead of
    re-banding the whole corpus: at 10^12 docs with a 10^9 daily crawl
    that is a 1000x scan reduction, and the join key is a near-uniform
    hash bucket (no head-key skew by construction).
    """
    # lazy checkpoint: three consumers (corpus probe, both new-vs-new
    # legs, plus the caller's append) would otherwise each re-run the
    # Arrow signature UDF over the delta
    delta_index = minhash_index(
        new_docs, id_col, text_col, k, num_hashes, bands, rows, hash_family
    ).localCheckpoint(eager=False)
    # New ids may collide with corpus ids only if the caller re-feeds a doc;
    # a != b guard keeps self-pairs out in that case.
    corpus = index.select(F.col("bk"), F.col("id").alias("x"))
    fresh = delta_index.select(F.col("bk"), F.col("id").alias("y"))
    new_vs_old = (
        corpus.join(fresh, "bk")
        .filter(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("a"),
            F.greatest("x", "y").alias("b"),
        )
    )
    n1 = delta_index.select(F.col("bk"), F.col("id").alias("a"))
    n2 = delta_index.select(F.col("bk"), F.col("id").alias("b"))
    new_vs_new = n1.join(n2, "bk").filter(F.col("a") < F.col("b")).select("a", "b")
    return new_vs_old.unionByName(new_vs_new).distinct(), delta_index


def ngram_jaccard(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Exact Jaccard over k-word shingle sets for a candidate pair set.
    Returns (a, b, jaccard). Shingle arrays join in via two broadcasts when
    the pair set is small; the arrays themselves never shuffle twice."""
    # lazy checkpoint: both pair-endpoint joins consume the shingle
    # arrays; unmaterialized, each would re-shingle the whole corpus
    sh = docs.select(
        F.col(id_col).alias("id"),
        shingle_hashes(F.col(text_col), k).alias("sh"),
    ).localCheckpoint(eager=False)
    la = sh.select(F.col("id").alias("a"), F.col("sh").alias("sha"))
    lb = sh.select(F.col("id").alias("b"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb")).cast("double")
    union = F.size(F.array_union("sha", "shb")).cast("double")
    return (
        pairs.join(la, "a")
        .join(lb, "b")
        .select(
            "a",
            "b",
            F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard"),
        )
    )


def minhash_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    k: int = 3,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates -> exact Jaccard verify ->
    connected components -> (id, canonical_id) mapping (total over ids)."""
    from sigraph_spark.operators.linking import connected_components

    cand = minhash_candidates(docs, id_col, text_col, k=k)
    verified = ngram_jaccard(docs, cand, id_col, text_col, k=k).filter(
        F.col("jaccard") >= threshold
    )
    cc = connected_components(verified.select("a", "b"))
    ids = docs.select(F.col(id_col).alias("entity")).distinct()
    return (
        ids.join(cc, "entity", "left")
        .select(
            F.col("entity").alias(id_col),
            F.coalesce(F.col("canonical_id"), F.col("entity")).alias("canonical_id"),
        )
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact-content dedup: group by sha2(text), keep min id as canonical.
    Returns (id, canonical_id, content_hash). One shuffle on the content
    hash (uniform by construction — no skew)."""
    h = F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256)
    return (
        docs.select(F.col(id_col).alias("id"), h.alias("content_hash"))
        .withColumn(
            "canonical_id", F.min("id").over(Window.partitionBy("content_hash"))
        )
        .select(F.col("id").alias(id_col), "canonical_id", "content_hash")
    )


def exact_hash_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Persistable exact-dedup index: one (content_hash, id) row per
    DISTINCT content, keeping the min id as canonical — what a 100 TB
    deployment stores (Iceberg, bucketed by content_hash) so new crawls
    check membership without re-hashing the corpus."""
    h = F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256)
    return (
        docs.select(F.col(id_col).alias("id"), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("id").alias("id"))
        .select("id", "content_hash")
    )


def incremental_exact_dedup(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Classify a crawl delta against the stored content-hash index:
    returns ``(id, content_hash, canonical_id, status)`` with status
    'corpus_dup' (content already in the index — canonical is the corpus
    id), 'batch_dup' (first seen in THIS batch under a smaller id), or
    'new' (canonical_id = own id; exactly the rows whose (content_hash,
    id) the caller appends to the index).

    One hash pass over the delta + one join against the bucketed index
    on the uniform hash key + one within-batch min — the corpus is never
    rescanned. Deterministic: within-batch canonical is the min id.
    """
    h = F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256)
    keyed = new_docs.select(F.col(id_col).alias("id"), h.alias("content_hash"))
    batch_min = keyed.groupBy("content_hash").agg(F.min("id").alias("_bmin"))
    corpus = index.select(
        F.col("content_hash"), F.col("id").alias("_cid")
    )
    return (
        keyed.join(batch_min, "content_hash")
        .join(corpus, "content_hash", "left")
        .select(
            F.col("id").alias(id_col),
            "content_hash",
            F.coalesce(
                F.col("_cid"),
                F.when(F.col("id") > F.col("_bmin"), F.col("_bmin")),
                F.col("id"),
            ).alias("canonical_id"),
            F.when(F.col("_cid").isNotNull(), F.lit("corpus_dup"))
            .when(F.col("id") > F.col("_bmin"), F.lit("batch_dup"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _simhash_batch_factory(family: str = "blake2b"):
    """Arrow-batched SimHash signatures, numpy-vectorized: votes are one
    ``unpackbits`` + column-sum per doc. Hash families (both read as the
    little-endian uint64 of an 8-byte digest):

    * ``blake2b`` (default) — fastest stable 8-byte digest in hashlib.
    * ``md5`` — digest[0:8]; engine-portable: DuckDB's
      ``md5_number_upper(s)`` IS this exact value, so an external SQL
      oracle can reproduce signatures bit-for-bit.

    A pure-Column formulation exists but its 64-bit vote tree exceeds
    janino's 64KB method limit and drops whole-stage codegen to
    interpreted eval (~10x slower)."""
    import hashlib

    import numpy as np

    if family == "blake2b":
        digest8 = lambda s: hashlib.blake2b(s, digest_size=8).digest()  # noqa: E731
    else:
        digest8 = lambda s: hashlib.md5(s).digest()[:8]  # noqa: E731

    def batch(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            words = (t or "").lower().split()
            if len(words) < 3:
                shingles = {" ".join(words)} if words else set()
            else:
                shingles = {" ".join(words[i:i + 3]) for i in range(len(words) - 2)}
            if not shingles:
                out.append(0)
                continue
            hs = np.frombuffer(
                b"".join(digest8(s.encode()) for s in sorted(shingles)),
                dtype=np.uint64,
            )
            bits = np.unpackbits(hs.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
            # signed accumulator: the uint8 column sum promotes to uint64,
            # where a negative vote total would wrap to a huge positive —
            # silently setting every non-tied bit (caught by the DuckDB
            # signature oracle)
            votes = bits.sum(axis=0).astype(np.int64) * 2 - len(hs)  # +1/-1 votes per bit
            sig = np.uint64(0)
            for j in np.nonzero(votes > 0)[0]:
                sig |= np.uint64(1) << np.uint64(j)
            out.append(int(sig.astype(np.int64)))
        return pd.Series(out)

    return batch


def simhash_udf(family: str = "blake2b"):
    return F.pandas_udf(_simhash_batch_factory(family), "long")


def simhash_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_family: str = "blake2b",
) -> DataFrame:
    """The persistable SimHash index relation: one row per
    ``(id, sh, bi, bv)`` — the four 16-bit pigeonhole bands of the
    64-bit signature PLUS the signature itself (probe time verifies
    exact Hamming distance, which the MinHash twin does not need).

    The table a 100 TB deployment stores (bucketed by ``(bi, bv)``) so
    each crawl snapshot deduplicates against the corpus WITHOUT
    re-signing it (see ``incremental_simhash_candidates``). One narrow
    Arrow pass + explode; no shuffle until the consumer joins."""
    return banded_index(docs.select(
        F.col(id_col).alias("id"),
        simhash_udf(hash_family)(F.col(text_col)).alias("sh"),
    ), "sh")


def simhash_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    hash_family: str = "blake2b",
) -> DataFrame:
    """Near-dup pairs ``(a, b, hamming)`` by SimHash: the banded-Hamming
    self-join (``hamming.banded_neardup_pairs``) over ``simhash_index``.

    Signature via the Arrow pandas UDF (see ``_simhash_batch_factory``);
    banding, the bucket self-join, and Hamming verification stay JVM-side."""
    return banded_neardup_pairs(
        simhash_index(docs, id_col, text_col, hash_family), "sh",
        max_hamming)


def incremental_simhash_candidates(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    hash_family: str = "blake2b",
) -> tuple[DataFrame, DataFrame]:
    """Incremental SimHash near-dup: NEW docs vs the EXISTING corpus
    index (``simhash_index`` rows), plus new-vs-new — without touching
    corpus text. A thin wrapper over ``hamming.incremental_banded_pairs``
    (oracled by the ``simhash_incremental`` gate).

    Returns ``(pairs, delta_index)``: verified pairs ``(a, b, hamming)``
    (a < b) where at least one endpoint is new, and the delta index
    rows the caller appends to the stored index. The returned
    ``delta_index`` is a lazy ``localCheckpoint``: executor-local, lost
    on executor loss, and holding storage while the caller keeps a
    reference."""
    return incremental_banded_pairs(
        simhash_index(new_docs, id_col, text_col, hash_family), index,
        "sh", max_hamming)


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------

def embedding_neardup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold over an array<float>
    column. Brute-force all-pairs (correctness baseline; the LSH-bucketed
    scale path lives in operators/similarity.py). Cosine via zip_with dot
    product — JVM-side, no UDF."""
    from sigraph_spark.operators.similarity import l2_normalize, dot

    v = emb.select(
        F.col(id_col).alias("id"), l2_normalize(F.col(vec_col)).alias("v")
    )
    a = v.select(F.col("id").alias("a"), F.col("v").alias("va"))
    b = v.select(F.col("id").alias("b"), F.col("v").alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .withColumn("cosine", dot(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def bucket_histogram(banded: DataFrame, key: str = "bk") -> DataFrame:
    """LSH bucket-size histogram — the no-silent-caps diagnostic: when the
    top buckets approach sqrt(pair budget), raise bands/rows."""
    return (
        banded.groupBy(key)
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .groupBy("bucket_size")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
        .orderBy(F.col("bucket_size").desc())
    )


# ---------------------------------------------------------------------------
# Cluster representative selection (keep-list)
# ---------------------------------------------------------------------------

def dedup_keeplist(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Turn verified near-dup PAIRS into a per-document keep/drop verdict.

    The last step of every near-dup pipeline (MinHash->Jaccard-verify or
    SimHash or embedding-LSH all end in a pair set): connect the pairs
    into clusters and keep exactly one representative per cluster — the
    minimum ``id_col`` (deterministic; swap the ordering key for a quality
    score upstream by remapping ids). Docs in no pair keep themselves.

    Scale shape: connected components is the alternating large-star/
    small-star routine (O(log n) rounds, hub-safe — see
    ``linking.connected_components``); the singleton fill-in is one
    left join from the corpus to the (much smaller) clustered-node map.

    Returns ``(doc_id, cluster_id, keep)``.
    """
    from sigraph_spark.operators.linking import connected_components

    cc = connected_components(pairs.select(a_col, b_col), src=a_col, dst=b_col)
    out = (
        docs.select(F.col(id_col))
        .join(
            cc.select(
                F.col("entity").alias(id_col), F.col("canonical_id").alias("cluster_id")
            ),
            id_col,
            "left",
        )
        .select(
            id_col,
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
        )
    )
    return out.withColumn("keep", F.col(id_col) == F.col("cluster_id"))


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_containment: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-duplicate detection: shingle containment
    ``C(A→B) = |A ∩ B| / |A|`` (Broder's containment, the companion to
    resemblance/Jaccard). Catches the partial-overlap cases symmetric
    Jaccard misses — a short page quoted wholesale inside a long one
    scores C≈1 one way while Jaccard stays low. Standard curation use:
    drop the contained (smaller) side, keep the superset document.

    Returns one row per unordered candidate pair ``(a, b)`` (a < b) with
    ``n_common`` shared k-shingles and both directed scores
    (``containment_ab`` = fraction of a's shingles also in b, 6dp),
    keeping pairs where EITHER direction ≥ ``min_containment``.

    Scale shape: one shingle explode + self-equi-join on the shingle key
    (never all-pairs — only docs sharing a shingle meet), per-pair count
    agg, broadcast-able size lookups. The Zipf-head risk is boilerplate
    shingles shared by everything: ``max_shingle_df`` drops shingles in
    more than that many docs from PAIR GENERATION (denominators keep the
    full set — scores become lower bounds; the standard stop-shingle
    prune, same device as the LSH hot-bucket guard). Exact when None.
    """
    sh = docs.select(
        F.col(id_col).alias("id"),
        F.explode(_word_shingles(F.col(text_col), k)).alias("s"),
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    pair_sh = sh
    if max_shingle_df is not None:
        keep = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("s")
        )
        pair_sh = sh.join(keep, "s", "left_semi")
    a = pair_sh.select(F.col("id").alias("a"), "s")
    b = pair_sh.select(F.col("id").alias("b"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = sizes.select(F.col("id").alias("a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("id").alias("b"), F.col("n").alias("nb"))
    scored = (
        inter.join(na, "a")
        .join(nb, "b")
        .select(
            "a",
            "b",
            F.col("n_common").cast("long").alias("n_common"),
            F.round(F.col("n_common") / F.col("na"), 6).alias("containment_ab"),
            F.round(F.col("n_common") / F.col("nb"), 6).alias("containment_ba"),
        )
    )
    return scored.filter(
        F.greatest(F.col("containment_ab"), F.col("containment_ba"))
        >= F.lit(float(min_containment))
    )
