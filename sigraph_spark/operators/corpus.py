"""Corpus-curation operators for training-data pipelines.

Five operators a 100 TB web-text pipeline needs beyond dedup/quality
(driver brief: training-data ops are first-class alongside the KG
pipeline). All are NARROW maps or partial-aggregations — no UDFs, no
skew-prone shuffles:

* ``dataset_split``     — deterministic train/val/test assignment by a
  portable content-free hash of the id; re-running on new data never
  reshuffles old rows between splits (the property replication/backfill
  jobs rely on).
* ``stratified_sample`` — per-stratum (e.g. per-language) deterministic
  sampling by hash threshold; sampling a 100 TB corpus is one narrow
  scan, no shuffle at all.
* ``redact_pii``        — email / IPv4 / long-digit-run masking as JVM
  regexp_replace chains (whole-stage codegen; the patterns are RE2- and
  Java-compatible so external engines reproduce them).
* ``repetition_score``  — Gopher-style duplicate n-gram ratio per doc
  (the "remove boilerplate-repetitive docs" quality signal).
* ``vocab_topk``        — corpus-wide top-k token frequencies: partial
  map-side aggregation then a TakeOrdered of only k rows to the driver
  (never a full sort of the vocabulary).

The split/sample hash is ``dedup.hash32_md5_le`` — the engine-portable
md5 family, so every assignment is reproducible in plain SQL (the
driver-gate DuckDB oracles recompute them exactly).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sigraph_spark.operators.dedup import hash32_md5_le

# patterns are deliberately restricted to the Java/RE2 common subset
# (\d, \b, bounded repeats, char classes) so SQL engines reproduce them
PII_PATTERNS = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\d{7,}\b", "<NUM>"),
]


def split_bucket(id_col: Column, salt: str = "split") -> Column:
    """Deterministic bucket in [0, 100) from the portable md5 hash of
    ``salt:id``. Content-free (renamed/re-crawled docs keep their split
    as long as the id is stable) and engine-portable."""
    return hash32_md5_le(F.concat(F.lit(salt + ":"), id_col.cast("string"))) % 100


def dataset_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Assign train/val/test by deterministic hash bucket. A narrow map:
    at any scale this is a zero-shuffle projection, and the assignment
    never changes when the corpus grows (no sampling drift between
    pipeline runs)."""
    b = split_bucket(F.col(id_col))
    return docs.withColumn("bucket", b.cast("long")).withColumn(
        "split",
        F.when(F.col("bucket") < train_pct, "train")
        .when(F.col("bucket") < train_pct + val_pct, "val")
        .otherwise("test"),
    )


def stratified_sample(
    docs: DataFrame,
    rates_permille: dict[str, int],
    default_permille: int,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep each row iff its hash bucket (0..999) falls under its
    stratum's rate. Deterministic, zero-shuffle, and exact in
    expectation per stratum — the standard way to rebalance language /
    source mix without materializing per-stratum counts first."""
    bucket = (
        hash32_md5_le(F.concat(F.lit("sample:"), F.col(id_col).cast("string"))) % 1000
    )
    rate: Column = F.lit(default_permille)
    for value, permille in sorted(rates_permille.items()):
        rate = F.when(F.col(stratum_col) == value, F.lit(permille)).otherwise(rate)
    return (
        docs.withColumn("bucket", bucket.cast("long"))
        .filter(F.col("bucket") < rate)
    )


def drop_common_lines(
    docs: DataFrame,
    min_docs: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style cross-document boilerplate removal at LINE granularity:
    a (non-blank) line appearing in >= ``min_docs`` DISTINCT documents is
    boilerplate (cookie banners, "all rights reserved", nav crumbs) and is
    dropped from every document; order of the surviving lines is
    preserved. Returns (id, text, n_lines_dropped).

    Complementary to the n-gram span machinery in
    ``operators/contamination.py``: spans catch fuzzy repetition inside
    prose, lines catch the exact templated furniture web extraction
    leaves behind.

    Scale shape: per-line document frequencies are one algebraic count
    (map-side partials absorb the hot boilerplate head), and the common
    set broadcasts back as 64-BIT LINE HASHES (8 bytes/line, so even
    millions of boilerplate lines stay broadcastable at corpus scale —
    a false drop needs an xxhash64 collision with a common line,
    ~n_common/2^64 per distinct line, negligible); the corpus itself is
    never shuffled, and reassembly is a groupBy on the doc id (uniform
    key)."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    lines = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(t, "\n")).alias("_pos", "_line"),
    ).withColumn("_lh", F.xxhash64("_line"))
    common = (
        lines.filter(F.trim("_line") != "")
        .select("_id", "_lh")
        .distinct()
        .groupBy("_lh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("_lh")
    )
    marked = lines.join(
        F.broadcast(common.withColumn("_drop", F.lit(True))), "_lh", "left"
    )
    rebuilt = marked.groupBy("_id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_drop").isNull(),
                            F.struct("_pos", "_line"),
                        )
                    )
                ),
                lambda s: s["_line"],
            ),
        ).alias(text_col),
        F.sum(F.col("_drop").isNotNull().cast("long")).alias("n_lines_dropped"),
    )
    return rebuilt.select(
        F.col("_id").alias(id_col), text_col, "n_lines_dropped"
    )


def mixture_epochs(
    docs: DataFrame,
    epochs_by_source: dict[str, float],
    default_epochs: float = 1.0,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Training-mixture construction with UPSAMPLING: repeat each source's
    documents by a (possibly fractional) epoch weight — the "2 epochs of
    wiki, 0.3 of common-crawl" recipe every LLM data mixture specifies.

    Each doc gets ``floor(e)`` full copies plus one extra for the
    deterministic md5-hash fraction of docs covering ``frac(e)`` (exact in
    expectation per source; permille resolution). Output adds an
    ``epoch`` column (0-based copy index) so downstream shuffling can
    spread the copies. Weight 0 drops the source. A narrow map + explode:
    zero shuffle at any scale, and fully restatable in SQL for oracles
    (the fractional weights are fixed to permille so float arithmetic
    cannot drift across engines)."""
    e: Column = F.lit(int(round(default_epochs * 1000)))
    for value, epochs in sorted(epochs_by_source.items()):
        e = F.when(
            F.col(source_col) == value, F.lit(int(round(epochs * 1000)))
        ).otherwise(e)
    base = (e / 1000).cast("int")
    frac_permille = e - base * 1000
    bucket = (
        hash32_md5_le(F.concat(F.lit("mix:"), F.col(id_col).cast("string"))) % 1000
    )
    n_copies = (base + (bucket < frac_permille).cast("int")).alias("_n")
    return (
        docs.withColumn("_n", n_copies)
        .filter(F.col("_n") > 0)
        .select(
            "*", F.explode(F.sequence(F.lit(0), F.col("_n") - 1)).alias("epoch")
        )
        .drop("_n")
    )


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Mask emails, IPv4 addresses, and 7+-digit runs in ``text_col``
    (in that order — the IP pattern must not see digits already consumed
    by an email). Pure regexp_replace chain: JVM-side, codegen, no UDF;
    order and patterns are part of the contract (PII_PATTERNS)."""
    c: Column = F.col(text_col)
    for pattern, replacement in PII_PATTERNS:
        c = F.regexp_replace(c, pattern, replacement)
    return docs.withColumn(text_col, c)


def repetition_score(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Duplicate k-gram ratio per document: (total - distinct) / total
    over word k-grams (Gopher-style repetition quality signal; docs
    below ~3 words score 0.0 by construction). Narrow map — the n-gram
    arrays never leave the row."""
    from sigraph_spark.operators.dedup import _word_grams

    grams = _word_grams(F.col(text_col), k)
    total = F.size(grams).cast("double")
    distinct = F.size(F.array_distinct(grams)).cast("double")
    return docs.select(
        F.col(id_col),
        F.round((total - distinct) / total, 6).alias("dup_ngram_ratio"),
    )


def pack_sequences(
    docs: DataFrame,
    ctx_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    band_size: int = 1_000_000,
) -> DataFrame:
    """Concat-then-chunk sequence packing (the standard LLM-pretraining
    layout): documents are concatenated in ``id_col`` order and cut into
    fixed ``ctx_len`` token windows; each doc learns its global token
    ``start_offset``, its ``chunk_id`` (= start_offset div ctx_len), and
    whether it straddles a chunk boundary.

    The global running sum is a DISTRIBUTED two-stage prefix scan, not a
    single-partition window (which would funnel the whole corpus through
    one task):

      1. band rows by ``id div band_size`` and cumsum within each band
         (shuffle on the uniform band key, bounded rows per task);
      2. prefix-sum the per-band totals — one row per band, a tiny
         single-partition window over |corpus|/band_size rows — and add
         the band's base offset back via a broadcast-sized join.

    Token count here is the whitespace tokenizer (swap in the BPE regex
    from textstats for subword budgets)."""
    words = F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+")
    n_tok = F.when(F.trim(F.coalesce(F.col(text_col), F.lit(""))) == "", F.lit(0)).otherwise(
        F.size(words)
    )
    banded = docs.select(
        F.col(id_col),
        n_tok.cast("long").alias("n_tokens"),
        (F.col(id_col) / band_size).cast("long").alias("_band"),
    )
    # materialize the narrow (id, n_tokens, band) projection: the cumsum
    # and band-total branches both consume it, and without a barrier each
    # branch would re-scan and re-tokenize the full text column (Catalyst
    # does not reuse the exchange across the agg/window branch split)
    banded = banded.localCheckpoint(eager=False)
    w_in = (
        Window.partitionBy("_band")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = banded.withColumn(
        "_local_off", F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))
    )
    w_band = (
        Window.orderBy("_band").rowsBetween(Window.unboundedPreceding, -1)
    )
    band_base = (
        banded.groupBy("_band")
        .agg(F.sum("n_tokens").alias("_band_total"))
        .withColumn("_band_base", F.coalesce(F.sum("_band_total").over(w_band), F.lit(0)))
        .select("_band", "_band_base")
    )
    packed = local.join(F.broadcast(band_base), "_band").select(
        id_col,
        "n_tokens",
        (F.col("_local_off") + F.col("_band_base")).alias("start_offset"),
    )
    return packed.select(
        id_col,
        "n_tokens",
        "start_offset",
        (F.col("start_offset") / ctx_len).cast("long").alias("chunk_id"),
        (
            (F.col("start_offset") + F.greatest(F.col("n_tokens"), F.lit(1)) - 1) / ctx_len
        ).cast("long").alias("end_chunk_id"),
        (
            ((F.col("start_offset") + F.greatest(F.col("n_tokens"), F.lit(1)) - 1) / ctx_len).cast("long")
            != (F.col("start_offset") / ctx_len).cast("long")
        ).alias("spans_chunks"),
    )


def token_quantiles(
    docs: DataFrame,
    text_col: str = "text",
    by: str = "lang",
    ps: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9),
) -> DataFrame:
    """Per-group EXACT token-count quantiles (linear interpolation) plus
    count and mean — the per-language length profile a curation pipeline
    cuts on.

    One partial-agg shuffle on the group key (languages: low cardinality,
    bounded skew — the agg is a sort-within-group of one bigint column).
    ``percentile`` is exact and matches DuckDB ``quantile_cont`` rank
    arithmetic bit-for-bit on integer inputs (the gate oracle relies on
    this); at 100 TB swap in ``token_quantiles_approx`` — same schema,
    t-digest sketch, fully mergeable map-side — when exactness isn't
    required.
    """
    from sigraph_spark.operators.textstats import whitespace_token_count

    toks = docs.select(
        F.col(by).alias("grp"),
        whitespace_token_count(F.col(text_col)).alias("n_tok"),
    )
    qcols = [
        F.round(F.percentile("n_tok", F.lit(p)), 4).alias(f"p{int(p * 100)}")
        for p in ps
    ]
    return (
        toks.groupBy("grp")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_tok"), 4).alias("mean_tokens"),
            *qcols,
        )
        .withColumnRenamed("grp", by)
    )


def token_quantiles_approx(
    docs: DataFrame,
    text_col: str = "text",
    by: str = "lang",
    ps: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9),
    accuracy: int = 10000,
) -> DataFrame:
    """Sketch-based variant of ``token_quantiles`` (same schema): Spark's
    ``approx_percentile`` (KLL/GK-style) aggregates map-side and merges —
    no per-group sort, bounded memory at any scale. Error <= 1/accuracy
    rank units; pinned vs the exact form by test, not by the hash gate."""
    from sigraph_spark.operators.textstats import whitespace_token_count

    toks = docs.select(
        F.col(by).alias("grp"),
        whitespace_token_count(F.col(text_col)).alias("n_tok"),
    )
    qcols = [
        F.round(
            F.approx_percentile("n_tok", F.lit(p), F.lit(accuracy)).cast("double"), 4
        ).alias(f"p{int(p * 100)}")
        for p in ps
    ]
    return (
        toks.groupBy("grp")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_tok"), 4).alias("mean_tokens"),
            *qcols,
        )
        .withColumnRenamed("grp", by)
    )


def domain_stats(
    docs: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Per-registrable-host corpus profile: page count, total/mean tokens.

    Host extraction is pure string ops (``substring_index`` twice — no
    ``parse_url``, whose semantics differ across engines). Web corpora are
    power-law skewed on host (a few CDNs own 1%+ of pages); the count/sum
    aggregates here are algebraic, so map-side partial aggregation absorbs
    the head key before the shuffle — no salting needed for THIS op, and
    the output is the table you'd consult to pick salts for non-algebraic
    per-host work downstream.
    """
    from sigraph_spark.operators.textstats import whitespace_token_count

    host = F.lower(
        F.substring_index(
            F.substring_index(F.col(url_col), "://", -1), "/", 1
        )
    )
    return (
        docs.select(
            host.alias("host"),
            whitespace_token_count(F.col(text_col)).alias("n_tok"),
        )
        .groupBy("host")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum("n_tok").alias("total_tokens"),
            F.round(F.avg("n_tok"), 4).alias("mean_tokens"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 256,
    overlap: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into overlapping token windows (the RAG /
    long-context splitting op — the complement of ``pack_sequences``,
    which concatenates short docs).

    Chunk i starts at token ``i * (chunk_tokens - overlap)``; chunks are
    emitted while ``start < max(n_tokens - overlap, 1)``, so the final
    window is never a strict subset of the previous one and empty docs
    yield exactly one empty chunk (count arithmetic is pure integers —
    the gate oracle reproduces it exactly).

    Scale shape: tokenize once, explode an integer sequence per doc —
    a narrow map + generate, NO shuffle at all; chunk text is a
    JVM-side array slice+join.
    """
    assert 0 <= overlap < chunk_tokens
    step = chunk_tokens - overlap
    t = F.trim(F.coalesce(F.col(text_col), F.lit("")))
    w = F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )
    toks = docs.select(F.col(id_col).alias("id"), w.alias("w"))
    n = F.size("w")
    n_chunks = F.floor(
        (F.greatest(n - overlap, F.lit(1)) + step - 1) / F.lit(step)
    ).cast("int")
    return (
        toks.select(
            "id", "w", n.alias("n_tokens"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            F.col("id").alias(id_col),
            "chunk_id",
            (F.col("chunk_id") * step).cast("long").alias("start_tok"),
            F.least(
                F.lit(chunk_tokens), F.col("n_tokens") - F.col("chunk_id") * step
            ).cast("long").alias("chunk_len"),
            F.concat_ws(
                " ", F.slice("w", F.col("chunk_id") * step + 1, chunk_tokens)
            ).alias("chunk_text"),
        )
    )


def corpus_rollup(
    docs: DataFrame,
    dims: tuple[str, str] = ("lang", "source"),
    text_col: str = "text",
) -> DataFrame:
    """Multi-level corpus profile in ONE pass: counts and token totals at
    (lang, source), (lang), and grand-total levels via ROLLUP — Catalyst
    expands grouping sets inside a single shuffle instead of three
    separate aggregations over the corpus. ``grouping_id`` disambiguates
    aggregation levels from genuine NULL dimension values (bit i set =
    dimension i rolled up; same bit semantics as SQL GROUPING())."""
    from sigraph_spark.operators.textstats import whitespace_token_count

    d0, d1 = dims
    return (
        docs.select(
            F.col(d0), F.col(d1),
            whitespace_token_count(F.col(text_col)).alias("n_tok"),
        )
        .rollup(d0, d1)
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
        )
    )


def sample_k_per_group(
    docs: DataFrame,
    k: int,
    by: str = "lang",
    id_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Exactly min(k, group size) rows per group, deterministically: rank
    by the portable md5 hash of the id (ties broken by id) and keep the
    k smallest. Unlike rate-based ``stratified_sample`` this guarantees
    the COUNT (eval sets, per-language probes) and is reproducible on any
    engine/partitioning — the hash order is a fixed total order, not a
    seeded RNG.

    Scale shape: one shuffle on the group key + a WindowGroupLimit —
    Catalyst pushes the rank<=k filter map-side, so only ~k rows per
    (partition, group) reach the final per-group sort."""
    h = hash32_md5_le(
        F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(by).orderBy(h.asc(), F.col(id_col).asc())
    return (
        docs.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document to a bag of query terms —
    the ranking primitive for corpus search / retrieval-based curation.

    Formulation (Lucene idf): score(d) = Σ_t idf(t) · tf·(k1+1) /
    (tf + k1·(1 − b + b·dl/avgdl)), idf = ln(1 + (N − df + ½)/(df + ½)).

    Plan shape at scale: one narrow tokenize+filter pass (only query
    terms survive the explode — the filter prunes before any shuffle),
    one groupBy (doc, term) for tf, a broadcast of the tiny per-term df
    relation and of the two corpus scalars (N, avgdl). Nothing shuffles
    the corpus except the tf aggregation, whose key cardinality is
    |docs| × |query| at most. Scores rounded to 4dp (the gate oracle
    reproduces the float math; per-doc term-sum order differs across
    partitionings by < 1 ulp, far inside the rounding grid).
    """
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+").alias(
            "w"
        ),
    )
    stats = toks.select(
        F.count("*").alias("n_docs"), F.avg(F.size("w")).alias("avgdl")
    )
    dl = toks.select("id", F.size("w").cast("double").alias("dl"))
    # hits (query-term rows only — tiny) feeds the df aggregate AND the
    # scoring join; one lazy materialization saves a full explode+count
    # pass over the corpus. toks itself stays un-materialized on
    # purpose: it holds the split text arrays (corpus-sized), and a
    # narrow re-split is cheaper than pinning that in block-manager
    # memory.
    hits = (
        toks.select("id", F.explode("w").alias("t"))
        .filter(F.col("t").isin(query_terms))
        .groupBy("id", "t")
        .agg(F.count("*").cast("double").alias("tf"))
        .localCheckpoint(eager=False)
    )
    df_rel = hits.groupBy("t").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    term_score = (
        hits.join(F.broadcast(df_rel), "t")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats))
        .select(
            "id",
            (
                idf
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("s"),
        )
    )
    return (
        term_score.groupBy("id")
        .agg(F.round(F.sum("s"), 4).alias("bm25"))
        .select(F.col("id").alias(id_col), "bm25")
    )


def vocab_topk(
    docs: DataFrame, text_col: str = "text", k: int = 100
) -> DataFrame:
    """Corpus-wide top-k token frequencies (count desc, token asc —
    deterministic at the boundary). The groupBy is a uniform-key shuffle
    with map-side partial aggregation; the global ordering is a
    TakeOrdered of k rows, NOT a full vocabulary sort."""
    words = F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+")
    return (
        docs.select(F.explode(words).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(k)
    )


def curation_funnel(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 10,
    max_words: int = 1_000_000,
    langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.15,
    max_repetition: float = 0.35,
) -> DataFrame:
    """C4/Gopher-style curation funnel: run every document through an
    ORDERED rule chain and record the first failing rule (or ``pass``).

    Rules, in order: ``too_short`` (< min_words), ``too_long``
    (> max_words), ``wrong_lang`` (predicted language not in ``langs``),
    ``low_quality`` (composite score < min_quality), ``repetitive``
    (duplicate 3-gram ratio > max_repetition).

    Keeping the verdict per-document (instead of just filtering) is what
    makes the funnel auditable at 100 TB: the per-rule rejection counts
    are one groupBy over this output, and a threshold change replays from
    the annotated table without re-scanning raw text. The whole funnel is
    a single narrow map (all signals are Column arithmetic from
    ``textstats`` + the repetition ratio) — zero shuffle, whole-stage
    codegen, and every signal is ANSI-SQL-restatable for the oracle.

    Returns ``(doc_id, n_words, lang_pred, quality_score,
    dup_ngram_ratio, verdict)``.
    """
    from sigraph_spark.operators.dedup import _word_grams
    from sigraph_spark.operators.textstats import (
        lang_id, quality_features, quality_score,
    )

    t = F.col(text_col)
    grams = _word_grams(t, 3)
    total = F.size(grams).cast("double")
    distinct = F.size(F.array_distinct(grams)).cast("double")
    sig = docs.select(
        F.col(id_col),
        *quality_features(t),
        lang_id(t).alias("lang_pred"),
        F.round((total - distinct) / total, 6).alias("dup_ngram_ratio"),
    ).select(
        id_col, "n_words", "lang_pred", "dup_ngram_ratio", quality_score()
    )
    verdict = (
        F.when(F.col("n_words") < float(min_words), F.lit("too_short"))
        .when(F.col("n_words") > float(max_words), F.lit("too_long"))
        .when(~F.col("lang_pred").isin(*langs), F.lit("wrong_lang"))
        .when(F.col("quality_score") < min_quality, F.lit("low_quality"))
        .when(F.col("dup_ngram_ratio") > max_repetition, F.lit("repetitive"))
        .otherwise(F.lit("pass"))
    )
    return sig.select(
        id_col,
        F.col("n_words").cast("long").alias("n_words"),
        "lang_pred",
        F.round("quality_score", 4).alias("quality_score"),
        "dup_ngram_ratio",
        verdict.alias("verdict"),
    )


def normalize_text(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """C4-style text normalization as one JVM regex chain (narrow map):
    control characters -> space, curly quotes -> straight, collapse runs
    of whitespace, trim. Returns ``(doc_id, norm_text, n_chars_norm)``.
    Every rule is ANSI-regex-portable so the oracle runs the same chain.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    t = F.regexp_replace(t, r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", " ")
    t = F.translate(t, "‘’“”", "''\"\"")
    t = F.regexp_replace(t, r"\s+", " ")
    t = F.trim(t)
    return docs.select(
        F.col(id_col),
        t.alias("norm_text"),
        F.length(t).cast("long").alias("n_chars_norm"),
    )


def domain_quota(
    docs: DataFrame,
    per_host: int,
    id_col: str = "doc_id",
    url_col: str = "url",
    quality_col: str | None = None,
) -> DataFrame:
    """Cap documents per host, keeping the best ``per_host`` by
    ``quality_col`` (desc; ties and the no-quality case break by
    ``id_col`` asc — deterministic). The anti-boilerplate quota every
    crawl corpus applies so one giant host cannot dominate a mixture.

    WindowGroupLimit plan: Catalyst pushes the rank <= k filter below the
    shuffle (partial group limit map-side), so a 10^9-page host ships at
    most k rows per map partition — the quota itself absorbs the skew.
    """
    order = (
        [F.col(quality_col).desc(), F.col(id_col).asc()]
        if quality_col
        else [F.col(id_col).asc()]
    )
    host = F.substring_index(F.substring_index(F.col(url_col), "://", -1), "/", 1)
    # collision-safe internal names, dropped before return: a bare 'host'
    # would clobber (and leak into the output schema over) any caller
    # column of the same name.
    w = Window.partitionBy("_dq_host").orderBy(*order)
    return (
        docs.withColumn("_dq_host", host)
        .withColumn("_dq_rank", F.row_number().over(w))
        .filter(F.col("_dq_rank") <= per_host)
        .drop("_dq_host", "_dq_rank")
    )


def unigram_logprob(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram distribution — the cheap stand-in for the CCNet/KenLM
    perplexity quality signal: documents full of corpus-typical words
    score high; gibberish, rare-token spam, and wrong-language text
    score low. Self-normalized (the model IS the corpus), so no external
    LM artifact is needed.

    Two wordcount-shaped passes: (1) global token frequencies — one
    uniform-key shuffle with algebraic counts absorbing the Zipf head
    map-side; (2) token explode re-joined to the frequency table, then a
    per-doc mean. At 100 TB pass 1's output is the vocabulary table —
    persist and reuse it across snapshots rather than recount.

    Returns ``(doc_id, n_tokens, mean_logprob)`` (natural log, 6dp).
    """
    words = F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+")
    # freq (vocabulary-sized) feeds the total AND the join: one boundary.
    # toks (one row per corpus token) stays un-materialized on purpose: a
    # narrow re-split is cheaper than pinning it in block-manager memory
    toks = docs.select(
        F.col(id_col), F.explode(words).alias("token")
    ).filter(F.col("token") != "")
    freq = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint(eager=False)
    total = freq.agg(F.sum("tf").alias("n")).select("n")
    scored = (
        toks.join(freq, "token")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            (F.log(F.col("tf").cast("double")) - F.log(F.col("n").cast("double"))).alias("lp"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.avg("lp"), 6).alias("mean_logprob"),
        )
    )


def bigram_pmi(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Pointwise mutual information over adjacent word pairs — the
    classic collocation detector ("hash join", "prefix sum" score high;
    chance pairs score ~0). Used to mine multi-word entities/terms for
    the KG vocabulary before linking.

    ``PMI = ln( (c_ab / N_bi) / ((c_a / N_uni) * (c_b / N_uni)) )``, all
    counts corpus-global: two wordcount-shaped aggregations (bigrams +
    unigrams, uniform keys, algebraic counts) and one broadcast of the
    two scalar totals; ``min_count`` prunes the long random tail before
    the join. Returns ``(w1, w2, c_ab, pmi)`` rounded to 6dp.
    """
    from sigraph_spark.operators.dedup import _word_grams

    words = F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+")
    # uni feeds its total plus BOTH unigram join legs (w1 and w2), and
    # bi feeds its total plus the pair join — without boundaries each
    # consumer re-tokenizes the corpus and re-runs the aggregation
    uni = (
        docs.select(F.explode(words).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    n_uni = uni.agg(F.sum("c").alias("nu")).select("nu")
    bi = (
        docs.filter(F.size(words) >= 2)
        .select(F.explode(_word_grams(F.col(text_col), 2)).alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
        .localCheckpoint(eager=False)
    )
    n_bi = bi.agg(F.sum("c_ab").alias("nb")).select("nb")
    w1 = F.substring_index(F.col("b"), " ", 1)
    w2 = F.substring_index(F.col("b"), " ", -1)
    ua = uni.select(F.col("w").alias("_w1"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("w").alias("_w2"), F.col("c").alias("c_b"))
    return (
        bi.select(w1.alias("_w1"), w2.alias("_w2"), "c_ab")
        .join(ua, "_w1")
        .join(ub, "_w2")
        .crossJoin(F.broadcast(n_bi))
        .crossJoin(F.broadcast(n_uni))
        .select(
            F.col("_w1").alias("w1"),
            F.col("_w2").alias("w2"),
            F.col("c_ab").cast("long").alias("c_ab"),
            F.round(
                F.log(F.col("c_ab").cast("double"))
                - F.log(F.col("nb").cast("double"))
                - F.log(F.col("c_a").cast("double"))
                - F.log(F.col("c_b").cast("double"))
                + 2 * F.log(F.col("nu").cast("double")),
                6,
            ).alias("pmi"),
        )
    )


def doc_keyterms(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document — the keyword/tag extraction
    that feeds KG node enrichment and faceted search.

    ``score = tf * ln(N / df)`` with corpus-global document frequencies:
    one (doc, term) count, one term document-frequency aggregation, the
    corpus size broadcast as a scalar, then a per-doc WindowGroupLimit
    (rank <= k pushed below the shuffle — the per-doc top-k never
    materializes the full score table downstream). Ties break by term
    asc — deterministic. Returns ``(doc_id, term, rank, score)``.
    """
    words = F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+")
    toks = docs.select(F.col(id_col), F.explode(words).alias("term")).filter(
        F.col("term") != ""
    )
    # tf feeds the document-frequency aggregate AND the scoring join;
    # without a boundary each re-tokenizes the corpus and re-counts
    tf = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint(eager=False)
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.select(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select(
            id_col,
            "term",
            (
                F.col("tf").cast("double")
                * (F.log(F.col("n").cast("double")) - F.log(F.col("df").cast("double")))
            ).alias("s"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("s").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            id_col, "term", F.col("rank").cast("long").alias("rank"),
            F.round("s", 6).alias("score"),
        )
    )


def split_sentences(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sentence segmentation: ``(id, sentence_id, sentence)``, one row per
    non-empty sentence, ``sentence_id`` = 1-based position among the raw
    split parts (stable even when empties are dropped).

    RE2-compatible device (the oracle engine has no lookbehind): insert a
    U+001D group separator after every sentence-final punctuation run
    (``([.!?])\\s+``), then split on it — both engines' regexp_replace is
    global and left-to-right, so the split points agree byte for byte.
    Narrow map + generate: no shuffle, scales linearly with the corpus.
    """
    marked = F.regexp_replace(
        F.coalesce(F.col(text_col), F.lit("")), r"([.!?])\s+", "$1\x1d"
    )
    return (
        docs.select(
            F.col(id_col), F.posexplode(F.split(marked, "\x1d")).alias("pos", "raw")
        )
        .select(
            id_col,
            (F.col("pos") + 1).alias("sentence_id"),
            F.trim(F.col("raw")).alias("sentence"),
        )
        .filter(F.col("sentence") != "")
    )


def _word_array(text_col: str) -> Column:
    """Non-empty lowercase whitespace tokens as an array column."""
    ws = F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+")
    return F.filter(ws, lambda x: x != "")


def _bigram_pairs(text_col: str) -> Column:
    """Adjacent ``struct(w1, w2)`` pairs over the non-empty tokens (the
    scoring unit of a bigram LM) via the zip-shift device (same as the
    MinHash shingles): zip the array against itself shifted by one —
    pure JVM array arithmetic, zero shuffle, empty for <2 tokens."""
    ws = _word_array(text_col)
    n1 = F.greatest(F.size(ws) - 1, F.lit(0))
    return F.zip_with(
        F.slice(ws, 1, n1),
        F.slice(ws, 2, n1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )


def bigram_lm_train(docs: DataFrame, text_col: str = "text") -> dict:
    """Train an interpolated Kneser-Ney bigram language model from a
    reference corpus — the CCNet device (Wenzek et al. 2020): train once
    on a trusted corpus (their Wikipedia/KenLM), then score every crawled
    page; low log-probability == out-of-distribution text (gibberish,
    SEO spam, wrong language) and gets filtered or bucketed.

    Returns the model as four small DataFrames (the persistable artifact
    — at 100 TB you train this once per snapshot and reuse it):

    * ``bigrams``      — ``(w1, w2, c12)`` observed-pair counts,
    * ``history``      — ``(w1, c1, n_follow)`` per-history total count
      and distinct-follower count (the KN backoff weight numerator),
    * ``continuation`` — ``(w2, n_prec)`` distinct-predecessor counts
      (the KN continuation distribution),
    * ``scalars``      — one row ``(t_types, v_cont)``: total distinct
      bigram types and continuation-vocabulary size.

    One bigram-count shuffle (uniform word-pair keys; algebraic counts
    absorb the Zipf head map-side) plus two re-aggregations of the
    already-tiny count table. No UDFs anywhere.
    """
    pairs = (
        docs.select(F.explode(_bigram_pairs(text_col)).alias("bg"))
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    c12 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    hist = c12.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n_follow")
    )
    cont = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("n_prec"))
    scalars = c12.agg(F.count(F.lit(1)).alias("t_types")).crossJoin(
        cont.agg(F.count(F.lit(1)).alias("v_cont"))
    )
    return {"bigrams": c12, "history": hist, "continuation": cont, "scalars": scalars}


def bigram_lm_score(
    docs: DataFrame,
    model: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
) -> DataFrame:
    """Score documents under a trained KN bigram model (see
    ``bigram_lm_train``). Per scored bigram ``(w1, w2)``:

    * seen history:   ``P = max(c12 - D, 0)/c1  +  D * n_follow/c1 * Pc(w2)``
    * unseen history: ``P = Pc(w2)``

    with the add-one-smoothed continuation distribution
    ``Pc(w2) = (n_prec + 1) / (t_types + v_cont + 1)`` so unseen words
    get the implicit-UNK mass ``1/(t_types + v_cont + 1)`` and every
    probability is strictly positive — the log never diverges.

    Three left hash joins of the exploded corpus against the model
    tables (model side is vocabulary-sized — Zipf-bounded, orders of
    magnitude smaller than a 100 TB corpus, so AQE broadcasts it when it
    fits; the corpus side never shuffles) plus one per-doc aggregation.
    Returns ``(doc_id, n_bigrams, mean_logprob)`` (natural log, 6dp);
    docs with fewer than two tokens emit no row.
    """
    d = F.lit(float(discount))
    sbg = docs.select(
        F.col(id_col), F.explode(_bigram_pairs(text_col)).alias("bg")
    ).select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    j = (
        sbg.join(model["bigrams"], ["w1", "w2"], "left")
        .join(model["history"], ["w1"], "left")
        .join(model["continuation"], ["w2"], "left")
        .crossJoin(F.broadcast(model["scalars"]))
    )
    pc = (F.coalesce(F.col("n_prec"), F.lit(0)).cast("double") + F.lit(1.0)) / (
        F.col("t_types").cast("double") + F.col("v_cont").cast("double") + F.lit(1.0)
    )
    c1 = F.col("c1").cast("double")
    seen = F.greatest(
        F.coalesce(F.col("c12"), F.lit(0)).cast("double") - d, F.lit(0.0)
    ) / c1 + d * F.col("n_follow").cast("double") / c1 * pc
    prob = F.when(F.col("c1").isNotNull(), seen).otherwise(pc)
    return (
        j.select(id_col, F.log(prob).alias("lp"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.avg("lp"), 6).alias("mean_logprob"),
        )
    )


def bigram_lm_logprob(
    docs: DataFrame,
    train_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
) -> DataFrame:
    """Train-on-A, score-B composition of ``bigram_lm_train`` +
    ``bigram_lm_score`` — the CCNet perplexity-filter shape (reference
    quality signals: sigraph has no LM layer; this generalizes its
    rule-based filters to distribution-based ones for web-scale text)."""
    return bigram_lm_score(
        docs, bigram_lm_train(train_docs, text_col), id_col, text_col, discount
    )


def weighted_sample(
    docs: DataFrame,
    weight_col,
    k: int,
    id_col: str = "doc_id",
    salt: str = "ws",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, derandomized — the
    Efraimidis–Spirakis A-Res scheme (2006): per row draw u ∈ (0, 1],
    key = u^(1/w), keep the k largest keys; inclusion probabilities are
    exactly those of sequential weighted draws. Here u is not random but
    the portable md5 hash of (salt, id), so the "sample" is a pure
    function of the data — rerunnable, resumable, cross-engine
    reproducible (the corpus-mixture requirement: two pipeline runs must
    pick identical subsets). Vary ``salt`` for independent replicates.

    Zero-/negative-weight rows are excluded (they would win ties via
    pow(u, inf) artifacts rather than sampling semantics). Keys are
    rounded to 6dp with id tie-break so ordering is stable across
    engines; top-k runs two-stage salted (no whole-corpus single-task
    sort). Returns the sampled rows + their ``sample_key``.
    """
    w = weight_col if isinstance(weight_col, Column) else F.col(weight_col)
    u = (
        hash32_md5_le(
            F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(4294967296.0)
    keyed = (
        docs.filter(w.cast("double") > 0)
        .withColumn("sample_key", F.round(F.pow(u, F.lit(1.0) / w.cast("double")), 6))
    )
    shard = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(32))
    w1 = Window.partitionBy("_shard").orderBy(
        F.col("sample_key").desc(), F.col(id_col).asc()
    )
    local = (
        keyed.withColumn("_shard", shard)
        .withColumn("_r", F.row_number().over(w1))
        .filter(F.col("_r") <= k)
        .drop("_r", "_shard")
    )
    w2 = Window.orderBy(F.col("sample_key").desc(), F.col(id_col).asc())
    return (
        local.withColumn("_r", F.row_number().over(w2))
        .filter(F.col("_r") <= k)
        .drop("_r")
    )
