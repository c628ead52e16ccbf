"""Inverted-index materialization + index-backed retrieval.

The reference keeps its document search inside OpenSearch (an opaque
Lucene index, ``/root/reference/src/db/db_session.py:155-345``); this
module materializes the equivalent structure as first-class tables so
retrieval is a plain DataFrame job over them — the missing piece between
the corpus-side BM25 scorer (``corpus.bm25_scores``, which re-tokenizes
the corpus per query) and production search (tokenize once, query many).

Scale design (the part that must survive 100 TB):

* **Document-partitioned shards** (the Lucene/Elasticsearch layout):
  every posting row is keyed ``(term, shard)`` where
  ``shard = portable_hash(doc_id) % n_shards``. A stopword's postings
  are therefore split across ``n_shards`` bounded arrays instead of one
  unbounded per-term row — the same fix the traces table got for its
  span arrays. ``n_shards`` is chosen ∝ corpus size (docs per shard
  roughly constant), so per-row array size is bounded by design.
* **One shuffle** builds the index: ``groupBy(term, shard)`` over the
  per-doc term counts; map-side partial aggregation absorbs the Zipf
  head because tf is counted per *document* first (narrow) and the
  (term, shard) key spreads hot terms over shards.
* **Query side never touches the corpus**: postings for the query terms
  are a tiny filtered scan of the index (predicate pushdown on ``term``,
  min/max-prunable when the index table is written sorted by term),
  joined to the vocabulary-sized doc-norms table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sigraph_spark.operators.dedup import hash32_md5_le

__all__ = [
    "build_inverted_index",
    "doc_norms",
    "search_index",
]


def _tokens(text_col: str) -> Column:
    """Non-empty lowercase whitespace tokens (the corpus-wide token
    definition shared with corpus.bm25_scores / vocab_topk)."""
    ws = F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+")
    return F.filter(ws, lambda x: x != "")


def doc_shard(id_col: Column, n_shards: int) -> Column:
    """Deterministic engine-portable shard of a document id:
    ``hash32_md5_le('shard:' || id) % n_shards`` (DuckDB twin:
    ``(md5_number_upper('shard:' || id) & 4294967295) % n_shards``)."""
    return hash32_md5_le(F.concat(F.lit("shard:"), id_col.cast("string"))) % F.lit(
        int(n_shards)
    )


def build_inverted_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 8,
    min_df: int = 1,
) -> DataFrame:
    """Materialize a document-sharded inverted index.

    Returns one row per ``(term, shard)``:

    * ``df_shard``     — number of documents in the shard containing the
      term,
    * ``cf_shard``     — total term occurrences in the shard,
    * ``postings``     — ``array<struct<doc_id:string, tf:bigint>>``
      sorted by doc_id (bounded by the shard's document count).

    ``min_df`` prunes the long random tail (terms whose *global*
    document frequency is below the floor) — computed with one extra
    aggregation over the already-built (term, shard) relation, never
    over the corpus. Global lexicon stats are a cheap rollup:
    ``index.groupBy('term').agg(sum('df_shard'), sum('cf_shard'))``.
    """
    tf = (
        docs.select(
            F.col(id_col).cast("string").alias("doc_id"),
            F.explode(_tokens(text_col)).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idx = (
        tf.withColumn("shard", doc_shard(F.col("doc_id"), n_shards))
        .groupBy("term", "shard")
        .agg(
            F.count(F.lit(1)).alias("df_shard"),
            F.sum("tf").alias("cf_shard"),
            F.array_sort(F.collect_list(F.struct("doc_id", "tf"))).alias("postings"),
        )
    )
    if min_df > 1:
        keep = (
            idx.groupBy("term")
            .agg(F.sum("df_shard").alias("_df"))
            .filter(F.col("_df") >= min_df)
            .select("term")
        )
        idx = idx.join(keep, "term")
    return idx


def doc_norms(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document length norms ``(doc_id, dl)`` — the side table a
    length-normalized scorer needs (Lucene stores these as `norms`).
    One narrow map, no shuffle.

    ``dl`` is the size of the raw whitespace split — the exact length
    definition of ``corpus.bm25_scores`` (empty text counts one empty
    token), so index-backed scores equal corpus-side scores bit for bit;
    such documents never match any posting, so the off-by-one is
    unobservable outside avgdl."""
    ws = F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+")
    return docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.size(ws).cast("double").alias("dl"),
    )


def search_index(
    index: DataFrame,
    norms: DataFrame,
    query_terms: list[str],
    mode: str = "and",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Index-backed top-k retrieval: score BM25 from stored postings —
    the corpus itself is never read.

    ``mode='and'`` keeps only documents matching *every* query term
    (conjunctive boolean retrieval, the reference's must-clause
    semantics, ``db_session.py:258-270``); ``'or'`` is disjunctive.
    BM25 uses the Lucene idf form — identical arithmetic to
    ``corpus.bm25_scores``, so a single-term search scores exactly what
    the corpus-side scorer computes (pinned in tests).

    Plan shape: filtered index scan (``term IN (...)`` pushed to the
    scan) → explode postings → join the vocabulary-sized df relation and
    the norms table (both broadcast-able) → per-doc sum → deterministic
    top-k (score desc, doc_id asc), two-stage salted (the
    ``similarity.topk_per_query`` device): rank within uniform hash
    shards, keep k per shard, then rank the ≤ ``salt_buckets·k``
    survivors — a stopword 'or' query never funnels the whole match set
    into one window task.

    Returns ``(doc_id, n_terms, bm25, rank)``, ``bm25`` rounded 4dp.
    """
    if mode not in ("and", "or"):
        raise ValueError(f"mode must be 'and' or 'or', got {mode!r}")
    terms = sorted(set(query_terms))
    hits = (
        index.filter(F.col("term").isin(terms))
        .select("term", F.explode("postings").alias("p"))
        .select("term", F.col("p.doc_id").alias("doc_id"), F.col("p.tf").alias("tf"))
    )
    df_rel = hits.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    stats = norms.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tfd = F.col("tf").cast("double")
    scored = (
        hits.join(F.broadcast(df_rel), "term")
        .join(norms, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                idf
                * (tfd * (k1 + 1))
                / (tfd + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("s"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.round(F.sum("s"), 4).alias("bm25"),
        )
    )
    if mode == "and":
        scored = scored.filter(F.col("n_terms") == len(terms))
    salt = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(32))
    w1 = Window.partitionBy("_salt").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    local = (
        scored.withColumn("_salt", salt)
        .withColumn("_r", F.row_number().over(w1))
        .filter(F.col("_r") <= k)
        .drop("_r", "_salt")
    )
    w2 = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    return (
        local.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= k)
    )
