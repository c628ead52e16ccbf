"""Text-reuse detection: aligned k-gram span extraction (passim-style).

Webtext is full of REUSED passages — syndicated articles, quoted
paragraphs, boilerplate licenses. A KG/curation pipeline wants them as
first-class evidence: quotation edges between pages, reuse-aware dedup
weights, provenance for extracted claims. This implements the standard
two-step (Smith et al., "Detecting and modeling local text reuse",
JCDL'14): index token k-grams with positions, then turn cross-document
k-gram matches into MAXIMAL ALIGNED SPANS by grouping matches on their
alignment diagonal (pos_a - pos_b) and splitting runs with the classic
gaps-and-islands device (pos_a - row_number is constant within a
consecutive run).

Scale design:
* the k-gram index is a narrow map (split + sliding window inside ONE
  array expression); join keys are ``xxhash64`` of the gram — 8 bytes
  shuffled per gram, never the text;
* the only dangerous key is a BOILERPLATE gram shared by thousands of
  docs (quadratic join fan-out): ``max_gram_df`` drops grams above a
  document-frequency ceiling BEFORE the self-join — loudly, via a
  signal — passim's df-cut, which also removes alignment-useless
  grams;
* the islands window partitions by (doc_a, doc_b, diagonal) — bounded by
  a single document's length, immune to corpus-level skew.

The ``text_reuse`` gate plants shared runs between neighbor pages and the
oracle enumerates the expected spans arithmetically — the index, df-cut,
diagonal grouping, and run splitting are all pinned by the hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sigraph_spark import signals


def kgram_index(
    docs: DataFrame, doc_col: str = "url", text_col: str = "text", k: int = 5
) -> DataFrame:
    """``(doc_id, pos, gram)`` — xxhash64 of each whitespace-token k-gram,
    one row per position. Docs shorter than k tokens emit nothing.

    The token array is ``let``-bound: a lambda-captured subtree is
    re-evaluated PER ELEMENT in interpreted HOF eval, so the unbound
    form re-ran the whitespace split once per gram position — O(text²)
    per document. Docs under k tokens yield NULL, which posexplode
    drops — the same rows the old pre-filter removed."""
    from sigraph_spark.functions.hof import let

    grams = let(
        F.split(F.trim(F.col(text_col)), r"\s+"),
        lambda tokens: F.when(
            F.size(tokens) >= k,
            F.transform(
                F.sequence(F.lit(0), F.size(tokens) - k),
                lambda j: F.xxhash64(
                    F.array_join(F.slice(tokens, j + 1, k), " ")
                ),
            ),
        ),
    )
    return docs.select(
        F.col(doc_col).alias("doc_id"),
        F.posexplode(grams).alias("pos", "gram"),
    )


def reuse_spans(
    docs: DataFrame,
    doc_col: str = "url",
    text_col: str = "text",
    k: int = 5,
    min_run: int = 3,
    max_gram_df: int = 8,
) -> DataFrame:
    """Maximal aligned reuse spans between document pairs:
    ``(doc_a, doc_b, start_a, start_b, n_grams, len_tokens)`` with
    ``doc_a < doc_b`` (lexicographic), ``start_*`` = 0-based token offset,
    ``n_grams`` = matching k-gram run length (>= ``min_run``),
    ``len_tokens = n_grams + k - 1`` = shared passage length in tokens.
    """
    # the index feeds three consumers (df-count, both join legs): a lazy
    # localCheckpoint materializes the split+hash narrow map ONCE instead
    # of re-tokenizing the corpus per consumer (the in-session analog of
    # persisting the k-gram index table, which is how a 100 TB run would
    # store it anyway)
    idx = kgram_index(docs, doc_col, text_col, k).localCheckpoint(eager=False)
    df_counts = idx.groupBy("gram").agg(
        F.countDistinct("doc_id").alias("_df")
    )
    hot = df_counts.filter(F.col("_df") > max_gram_df).select("gram")
    if signals.active():
        hot = hot.localCheckpoint(eager=True)
        signals.emit("reuse_spans", hot_grams_dropped=hot.count())
    pruned = idx.join(hot, "gram", "left_anti")
    # pair generation: ONE shuffle groups each surviving gram's postings
    # and explodes the cross pairs in place. The old a-join-b self-join
    # shuffled the full index twice (alias-differing legs defeat exchange
    # reuse) and then paid a third full shuffle for a .distinct() that is
    # provably a no-op: the gram AT (doc, pos) is a single value and the
    # index is unique per (doc, pos), so each (doc_a, doc_b, pos_a,
    # pos_b) tuple can be produced by exactly one gram match (guide
    # §2.4). Group size is BOUNDED: hot grams (df > max_gram_df) were
    # dropped above, so a posting list holds at most max_gram_df
    # documents' positions — the same fan-out bound the join had.
    postings = pruned.groupBy("gram").agg(
        F.collect_list(F.struct("doc_id", "pos")).alias("_ps")
    )
    matches = (
        postings.select(
            F.explode("_ps").alias("_a"), F.col("_ps").alias("_bs")
        )
        .select("_a", F.explode("_bs").alias("_b"))
        .filter(F.col("_a.doc_id") < F.col("_b.doc_id"))
        .select(
            F.col("_a.doc_id").alias("doc_a"),
            F.col("_b.doc_id").alias("doc_b"),
            F.col("_a.pos").alias("pos_a"),
            F.col("_b.pos").alias("pos_b"),
        )
    )
    diag = matches.withColumn("_d", F.col("pos_a") - F.col("pos_b"))
    w = Window.partitionBy("doc_a", "doc_b", "_d").orderBy("pos_a")
    runs = diag.withColumn("_grp", F.col("pos_a") - F.row_number().over(w))
    return (
        runs.groupBy("doc_a", "doc_b", "_d", "_grp")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
        )
        .filter(F.col("n_grams") >= min_run)
        .select(
            "doc_a", "doc_b", "start_a",
            (F.col("start_a") - F.col("_d")).alias("start_b"),
            "n_grams",
            (F.col("n_grams") + (k - 1)).cast("long").alias("len_tokens"),
        )
    )


def reuse_graph(spans: DataFrame, min_tokens: int = 10) -> DataFrame:
    """Collapse spans into a document-level reuse graph:
    ``(doc_a, doc_b, n_spans, shared_tokens)`` keeping pairs whose total
    shared length reaches ``min_tokens`` — the quotation/syndication edge
    table the KG stores (one algebraic agg over the span table)."""
    return (
        spans.groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum("len_tokens").cast("long").alias("shared_tokens"),
        )
        .filter(F.col("shared_tokens") >= min_tokens)
    )
