"""Distant supervision: KG facts -> relation-extraction training data.

The closing loop of a KG construction pipeline (Mintz et al. 2009): once
a (subject, predicate, object) edge table exists, every corpus sentence
that mentions BOTH endpoints of a fact becomes a (noisy) positive
training example for a relation extractor — the standard way to turn a
bootstrapped KG plus 10^12 documents into supervised training data
without labeling. The reference's extraction rules are hand-written
pattern matchers (/root/reference/src/...); distant supervision is how
those rules get replaced or augmented by a learned extractor, so this
operator plus ``operators/classifier.py`` closes extract -> KG ->
training-set -> model.

Matching semantics (shared verbatim by the DuckDB oracle): an entity
MENTION is its name appearing as a contiguous run of whitespace tokens
in the sentence — the sentence's tokens are joined by single spaces,
padded with one leading/trailing space, and the needle is
``' ' + entity + ' '`` located by plain substring search (no regex, no
case folding: engine-exact).

Scale design (the part that matters at 10^12 documents):

* NEVER sentences x facts. The corpus side explodes to DISTINCT
  (sentence, token) rows once; the entity vocabulary joins on its FIRST
  token (the anchor) — an equi-join that prunes candidates to sentences
  sharing the anchor — and only candidates pay the full containment
  probe. Same blocked-containment shape as ``links.blocklist_filter``
  and ``dedup.containment_pairs``.
* Anchor skew guard: an entity anchored on a stop-word-frequency token
  would fan one join key out to a large share of the corpus.
  ``max_anchor_df`` (measured in sentences, on THIS corpus) drops such
  anchors loudly into a signal rather than silently stalling a
  reducer — the stop-shingle device of containment_pairs.
  Dropped anchors lose those entities' mentions (recall, not
  correctness); re-run with a higher cap or a cleaned vocabulary.
* The fact table joins mentions twice (subject, object) on entity
  keys — plain hash joins, broadcast by AQE when the KG side fits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sigraph_spark import signals
from sigraph_spark.operators.corpus import split_sentences


def _hay(sentence: Column) -> Column:
    """' ' + single-space-joined tokens + ' ' — the padded haystack."""
    toks = F.filter(
        F.split(F.trim(sentence), r"\s+"), lambda x: x != ""
    )
    return F.concat(F.lit(" "), F.concat_ws(" ", toks), F.lit(" "))


def distant_supervision(
    docs: DataFrame,
    facts: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    subj_col: str = "subj",
    pred_col: str = "predicate",
    obj_col: str = "obj",
    max_anchor_df: int | None = None,
) -> DataFrame:
    """Sentence-level distant supervision: one row per (sentence, fact)
    where the sentence mentions both the fact's subject and object.
    Returns ``(id, sentence_id, sentence, subj, predicate, obj)``.

    ``facts`` needs columns (subj, predicate, obj) — typically the
    canonicalized KG edge table. Duplicate facts collapse (DISTINCT on
    the fact key before matching). Entities cut by ``max_anchor_df``
    are the signal's ``dropped_entities``."""
    sents = split_sentences(docs, text_col, id_col).select(
        F.col(id_col).alias("_id"),
        "sentence_id",
        "sentence",
        _hay(F.col("sentence")).alias("_hay"),
    )
    f = facts.select(
        F.col(subj_col).alias("subj"),
        F.col(pred_col).alias("predicate"),
        F.col(obj_col).alias("obj"),
    ).distinct().localCheckpoint(eager=False)
    ents = (
        f.select(F.col("subj").alias("entity"))
        .unionByName(f.select(F.col("obj").alias("entity")))
        .distinct()
        .select(
            "entity",
            F.element_at(
                F.filter(F.split(F.trim("entity"), r"\s+"), lambda x: x != ""),
                1,
            ).alias("_anchor"),
        )
        .filter(F.col("_anchor").isNotNull())
    )
    # the token explode CARRIES the sentence and haystack: the anchor
    # join below broadcasts the (bounded) entity vocabulary, so the
    # exploded corpus side never shuffles and the old join-back to
    # ``sents`` on (_id, sentence_id) — a full extra shuffle of the
    # token table, plus a third derivation of split_sentences — is
    # gone (guide §2.4: remove shuffles outright)
    tokens = sents.select(
        "_id",
        "sentence_id",
        "sentence",
        "_hay",
        F.explode(
            F.array_distinct(
                F.filter(F.split(F.trim("sentence"), r"\s+"), lambda x: x != "")
            )
        ).alias("_anchor"),
    )
    if max_anchor_df is not None:
        df_counts = tokens.groupBy("_anchor").agg(
            F.count(F.lit(1)).alias("_df")
        )
        hot = df_counts.filter(F.col("_df") > max_anchor_df)
        if signals.active():
            dropped = ents.join(F.broadcast(hot), "_anchor").select("entity")
            names = sorted(r["entity"] for r in dropped.collect())
            signals.emit("distant_supervision", dropped_entities=names)
        ents = ents.join(F.broadcast(hot.select("_anchor")), "_anchor", "left_anti")
    # explicit broadcast of the vocabulary: its size estimate is opaque
    # after the union+distinct, and a missed broadcast would shuffle the
    # whole exploded token table on _anchor (guide §3.1 — hint when you
    # KNOW a side is small; the label vocabulary of a distant-supervision
    # fact set is bounded, and the old shape assumed it joins hash-side
    # anyway). ``sentence`` rides along so the final output needs no
    # third sents derivation/join; mention distinctness is unchanged
    # (sentence is functionally dependent on (_id, sentence_id)).
    mentions = (
        tokens.join(F.broadcast(ents), "_anchor")
        .filter(
            F.instr(
                F.col("_hay"), F.concat(F.lit(" "), F.col("entity"), F.lit(" "))
            )
            > 0
        )
        .select("_id", "sentence_id", "sentence", "entity")
        .distinct()
    )
    ms = mentions.withColumnRenamed("entity", "subj")
    mo = mentions.select("_id", "sentence_id", F.col("entity").alias("obj"))
    out = (
        f.join(ms, "subj")
        .join(mo, ["_id", "sentence_id", "obj"])
        .select(
            F.col("_id").alias(id_col),
            "sentence_id",
            "sentence",
            "subj",
            "predicate",
            "obj",
        )
    )
    return out
