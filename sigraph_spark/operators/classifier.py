"""Model-based corpus filtering: a distributed linear text classifier
over hashed bag-of-words features.

Modern training-data pipelines gate documents with a *learned* filter
(fastText-style linear classifiers over hashed n-grams — the CCNet /
DCLM "model-based quality" stage), not just heuristics. This module is
that stage, Spark-first: sparse hashed features as a tall DataFrame,
full-batch training as a per-round pair of aggregations, inference as
one broadcast join + sum. There is no reference counterpart (the
reference has no ML stage); this extends the training-pipeline surface
the same way dedup/ANN do.

Training is a **full-batch integer perceptron** (fixed rounds, learning
rate 1, update on ``y * margin <= 0``). Everything is BIGINT: integer
sums are exactly associative, so the trained weights are partition-order
invariant and bit-identical to an unrolled-CTE DuckDB oracle — the same
device as fixed-point PageRank (`operators/pagerank.py`). Float GD would
drift across engines; the perceptron needs no floats at all.

The feature hash is the engine-portable md5 family
(`dedup.hash32_md5_le`), so oracles reproduce the exact buckets.

Scale shape (per round, feature table persisted once):
* margins: broadcast the O(dim)-row weight table onto the sparse
  feature table, one algebraic per-doc sum — the only shuffle of
  feature rows is by doc id, and repartitioning the persisted table by
  id once lets every round reuse that exchange.
* updates: only *misclassified* docs' feature rows reach the
  O(dim)-row bucket aggregation (shrinking each round as training
  converges); the Zipf bucket head is absorbed map-side by the
  algebraic sum.
* weights never exceed ``dim`` rows (dim ~ 2^20 in production is a
  few MB — always broadcast-able); per-round lineage is truncated with
  ``localCheckpoint`` like the BPE merge loop (`operators/bpe.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sigraph_spark import signals
from sigraph_spark.operators.dedup import hash32_md5_le

#: bucket id reserved for the bias term (every doc gets cnt=1 of it).
BIAS_BUCKET = -1

_WEIGHT_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.LongType()),
        T.StructField("w", T.LongType()),
    ]
)


def hashed_features(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 256,
) -> DataFrame:
    """Sparse hashed bag-of-words: ``(id, bucket, cnt)`` with
    ``bucket = hash32_md5_le('feat:' || token) % dim``.

    Tokenization is the corpus-wide whitespace device (same split as
    `corpus.unigram_logprob`), all JVM: explode + one algebraic count
    agg. Compute once, persist, train many heads on it.
    """
    words = F.split(
        F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"
    )
    toks = docs.select(F.col(id_col), F.explode(words).alias("token")).filter(
        F.col("token") != ""
    )
    bucket = (
        hash32_md5_le(F.concat(F.lit("feat:"), F.col("token"))) % F.lit(dim)
    ).alias("bucket")
    return toks.select(id_col, bucket).groupBy(id_col, "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


def _augmented(feats: DataFrame, ids: DataFrame, id_col: str) -> DataFrame:
    """Feature rows plus one bias row (bucket=-1, cnt=1) per doc in
    ``ids`` — which also guarantees zero-token docs participate."""
    bias = ids.select(
        F.col(id_col),
        F.lit(BIAS_BUCKET).cast("long").alias("bucket"),
        F.lit(1).cast("long").alias("cnt"),
    )
    return feats.select(
        id_col, F.col("bucket").cast("long"), F.col("cnt").cast("long")
    ).unionByName(bias)


def _margins(fa: DataFrame, weights: DataFrame, id_col: str) -> DataFrame:
    """Per-doc integer margin ``sum(w_bucket * cnt)`` under ``weights``
    (missing buckets are 0)."""
    return (
        fa.join(F.broadcast(weights), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.coalesce(F.col("w"), F.lit(0)) * F.col("cnt"))
            .cast("long")
            .alias("margin")
        )
    )


def perceptron_train(
    feats: DataFrame,
    labels: DataFrame,
    rounds: int = 4,
    id_col: str = "doc_id",
    label_col: str = "y",
) -> DataFrame:
    """Train integer perceptron weights; returns ``(bucket, w)`` BIGINT
    (``bucket = -1`` is the bias).

    ``labels`` must carry ``(id_col, label_col)`` with labels in
    {+1, -1}. Fixed ``rounds`` full-batch updates: all docs with
    ``y * margin <= 0`` contribute ``y * cnt`` to their buckets (so
    round 1, from zero weights, is the class-difference centroid).
    Early-exits when a round misclassifies nothing — a no-op round in
    the unrolled oracle, so fixed-round oracles still match.
    """
    spark = feats.sparkSession
    lbl = labels.select(id_col, F.col(label_col).cast("long").alias("y"))
    fa = _augmented(feats, lbl, id_col).persist()
    weights = spark.createDataFrame([], _WEIGHT_SCHEMA)
    for r in range(1, rounds + 1):
        miscl = (
            lbl.join(_margins(fa, weights, id_col), id_col)
            .filter(F.col("y") * F.col("margin") <= 0)
            .select(id_col, "y")
        )
        delta = (
            fa.join(miscl, id_col)
            .groupBy("bucket")
            .agg(F.sum(F.col("y") * F.col("cnt")).cast("long").alias("dw"))
            # one heavy pass per round: materialize it ONCE, so the
            # early-exit count and the (dim-sized) weight fold below both
            # read the checkpointed result instead of recomputing margins
            .localCheckpoint(eager=True)
        )
        n_upd = delta.count()
        signals.emit("perceptron_train", **{f"round_{r}_updated_buckets": n_upd})
        if n_upd == 0:
            signals.emit("perceptron_train", converged_round=r)
            break
        weights = (
            weights.join(delta, "bucket", "full_outer")
            .select(
                F.col("bucket"),
                (
                    F.coalesce(F.col("w"), F.lit(0))
                    + F.coalesce(F.col("dw"), F.lit(0))
                )
                .cast("long")
                .alias("w"),
            )
            .localCheckpoint(eager=True)
        )
    fa.unpersist()
    return weights


def classifier_score(
    feats: DataFrame,
    ids: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Inference: ``(id, score, pred)`` with ``score = w . x`` (BIGINT)
    and ``pred = +1 iff score > 0``. One broadcast join + one sum —
    scoring 10^12 docs is a single shuffle-by-id job over the sparse
    feature table."""
    m = _margins(_augmented(feats, ids, id_col), weights, id_col)
    return m.select(
        id_col,
        F.col("margin").alias("score"),
        F.when(F.col("margin") > 0, F.lit(1))
        .otherwise(F.lit(-1))
        .cast("int")
        .alias("pred"),
    )


def train_quality_classifier(
    docs: DataFrame,
    label: F.Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 256,
    rounds: int = 4,
) -> DataFrame:
    """End-to-end convenience: hash features, train on ``label`` (a
    Column evaluating to +1/-1 over ``docs`` — e.g. a heuristic teacher
    being distilled, or a seed-set membership flag), score every doc.
    Returns ``(id, score, pred, label)``."""
    lbl = docs.select(F.col(id_col), label.cast("long").alias("y"))
    feats = hashed_features(docs, id_col, text_col, dim).persist()
    weights = perceptron_train(feats, lbl, rounds=rounds, id_col=id_col)
    scored = classifier_score(feats, lbl, weights, id_col)
    out = scored.join(lbl, id_col).select(
        id_col, "score", "pred", F.col("y").alias("label")
    )
    return out
