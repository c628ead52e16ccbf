"""Hashed-feature integer perceptron: parity with a plain-Python
reference (same md5 bucket hash), partition-order invariance (integer
sums are associative), convergence on separable data, bias/empty-doc
handling."""

import hashlib

import pytest
from pyspark.sql import functions as F

from sigraph_spark.operators.classifier import (
    BIAS_BUCKET,
    classifier_score,
    hashed_features,
    perceptron_train,
    train_quality_classifier,
)
from sigraph_spark.signals import collect

GOOD = [
    "the quick brown fox jumps over the lazy dog",
    "a clean well written paragraph with the usual words",
    "the cat sat on the mat and the dog slept",
    "she read the book over a quiet weekend at home",
]
BAD = [
    "zzzz qqqq xxxx zzzz qqqq spam spam spam",
    "buy buy buy cheap cheap pills pills pills",
    "qqqq xxxx wwww vvvv spam click click here",
    "zzzz spam spam cheap pills click qqqq wwww",
]


def _docs(spark, extra=()):
    rows = [(i, t, 1) for i, t in enumerate(GOOD)]
    rows += [(100 + i, t, -1) for i, t in enumerate(BAD)]
    rows += list(extra)
    return spark.createDataFrame(rows, "doc_id long, text string, y long")


def _py_bucket(token: str, dim: int) -> int:
    h = hashlib.md5(f"feat:{token}".encode()).digest()
    return int.from_bytes(h[:4], "little") % dim


def _py_train(rows, dim, rounds):
    """Reference implementation: dict weights, full-batch updates."""
    feats = []
    for doc_id, text, y in rows:
        counts: dict[int, int] = {BIAS_BUCKET: 1}
        for tok in (text or "").lower().strip().split():
            b = _py_bucket(tok, dim)
            counts[b] = counts.get(b, 0) + 1
        feats.append((doc_id, y, counts))
    w: dict[int, int] = {}
    for _ in range(rounds):
        miscl = [
            (y, c)
            for _, y, c in feats
            if y * sum(w.get(b, 0) * n for b, n in c.items()) <= 0
        ]
        if not miscl:
            break
        for y, c in miscl:
            for b, n in c.items():
                w[b] = w.get(b, 0) + y * n
    scores = {
        doc_id: sum(w.get(b, 0) * n for b, n in c.items())
        for doc_id, y, c in feats
    }
    return w, scores


def test_bucket_hash_matches_python(spark):
    df = spark.createDataFrame([(0, "alpha beta beta gamma")], "doc_id long, text string")
    got = {
        (r["bucket"], r["cnt"])
        for r in hashed_features(df, dim=32).collect()
    }
    want = {}
    for tok in "alpha beta beta gamma".split():
        b = _py_bucket(tok, 32)
        want[b] = want.get(b, 0) + 1
    assert got == set(want.items())


@pytest.mark.parametrize("rounds", [1, 4])
def test_weights_and_scores_match_python_reference(spark, rounds):
    rows = [(i, t, 1) for i, t in enumerate(GOOD)] + [
        (100 + i, t, -1) for i, t in enumerate(BAD)
    ]
    docs = _docs(spark)
    feats = hashed_features(docs, dim=64)
    w = perceptron_train(feats, docs.select("doc_id", "y"), rounds=rounds)
    got_w = {r["bucket"]: r["w"] for r in w.collect()}
    want_w, want_scores = _py_train(rows, 64, rounds)
    # absent == zero: compare on the union of keys
    for b in set(got_w) | set(want_w):
        assert got_w.get(b, 0) == want_w.get(b, 0), f"bucket {b}"
    scored = classifier_score(feats, docs.select("doc_id"), w)
    got_scores = {r["doc_id"]: r["score"] for r in scored.collect()}
    assert got_scores == want_scores


def test_partition_order_invariance(spark):
    docs = _docs(spark)
    feats = hashed_features(docs, dim=64)
    base = {
        r["bucket"]: r["w"]
        for r in perceptron_train(feats, docs.select("doc_id", "y"), rounds=3).collect()
    }
    shuffled = {
        r["bucket"]: r["w"]
        for r in perceptron_train(
            feats.repartition(7), docs.select("doc_id", "y").repartition(5), rounds=3
        ).collect()
    }
    for b in set(base) | set(shuffled):
        assert base.get(b, 0) == shuffled.get(b, 0)


def test_converges_on_separable_corpus(spark):
    docs = _docs(spark)
    with collect() as rec:
        out = train_quality_classifier(
            docs, F.col("y"), dim=64, rounds=10
        ).collect()
    assert all(r["pred"] == r["label"] for r in out)  # train acc 1.0
    # stopped before 10 rounds
    assert "converged_round" in rec["perceptron_train"]
    # the quality head separates unseen same-distribution docs too
    held = spark.createDataFrame(
        [(900, "the dog and the fox read a book", 1),
         (901, "spam spam cheap pills zzzz qqqq", -1)],
        "doc_id long, text string, y long",
    )
    w = perceptron_train(
        hashed_features(docs, dim=64), docs.select("doc_id", "y"), rounds=10
    )
    preds = {
        r["doc_id"]: r["pred"]
        for r in classifier_score(
            hashed_features(held, dim=64), held.select("doc_id"), w
        ).collect()
    }
    assert preds == {900: 1, 901: -1}


def test_empty_and_null_docs_get_bias_only_score(spark):
    docs = _docs(spark, extra=[(500, "", 1), (501, None, -1)])
    feats = hashed_features(docs, dim=64)
    w = perceptron_train(feats, docs.select("doc_id", "y"), rounds=2)
    bias = {r["bucket"]: r["w"] for r in w.collect()}.get(BIAS_BUCKET, 0)
    scored = {
        r["doc_id"]: r["score"]
        for r in classifier_score(feats, docs.select("doc_id"), w).collect()
    }
    # token-less docs still appear, scored by the bias alone
    assert scored[500] == bias and scored[501] == bias


def test_round1_is_class_difference_centroid(spark):
    """From zero weights every doc is misclassified (y*0 <= 0), so the
    first round's weights are exactly sum(y * cnt) per bucket."""
    docs = _docs(spark)
    feats = hashed_features(docs, dim=64)
    w1 = {
        r["bucket"]: r["w"]
        for r in perceptron_train(feats, docs.select("doc_id", "y"), rounds=1).collect()
    }
    want = (
        feats.join(docs.select("doc_id", "y"), "doc_id")
        .groupBy("bucket")
        .agg(F.sum(F.col("y") * F.col("cnt")).alias("s"))
        .collect()
    )
    for r in want:
        assert w1.get(r["bucket"], 0) == r["s"]
    assert w1.get(BIAS_BUCKET, 0) == 0  # 4 pos + 4 neg bias rows cancel
