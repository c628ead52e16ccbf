"""Distributed BPE training + encoding (operators/bpe.py).

Pins: (1) classic-corpus merge order, (2) greedy left-to-right overlap
exactness of the double-separator literal-replace device, (3) the Arrow
rank-priority encoder equals the JVM replace-chain encoder, (4) edge
cases (null text, exhausted vocabulary), (5) sentence segmentation."""

from __future__ import annotations

from pyspark.sql import functions as F

from sigraph_spark.signals import collect


def _toy(spark):
    return spark.createDataFrame(
        [
            (1, "low low low low low lower lower newest newest newest"
                " newest newest newest widest widest widest"),
            (2, "aaaa aaaa abab the cat sat on the mat, the cat!"),
        ],
        "doc_id int, text string",
    )


def test_train_classic_corpus(spark):
    """Sennrich-style corpus: est/ow families merge in frequency order,
    ties broken lexicographically — byte-stable across runs."""
    from sigraph_spark.operators.bpe import bpe_train

    rows = [tuple(r) for r in sorted(bpe_train(_toy(spark), num_merges=5).collect())]
    assert rows == [
        (1, "t", "</w>", 13),
        (2, "e", "s", 9),
        (3, "es", "t</w>", 9),
        (4, "l", "o", 7),
        (5, "lo", "w", 7),
    ]


def test_greedy_overlap_exact(spark):
    """The double-separator replace must merge overlapping pair runs
    greedily left-to-right: aaaa -> (aa)(aa), aaa -> (aa)a — the case a
    single-separator encoding gets wrong (it skips alternate sites)."""
    from sigraph_spark.operators.bpe import merge_pair, word_delim, SEP2, END

    df = spark.createDataFrame(
        [("aaaa",), ("aaa",), ("ababab",)], "word string"
    ).select(
        "word",
        F.filter(
            F.split(merge_pair(word_delim(F.col("word")), "a", "a"), SEP2),
            lambda s: s != F.lit(""),
        ).alias("aa"),
        F.filter(
            F.split(
                merge_pair(
                    merge_pair(word_delim(F.col("word")), "a", "b"), "ab", "ab"
                ),
                SEP2,
            ),
            lambda s: s != F.lit(""),
        ).alias("abab"),
    )
    got = {r["word"]: (r["aa"], r["abab"]) for r in df.collect()}
    assert got["aaaa"][0] == ["aa", "aa", END]
    assert got["aaa"][0] == ["aa", "a", END]
    # chain of three (ab) merges then (abab): greedy pairs the first two
    assert got["ababab"][1] == ["abab", "ab", END]


def test_encode_paths_agree(spark):
    """bpe_encode (chained JVM replaces) == bpe_encode_arrow (Arrow
    rank-priority with unique-word cache), row for row, incl. word_pos
    parity for empty split elements."""
    from sigraph_spark.operators.bpe import bpe_encode, bpe_encode_arrow, bpe_train

    docs = _toy(spark).union(
        spark.createDataFrame([(3, None), (4, "  "), (5, "!!x!!")],
                              "doc_id int, text string")
    )
    merges = bpe_train(docs, num_merges=8).collect()
    a = bpe_encode(docs, merges).orderBy("doc_id", "word_pos").collect()
    b = bpe_encode_arrow(docs, merges).orderBy("doc_id", "word_pos").collect()
    assert a == b
    assert len(a) > 0


def test_train_exhausted_vocab(spark):
    """More rounds than possible merges: stops early, reports it."""
    from sigraph_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame([(1, "ab ab ab")], "doc_id int, text string")
    with collect() as rec:
        rows = bpe_train(docs, num_merges=50).collect()
    # "ab" has symbols a, b, </w>: exactly 2 merges exist
    assert len(rows) == 2
    sig = rec["bpe_train"]
    assert sig["exhausted"] is True and sig["rounds"] == 2


def test_split_sentences(spark):
    """Seps: period/bang/question + any whitespace run; sentence_id is
    the 1-based raw split position (stable when empties drop); text with
    no terminal punctuation still yields its tail sentence."""
    from sigraph_spark.operators.corpus import split_sentences

    docs = spark.createDataFrame(
        [
            (1, "One two. Three!  Four?\nFive"),
            (2, "no punctuation at all"),
            (3, "Trailing dot. "),
            (4, None),
            (5, "A.B stays together. next"),
        ],
        "doc_id int, text string",
    )
    got = {
        (r["doc_id"], r["sentence_id"]): r["sentence"]
        for r in split_sentences(docs).collect()
    }
    assert got == {
        (1, 1): "One two.",
        (1, 2): "Three!",
        (1, 3): "Four?",
        (1, 4): "Five",
        (2, 1): "no punctuation at all",
        (3, 1): "Trailing dot.",
        # doc 4 (null) -> no rows; "A.B" has no whitespace after the dot
        (5, 1): "A.B stays together.",
        (5, 2): "next",
    }


def test_batched_training_equals_sequential(spark):
    from sigraph_spark.operators.bpe import bpe_train

    # batching is an exactness-preserving optimization: identical merge
    # tables (rank, lhs, rhs, freq) at any batch width, fewer driver jobs
    rows = [
        (1, "the quick brown fox jumps over the lazy dog the fox"),
        (2, "aaaa abab the the then there banana bandana"),
        (3, "low lower lowest newer newest wider wide widen"),
        (4, "x y z x y z xy yz zx the a an and then them"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with collect() as rec:
        seq = bpe_train(docs, num_merges=24, batch_candidates=1).collect()
    m_seq = rec["bpe_train"]
    with collect() as rec:
        bat = bpe_train(docs, num_merges=24, batch_candidates=64).collect()
    m_bat = rec["bpe_train"]
    assert [tuple(r) for r in seq] == [tuple(r) for r in bat]
    assert m_seq["rounds"] == m_bat["rounds"] == 24
    assert m_seq["driver_jobs"] == 24
    assert m_bat["driver_jobs"] < m_seq["driver_jobs"]
