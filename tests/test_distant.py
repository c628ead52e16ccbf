"""Distant supervision: python-reference parity, token-boundary
semantics, anchor blocking completeness, hot-anchor guard."""

from __future__ import annotations

from pyspark.sql import functions as F

from sigraph_spark.operators.distant import distant_supervision
from sigraph_spark.signals import collect

DOCS = "doc_id long, text string"
FACTS = "subj string, predicate string, obj string"


def _ds_python(docs, facts):
    import re

    out = set()
    for doc_id, text in docs:
        marked = re.sub(r"([.!?])\s+", "\\1\x1d", text or "")
        for sid, raw in enumerate(marked.split("\x1d"), start=1):
            sent = raw.strip()
            if not sent:
                continue
            hay = " " + " ".join(t for t in sent.split() if t) + " "
            for s, p, o in set(facts):
                if f" {s} " in hay and f" {o} " in hay:
                    out.add((doc_id, sid, sent, s, p, o))
    return out


def test_matches_python_reference_multi_sentence(spark):
    docs = [
        (1, "alice works at acme corp. bob knows alice! acme corp hired bob."),
        (2, "nothing relevant here. alice alone."),
        (3, None),
    ]
    facts = [
        ("alice", "employed_by", "acme corp"),
        ("bob", "knows", "alice"),
        ("alice", "knows", "zed"),  # zed never occurs
    ]
    out = distant_supervision(
        spark.createDataFrame(docs, DOCS), spark.createDataFrame(facts, FACTS)
    )
    got = {tuple(r) for r in out.collect()}
    assert got == _ds_python(docs, facts)
    # sentence 1 of doc 1 carries the employed_by fact
    assert (1, 1, "alice works at acme corp.",
            "alice", "employed_by", "acme corp") not in got  # '.' breaks token
    # "acme corp." with trailing period is NOT the token run "acme corp"
    assert any(r[2] == "acme corp hired bob." and r[3] == "bob" for r in got) is False


def test_token_boundary_no_substring_false_positive(spark):
    docs = [(1, "scanner scan scans")]
    facts = [("scan", "p", "scans"), ("scanner", "p", "scan"), ("can", "p", "scan")]
    out = {tuple(r)[3:] for r in distant_supervision(
        spark.createDataFrame(docs, DOCS), spark.createDataFrame(facts, FACTS)
    ).collect()}
    assert ("scan", "p", "scans") in out
    assert ("scanner", "p", "scan") in out
    assert ("can", "p", "scan") not in out  # substring of 'scan*' only


def test_multitoken_entity_contiguous_run(spark):
    docs = [
        (1, "the hash value table is big"),
        (2, "hash near value table"),  # tokens present but not contiguous
    ]
    facts = [("hash value", "phrase_with", "table")]
    got = {r["doc_id"] for r in distant_supervision(
        spark.createDataFrame(docs, DOCS), spark.createDataFrame(facts, FACTS)
    ).collect()}
    assert got == {1}


def test_whitespace_normalization(spark):
    # multiple spaces/tabs between entity tokens still match
    docs = [(1, "hash \t  value   table here")]
    facts = [("hash value", "p", "table")]
    assert distant_supervision(
        spark.createDataFrame(docs, DOCS), spark.createDataFrame(facts, FACTS)
    ).count() == 1


def test_hot_anchor_guard_drops_loudly(spark):
    docs = [(i, f"the common word x{i} appears") for i in range(20)]
    facts = [("the common", "p", "appears"), (f"x5", "p", "appears")]
    with collect() as rec:
        out = distant_supervision(
            spark.createDataFrame(docs, DOCS),
            spark.createDataFrame(facts, FACTS),
            max_anchor_df=5,
        )
    got = {tuple(r)[3:] for r in out.collect()}
    # 'the' and 'appears' anchor in every sentence -> entities dropped,
    # recorded loudly
    assert rec["distant_supervision"]["dropped_entities"] == [
        "appears", "the common",
    ]
    assert ("the common", "p", "appears") not in got
    # rare-anchored entity survives; 'appears' is also hot as an OBJECT
    # anchor, so the x5 fact is dropped too unless its anchor survives
    assert ("x5", "p", "appears") not in got  # obj anchor 'appears' hot


def test_duplicate_facts_collapse(spark):
    docs = [(1, "a b c")]
    facts = [("a", "p", "c"), ("a", "p", "c")]
    assert distant_supervision(
        spark.createDataFrame(docs, DOCS), spark.createDataFrame(facts, FACTS)
    ).count() == 1
