"""Pagination chains (operators/pagination.py).

Pins next-link extraction (link + a forms, first-declaration-wins),
head/pos labeling via backward pointer doubling with distance
accumulation, cycle/over-long drops with a loud signal, and
position-ordered stitching.
"""

from __future__ import annotations

from sigraph_spark.operators.pagination import (
    extract_next_links, page_chains, stitch_chains,
)
from sigraph_spark.signals import collect


def _links(spark, rows):
    return spark.createDataFrame(rows, "url string, next string")


def test_extract_link_and_anchor_forms_document_order_first(spark):
    pages = spark.createDataFrame(
        [
            ("p1", '<link rel="next" href="p2"><a rel=next href="p0">n</a>'),
            ("p2", "<p>no declarations</p>"),
        ],
        "url string, html string",
    )
    got = {(r["url"], r["next"]) for r in extract_next_links(pages).collect()}
    # document-order FIRST declaration wins (the successor a browser
    # follows), even when a later one sorts lower lexicographically
    assert got == {("p1", "p2")}


def test_chain_heads_and_positions(spark):
    links = _links(spark, [("a1", "a2"), ("a2", "a3"), ("b1", "b2")])
    got = {
        (r["url"], r["head"], r["pos"])
        for r in page_chains(links).collect()
    }
    assert got == {
        ("a1", "a1", 0), ("a2", "a1", 1), ("a3", "a1", 2),
        ("b1", "b1", 0), ("b2", "b1", 1),
    }


def test_cycle_drops_loudly(spark):
    links = _links(spark, [("c1", "c2"), ("c2", "c1"), ("d1", "d2")])
    with collect() as rec:
        got = {
            (r["url"], r["head"], r["pos"])
            for r in page_chains(links).collect()
        }
    assert got == {("d1", "d1", 0), ("d2", "d1", 1)}
    assert rec["page_chains"]["unterminated"] == 2  # both cycle members


def test_overlong_chain_drops(spark):
    links = _links(
        spark, [(f"p{i}", f"p{i+1}") for i in range(10)]
    )
    with collect() as rec:
        out = page_chains(links, max_steps=4)
    # members deeper than 2^ceil(log2(4))=4 backward steps are unresolved
    assert rec["page_chains"]["unterminated"] > 0
    assert out.filter("pos > 4").count() == 0


def test_stitch_orders_by_position(spark):
    links = _links(spark, [("a1", "a2"), ("a2", "a3")])
    docs = spark.createDataFrame(
        [("a2", "middle"), ("a3", "end"), ("a1", "start"), ("zz", "free")],
        "url string, text string",
    )
    got = {
        (r["head"], r["n_parts"], r["text"])
        for r in stitch_chains(docs, page_chains(links)).collect()
    }
    assert got == {("a1", 3, "start\nmiddle\nend")}


def test_extraction_plan_narrow_until_agg(spark):
    pages = spark.createDataFrame(
        [("p1", '<link rel="next" href="p2">')], "url string, html string"
    )
    plan = (
        extract_next_links(pages)._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan
