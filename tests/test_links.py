"""Hyperlink extraction + host link graph."""

from __future__ import annotations

import pytest

from sigraph_spark.operators.links import extract_links, host_link_graph, page_host
from sigraph_spark.signals import collect
from pyspark.sql import functions as F


HTML = (
    '<html><body><a href="https://a.com/x">1</a>'
    "<a href='https://b.com/y?z=1'>2</a>"
    '<a href="/relative">3</a>'
    '<img src="https://c.com/i.png">'  # not an href: ignored
    '<A HREF="https://up.com/">case-sensitive: ignored</A>'
    "</body></html>"
)


def test_extract_links_and_host_graph(spark):
    pages = spark.createDataFrame(
        [("https://src.org/page", HTML)], "url string, html string"
    )
    links = {r["target"] for r in extract_links(pages).collect()}
    assert links == {"https://a.com/x", "https://b.com/y?z=1", "/relative"}

    g = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in host_link_graph(extract_links(pages)).collect()
    }
    # relative target dropped; one link each to a.com and b.com
    assert g == {("src.org", "a.com"): 1, ("src.org", "b.com"): 1}


def test_extract_links_binary_html(spark):
    pages = spark.createDataFrame(
        [("https://s.org/p", HTML.encode())], "url string, html binary"
    )
    assert extract_links(pages).count() == 3


def test_host_graph_aggregates_counts(spark):
    rows = [
        ("https://x.org/1", "https://y.org/a"),
        ("https://x.org/2", "https://y.org/b"),
        ("https://x.org/3", "relative/no/host"),
    ]
    links = spark.createDataFrame(rows, "url string, target string")
    g = host_link_graph(links).collect()
    assert [(r["src_host"], r["dst_host"], r["n_links"]) for r in g] == [
        ("x.org", "y.org", 2)
    ]


def test_page_host_port_and_path(spark):
    df = spark.createDataFrame(
        [("https://h.example.com:8443/a/b?c=1",)], "u string"
    )
    assert df.select(page_host(F.col("u")).alias("h")).collect()[0]["h"] == (
        "h.example.com:8443"
    )


def test_canonical_url_rules(spark):
    from sigraph_spark.operators.links import canonical_url

    cases = [
        # (input, expected)
        ("HTTPS://Example.COM:443/A/B/", "https://example.com/A/B"),
        ("http://example.com:80/", "http://example.com/"),
        ("http://example.com", "http://example.com"),
        ("https://e.com/p?utm_source=x&b=2&a=1#frag", "https://e.com/p?a=1&b=2"),
        ("https://e.com/p?utm_source=x&fbclid=y", "https://e.com/p"),
        ("https://e.com/p?z=1", "https://e.com/p?z=1"),
        ("https://e.com/#top", "https://e.com/"),
        ("https://e.com:8080/x", "https://e.com:8080/x"),  # non-default port kept
        # '?' inside a param value: query is everything after the FIRST '?'
        (
            "https://e.com/p?next=https://o.com/q?y=1&a=1",
            "https://e.com/p?a=1&next=https://o.com/q?y=1",
        ),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = [
        r["c"] for r in df.select(canonical_url(F.col("u")).alias("c")).collect()
    ]
    assert got == [e for _, e in cases]


def test_canonical_url_collapses_aliases(spark):
    from sigraph_spark.operators.links import canonical_url

    aliases = [
        "https://E.com/page?b=2&a=1",
        "https://e.com:443/page/?a=1&b=2#x",
        "https://e.com/page?utm_campaign=c&a=1&b=2",
    ]
    df = spark.createDataFrame([(u,) for u in aliases], "u string")
    n = df.select(canonical_url(F.col("u")).alias("c")).distinct().count()
    assert n == 1


def test_blocklist_filter_exact_and_parent_suffix(spark):
    from sigraph_spark.operators.links import blocklist_filter

    docs = spark.createDataFrame(
        [
            (1, "https://good.example.com/a"),
            (2, "https://Bad.Example.com:8443/b"),     # exact (case/port insensitive)
            (3, "https://sub.spam.net/c"),             # parent-domain suffix
            (4, "https://deep.x.sub.spam.net/d"),      # deeper suffix
            (5, "https://notspam.net/e"),              # NOT a label-boundary match
            (6, "https://spam.net.example.com/f"),     # suffix only, not infix
        ],
        "doc_id long, url string",
    )
    blocked = spark.createDataFrame(
        [("bad.example.com",), ("spam.net",)], "host string"
    )
    kept = sorted(r["doc_id"] for r in blocklist_filter(docs, blocked).collect())
    assert kept == [1, 5, 6]


# --- anchor-text entity priors -------------------------------------------

ANCHOR_HTML = (
    '<html><a href="https://en.wiki/Apple_Inc">Apple</a>'
    "<a href='https://en.wiki/Apple_Inc'>  APPLE  </a>"
    '<a class="x" href="https://en.wiki/Apple_(fruit)">apple</a>'
    '<a href="https://en.wiki/Banana">banana</a>'
    '<a href="/rel">apple</a>'  # relative: dropped from priors
    '<a href="https://en.wiki/Empty"></a>'  # empty anchor: dropped
    "</html>"
)


def _anchor_pages(spark):
    return spark.createDataFrame(
        [("https://src.org/p", ANCHOR_HTML)], "url string, html string"
    )


def test_extract_anchors_pairs_href_with_text(spark):
    from sigraph_spark.operators.links import extract_anchors

    got = {
        (r["target"], r["anchor"])
        for r in extract_anchors(_anchor_pages(spark)).collect()
    }
    assert ("https://en.wiki/Apple_Inc", "Apple") in got
    assert ("https://en.wiki/Apple_(fruit)", "apple") in got
    assert ("/rel", "apple") in got
    assert ("https://en.wiki/Empty", "") in got


def test_anchor_priors_distribution_and_rank(spark):
    from sigraph_spark.operators.links import anchor_priors, extract_anchors

    pri = anchor_priors(extract_anchors(_anchor_pages(spark)))
    rows = {
        (r["anchor"], r["target"]): (r["n"], r["total"], r["p"], r["rank"])
        for r in pri.collect()
    }
    # case/whitespace folded: 'apple' has 2 observations of Apple_Inc, 1 of fruit
    assert rows[("apple", "https://en.wiki/Apple_Inc")] == (2, 3, 0.666667, 1)
    assert rows[("apple", "https://en.wiki/Apple_(fruit)")] == (1, 3, 0.333333, 2)
    assert rows[("banana", "https://en.wiki/Banana")][3] == 1
    # relative + empty anchors never enter the dictionary
    assert all(a != "" for a, _ in rows)


def test_link_mentions_broadcast_topk(spark):
    from sigraph_spark.operators.links import (
        anchor_priors, extract_anchors, link_mentions,
    )

    pri = anchor_priors(extract_anchors(_anchor_pages(spark)))
    mentions = spark.createDataFrame(
        [("doc1", " Apple "), ("doc2", "banana"), ("doc3", "unknown thing")],
        "doc_id string, mention string",
    )
    out = {r["doc_id"]: (r["entity"], r["confidence"]) for r in
           link_mentions(mentions, pri).collect()}
    assert out["doc1"] == ("https://en.wiki/Apple_Inc", 0.666667)
    assert out["doc2"][0] == "https://en.wiki/Banana"
    assert out["doc3"] == (None, None)  # abstain, not drop
    plan = link_mentions(mentions, pri)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def _aliases(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string")


def test_resolve_redirects_chain_and_terminal(spark):
    from sigraph_spark.operators.links import resolve_redirects

    out = {r["url"]: r["resolved"] for r in resolve_redirects(
        _aliases(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    ).collect()}
    assert out == {"a": "d", "b": "d", "c": "d"}


def test_resolve_redirects_cycle_members_agree(spark):
    from sigraph_spark.operators.links import resolve_redirects

    with collect() as rec:
        out = {r["url"]: r["resolved"] for r in resolve_redirects(
            _aliases(spark, [("p", "q"), ("q", "r"), ("r", "p"), ("t", "p")]),
        ).collect()}
    # every cycle member resolves to the cycle's min url; the tail node
    # joins them (its successor set IS the cycle here)
    assert out == {"p": "p", "q": "p", "r": "p", "t": "p"}
    assert rec["resolve_redirects"]["unterminated"] == 4


def test_resolve_redirects_conflict_takes_min_dst(spark):
    from sigraph_spark.operators.links import resolve_redirects

    out = {r["url"]: r["resolved"] for r in resolve_redirects(
        _aliases(spark, [("k", "z"), ("k", "b"), ("b", "d")])
    ).collect()}
    assert out["k"] == "d"  # min(b, z) = b, then b -> d


def test_resolve_redirects_long_chain_capped(spark):
    from sigraph_spark.operators.links import resolve_redirects

    # chain n0 -> n1 -> ... -> n9 with zero-padded names; cap at 4 steps:
    # walks that don't reach the terminal resolve to min of first 4
    # successors (their immediate next, names ascending)
    rows = [(f"n{i}", f"n{i+1}") for i in range(9)]
    with collect() as rec:
        out = {r["url"]: r["resolved"] for r in resolve_redirects(
            _aliases(spark, rows), max_steps=4
        ).collect()}
    assert out["n5"] == "n9"  # 4 steps away exactly
    assert out["n0"] == "n1"  # capped: min(n1..n4)
    assert rec["resolve_redirects"]["unterminated"] == 5
    full = {r["url"]: r["resolved"] for r in resolve_redirects(
        _aliases(spark, rows), max_steps=16
    ).collect()}
    assert all(v == "n9" for v in full.values())
    # a cap of 3 steps is not reachable by doubling (it would silently
    # run 4 steps and resolve n5 to n9): rejected up front
    with pytest.raises(ValueError, match="power of two"):
        resolve_redirects(_aliases(spark, rows), max_steps=3)


def test_extract_canonical_aliases_both_attr_orders(spark):
    from sigraph_spark.operators.links import extract_canonical_aliases

    pages = spark.createDataFrame(
        [
            ("u1", '<link rel="canonical" href="https://x/canon">'),
            ("u2", "<link href='https://x/canon2' rel='canonical'>"),
            ("u3", '<link rel="stylesheet" href="https://x/style.css">'),
            ("https://x/self", '<link rel="canonical" href="https://x/self">'),
        ],
        "url string, html string",
    )
    out = {r["src"]: r["dst"] for r in extract_canonical_aliases(pages).collect()}
    assert out == {"u1": "https://x/canon", "u2": "https://x/canon2"}
