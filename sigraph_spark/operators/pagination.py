"""rel=next pagination chains: multi-page article reassembly.

Long articles ship as page-1..page-N under ``<link rel="next">`` (or
``<a rel="next">``) declarations, and a webtext corpus that treats each
part as an independent document both fragments the text (bad training
data, broken extraction context) and splits the KG's per-document
aggregates. This family stitches them:

* :func:`extract_next_links` — the declared (url, next) edges, first
  declaration per page wins (DOCUMENT order — the successor a browser
  would follow);
* :func:`page_chains` — every chain member labeled with its chain HEAD
  (the member with no incoming next-edge) and 0-based position:
  ``functions/fixpoint.py``'s :func:`pointer_double` over the REVERSED
  edges, ``+`` accumulating the distance. Cyclic or over-long chains
  (> ``max_steps`` backward steps) DROP loudly via the signal's
  ``unterminated`` count — a malformed pagination loop must not
  fabricate a head;
* :func:`stitch_chains` — chain texts concatenated in position order:
  one groupBy(head) with ``array_agg`` of (pos, text) structs sorted
  in-group. The group key is the chain head, so group size is bounded
  by the chain-length cap, not by any data skew.

Scale shape: link extraction is a narrow map; chain labeling is
log2(max_steps) equi-joins on the pointer table (O(pages-with-links),
not O(pages)); stitching is ONE shuffle keyed by head.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sigraph_spark import signals
from sigraph_spark.functions.fixpoint import pointer_double

NEXT_RE = (
    r"(?is)<(?:link|a)\b[^>]*\brel=[\"']?next[\"']?[^>]*"
    r"\bhref=[\"']([^\"'>]+)[\"']"
)


def extract_next_links(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Pages -> ``(url, next)``: the first rel=next declaration per page
    in DOCUMENT order (``F.get(..., 0)`` on the extraction array — a page
    with several declarations follows the one a browser would; later
    ones are ignored, deterministically). Urls are assumed unique (the
    crawl key), so this is a pure narrow map — no shuffle."""
    src = pages.schema[html_col].dataType.typeName()
    html = (
        F.decode(F.col(html_col), "UTF-8") if src == "binary" else F.col(html_col)
    )
    hits = F.regexp_extract_all(html, F.lit(NEXT_RE), 1)
    return pages.select(
        F.col(url_col).alias("url"),
        F.get(hits, F.lit(0)).alias("next"),
    ).filter(F.col("next").isNotNull())


def page_chains(
    next_links: DataFrame,
    src_col: str = "url",
    dst_col: str = "next",
    max_steps: int = 64,
) -> DataFrame:
    """Next-edges -> ``(url, head, pos)`` for every chain member
    (heads included at pos 0). ``max_steps``, a power of two >= 1
    (``ValueError``), caps how far behind its head a member may be."""
    # backward pointers: member -> predecessor (min on fan-in conflicts)
    ptr = pointer_double(
        next_links.groupBy(F.col(dst_col).alias("x")).agg(F.min(src_col).alias("y")),
        F.lit(1), lambda a, b: a + b, max_steps,
    )
    if signals.active():
        stuck = ptr.filter(~F.col("done")).count()
        signals.emit("page_chains", unterminated=stuck)
    members = ptr.filter(F.col("done")).select(
        F.col("x").alias("url"), F.col("y").alias("head"),
        F.col("acc").alias("pos"),
    )
    heads = members.select(F.col("head").alias("url")).distinct().select(
        "url", F.col("url").alias("head"), F.lit(0).alias("pos")
    )
    return members.unionByName(heads)


def stitch_chains(
    docs: DataFrame,
    chains: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Docs + chain labels -> ``(head, n_parts, text)``: chain member
    texts joined in position order."""
    joined = docs.select(
        F.col(url_col).alias("url"), F.col(text_col).alias("_t")
    ).join(chains, "url")
    return (
        joined.groupBy("head")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "_t"))),
                    lambda s: s["_t"],
                ),
                sep,
            ).alias("text"),
        )
    )
