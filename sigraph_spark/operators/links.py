"""Hyperlink extraction and host-level link-graph construction.

The web-graph side of a Common-Crawl-scale corpus: every KG/ranking/
spam-filtering pipeline wants the (source_host, target_host) link graph
next to the text. Extraction is a JVM-side ``regexp_extract_all`` over
the decoded html — no UDF, fully codegen'd, and the same regex runs in
ANSI SQL for the oracle — followed by one uniform-key aggregation.

Scale notes:
* extraction is a narrow map; the only shuffle is the host-pair groupBy,
  whose algebraic count partially aggregates map-side, absorbing the
  power-law host head (same argument as corpus.domain_stats);
* the href regex is deliberately attribute-anchored (``href="..."`` /
  ``href='...'``) — not an HTML parser; malformed markup yields fewer
  links, never a crash. A production refinement plugs an html5 parser
  into the same contract behind mapInPandas.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sigraph_spark import signals
from sigraph_spark.functions.fixpoint import pointer_double

HREF_RE = r"""href=["']([^"']+)["']"""


def page_host(url: Column) -> Column:
    """Host part of an absolute url (scheme-agnostic, port kept)."""
    return F.substring_index(F.substring_index(url, "://", -1), "/", 1)


def extract_links(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """One row per href occurrence: ``(url, target)``. ``html_col`` may be
    binary (decoded as UTF-8) or string."""
    src = pages.schema[html_col].dataType.typeName()
    html = (
        F.decode(F.col(html_col), "UTF-8") if src == "binary" else F.col(html_col)
    )
    return pages.select(
        F.col(url_col).alias("url"),
        F.explode(F.regexp_extract_all(html, F.lit(HREF_RE), 1)).alias("target"),
    )


def absolutize_url(base: Column, ref: Column) -> Column:
    """Resolve a reference against its page url (RFC 3986 §5 relative
    resolution) as one JVM expression chain — the step between
    ``extract_links``' raw hrefs and any cross-page join (link graph,
    caption-to-media pairing, frontier scheduling): relative hrefs
    dominate real markup and a link graph built on raw targets loses
    every intra-site edge.

    Rules (each restatable in SQL; simplifications documented):

    * absolute refs (``scheme:``) pass through;
    * ``//host/...`` takes the base scheme;
    * ``/path`` takes the base ORIGIN (scheme://authority);
    * ``?query`` replaces the base query (path kept);
    * ``#frag`` replaces the base fragment;
    * relative paths resolve against the base path's directory with
      dot-segment removal via an array FOLD (a real stack: ``..`` pops,
      ``.`` and empty segments drop — the one simplification vs the
      RFC, which keeps duplicate slashes; crawl canonicalization wants
      them collapsed anyway), leading ``..`` beyond the root clamps.
    """
    scheme = F.lower(F.substring_index(base, "://", 1))
    after = F.substring_index(base, "://", -1)
    authority = F.substring_index(after, "/", 1)
    origin = F.concat(scheme, F.lit("://"), authority)
    # base path (no query/fragment), always at least "/"
    bpath0 = F.substring_index(
        F.substring_index(
            F.substring(after, F.length(authority) + 1, F.lit(1 << 20)),
            "?", 1),
        "#", 1)
    bpath = F.when(bpath0 == "", F.lit("/")).otherwise(bpath0)
    # directory of the base path: everything up to the last '/'
    bdir = F.regexp_replace(bpath, "[^/]*$", "")

    merged = F.concat(bdir, ref)
    segs = F.split(F.substring_index(F.substring_index(merged, "?", 1),
                                     "#", 1), "/")
    tail = F.when(
        merged.contains("?") | merged.contains("#"),
        F.concat(
            F.when(merged.contains("?"),
                   F.concat(F.lit("?"),
                            F.substring_index(
                                F.substring_index(merged, "?", -1), "#", 1))
                   ).otherwise(F.lit("")),
            F.when(merged.contains("#"),
                   F.concat(F.lit("#"), F.substring_index(merged, "#", -1))
                   ).otherwise(F.lit("")),
        ),
    ).otherwise(F.lit(""))
    stack = F.aggregate(
        segs,
        F.array().cast("array<string>"),
        lambda acc, s: (
            F.when(s == "..",
                   F.slice(acc, 1, F.greatest(F.size(acc) - 1, F.lit(0))))
            .when((s == ".") | (s == ""), acc)
            .otherwise(F.concat(acc, F.array(s)))
        ),
    )
    resolved_rel = F.concat(origin, F.lit("/"),
                            F.array_join(stack, "/"), tail)

    return (
        F.when(ref.rlike("^[A-Za-z][A-Za-z0-9+.-]*:"), ref)
        .when(ref.startswith("//"), F.concat(scheme, F.lit(":"), ref))
        .when(ref.startswith("/"), F.concat(origin, ref))
        .when(ref.startswith("?"),
              F.concat(origin, bpath, ref))
        .when(ref.startswith("#"),
              F.concat(F.substring_index(base, "#", 1), ref))
        .otherwise(resolved_rel)
    )


def host_link_graph(links: DataFrame) -> DataFrame:
    """Aggregate page-level links into the host graph:
    ``(src_host, dst_host, n_links)``. Relative targets (no ``://``) have
    no host and are dropped — they never leave the site anyway."""
    return (
        links.filter(F.col("target").contains("://"))
        .select(
            page_host(F.col("url")).alias("src_host"),
            page_host(F.col("target")).alias("dst_host"),
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).cast("long").alias("n_links"))
    )


# tracking parameters stripped by canonicalization (the usual suspects);
# the list is part of the contract — ordering effects are eliminated by
# sorting the surviving query params
TRACKING_PARAMS: tuple[str, ...] = (
    "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
    "gclid", "fbclid", "ref", "mc_cid", "mc_eid",
)


def canonical_url(url: Column) -> Column:
    """Crawl-grade URL canonicalization as one JVM expression chain:

    * scheme + host lowercased; default ports (:80/:443) dropped;
    * fragment (#...) dropped;
    * tracking query parameters (TRACKING_PARAMS) removed; surviving
      params SORTED so param order cannot split identical resources;
      '?' dropped when nothing survives;
    * trailing '/' trimmed from non-root paths.

    Dedup/link-graph keys should be canonical urls — otherwise the same
    page fans into dozens of aliases and every per-url aggregate
    undercounts. Pure string functions (split/filter/array_sort/
    concat_ws + regex), zero UDF, and every rule is restatable in ANSI
    SQL for the oracle.
    """
    u = F.trim(url)
    # drop fragment
    u = F.substring_index(u, "#", 1)
    # split off the query at the FIRST '?': the remainder is the whole
    # query even when a param VALUE contains another '?' (url-valued
    # params) — substring_index(u,'?',-1) would keep only the tail after
    # the last '?' and silently drop leading params.
    base = F.substring_index(u, "?", 1)
    query = F.when(
        u.contains("?"),
        F.substring(u, F.length(base) + 2, F.lit(1 << 20)),
    )
    # lowercase scheme+host (everything before the path), keep path case
    scheme = F.lower(F.substring_index(base, "://", 1))
    rest = F.substring_index(base, "://", -1)
    hostport = F.lower(F.substring_index(rest, "/", 1))
    host = F.regexp_replace(hostport, r":(80|443)$", "")
    path = F.when(
        rest.contains("/"),
        F.substring(rest, F.length(hostport) + 1, F.lit(1 << 20)),
    ).otherwise(F.lit(""))
    path = F.when(
        (F.length(path) > 1), F.regexp_replace(path, r"/$", "")
    ).otherwise(path)
    # filter + sort query params
    keep = F.array_sort(
        F.filter(
            F.split(F.coalesce(query, F.lit("")), "&"),
            lambda kv: (kv != "")
            & ~F.lower(F.substring_index(kv, "=", 1)).isin(*TRACKING_PARAMS),
        )
    )
    qs = F.when(F.size(keep) > 0, F.concat(F.lit("?"), F.array_join(keep, "&"))).otherwise(
        F.lit("")
    )
    return F.concat(scheme, F.lit("://"), host, path, qs)


def blocklist_filter(
    docs: DataFrame,
    blocked_hosts: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Drop documents whose (canonicalized, port-stripped) host — or any
    registrable parent domain — appears in the blocklist: the policy
    layer every crawl pipeline runs (spam/adult/malware/opt-out lists).

    Suffix matching is done by EXPLODING each url's domain-suffix chain
    (w.x.y.z -> [w.x.y.z, x.y.z, y.z]) and anti-joining the (broadcast)
    blocklist — never a LIKE-join, which would plan as a nested loop.
    Suffix chains are bounded by label count (~4), so the explode is a
    small constant factor on a narrow projection; the corpus text never
    moves.
    """
    host = F.regexp_replace(
        page_host(F.lower(F.col(url_col))), r":\d+$", ""
    )
    labels = F.split(host, r"\.")
    n = F.size(labels)
    suffixes = F.transform(
        # suffix chains down to 2 labels: [0..n-2] shifts
        F.sequence(F.lit(0), F.greatest(n - 2, F.lit(0))),
        lambda i: F.array_join(F.slice(labels, i + 1, n), "."),
    )
    hit = (
        docs.select(F.col(url_col), F.explode(suffixes).alias("_suffix"))
        .join(
            F.broadcast(
                blocked_hosts.select(
                    F.lower(F.col(blocked_hosts.columns[0])).alias("_suffix")
                ).distinct()
            ),
            "_suffix",
        )
        .select(F.col(url_col))
        .distinct()
    )
    return docs.join(hit, url_col, "left_anti")


# --- anchor-text entity priors -------------------------------------------

# one <a> element: href + its text content (first text run, tag-free)
ANCHOR_RE = r"""<a[^>]*href=["']([^"']+)["'][^>]*>([^<]*)</a>"""


def extract_anchors(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """One row per anchor element: ``(url, target, anchor)``.

    Two JVM ``regexp_extract_all`` passes over the same pattern (href
    group, text group) zipped positionally — regex engines return groups
    of the same match in order, so the zip is exact. Narrow map, no UDF.
    """
    src = pages.schema[html_col].dataType.typeName()
    html = (
        F.decode(F.col(html_col), "UTF-8") if src == "binary" else F.col(html_col)
    )
    from sigraph_spark.functions.hof import zip_match_groups

    # one group-0 scan + per-match group pulls (was one full-html pass
    # per capture group)
    pair = F.explode(zip_match_groups(html, ANCHOR_RE, ["target", "anchor"]))
    return pages.select(F.col(url_col).alias("url"), pair.alias("_a")).select(
        "url", F.col("_a.target").alias("target"), F.col("_a.anchor").alias("anchor")
    )


def anchor_priors(anchors: DataFrame, min_count: int = 1) -> DataFrame:
    """Wikipedia-style commonness dictionary from anchor statistics:
    for each normalized surface form, the distribution over link targets —
    ``(anchor, target, n, total, p, rank)``, rank 1 = most-linked target.

    This is the classic entity-linking prior P(entity | mention) (Milne &
    Witten, "Learning to link with Wikipedia", CIKM'08) built from the
    corpus's own hyperlinks — the statistical companion to the
    MinHash/TF-IDF string-similarity linking in operators/linking.py.

    Scale: the (anchor, target) count is algebraic (map-side partial agg
    absorbs hot anchors like 'here'); the per-anchor total and rank are
    windows over the already-reduced dictionary — rows per anchor =
    distinct targets, not raw link volume, so the window partition is
    bounded. Deterministic tie-break: count desc, target asc.
    """
    norm = F.regexp_replace(F.trim(F.lower(F.col("anchor"))), r"\s+", " ")
    counted = (
        anchors.filter(F.col("target").contains("://"))
        .select(norm.alias("anchor"), canonical_url(F.col("target")).alias("target"))
        .filter(F.col("anchor") != "")
        .groupBy("anchor", "target")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .filter(F.col("n") >= min_count)
    )
    w = Window.partitionBy("anchor")
    wr = w.orderBy(F.col("n").desc(), F.col("target").asc())
    return counted.select(
        "anchor", "target", "n",
        F.sum("n").over(w).cast("long").alias("total"),
        F.round(F.col("n") / F.sum("n").over(w), 6).alias("p"),
        F.row_number().over(wr).alias("rank"),
    )


def link_mentions(
    mentions: DataFrame, priors: DataFrame, mention_col: str = "mention"
) -> DataFrame:
    """Resolve mention strings to their most-likely entity via the anchor
    dictionary (rank-1 prior), keeping the confidence. The dictionary is
    the small side at any corpus scale (bounded by surface-form vocabulary,
    not document count) — broadcast, so the mention table never shuffles.
    Unresolvable mentions keep NULL target (left join): an explicit
    abstain, not a silent drop."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(mention_col))), r"\s+", " ")
    top = priors.filter(F.col("rank") == 1).select(
        F.col("anchor"), F.col("target").alias("entity"), F.col("p").alias("confidence")
    )
    return mentions.withColumn("_k", norm).join(
        F.broadcast(top), F.col("_k") == F.col("anchor"), "left"
    ).drop("_k", "anchor")


# --- redirect / rel=canonical alias-chain resolution ----------------------

# <link ... rel="canonical" ... href="..."> (either attribute order)
CANONICAL_RE = (
    r"""<link\s+(?:[^>]*\s)?rel=["']canonical["']\s[^>]*href=["']([^"']+)["']"""
    r"""|<link\s+(?:[^>]*\s)?href=["']([^"']+)["']\s[^>]*rel=["']canonical["']"""
)


def extract_canonical_aliases(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """``(src, dst)`` alias edges from ``<link rel="canonical">`` tags —
    the page's own declaration that it is a duplicate of ``dst``. Narrow
    regex map (both attribute orders), self-aliases dropped. Together with
    the crawler's 301 map this is the input to ``resolve_redirects``."""
    src = pages.schema[html_col].dataType.typeName()
    html = (
        F.decode(F.col(html_col), "UTF-8") if src == "binary" else F.col(html_col)
    )
    from sigraph_spark.functions.hof import zip_match_groups

    # one group-0 scan + per-match group pulls (was one full-html pass
    # per capture group)
    hit = F.explode(zip_match_groups(html, CANONICAL_RE, ["a", "b"]))
    return (
        pages.select(F.col(url_col).alias("src"), hit.alias("_h"))
        .select(
            "src",
            F.when(F.col("_h.a") != "", F.col("_h.a")).otherwise(F.col("_h.b")).alias("dst"),
        )
        .filter(F.col("dst") != F.col("src"))
    )


def resolve_redirects(
    aliases: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_steps: int = 16,
) -> DataFrame:
    """Resolve redirect / rel=canonical alias chains to their terminal url:
    ``(url, resolved)``, one row per url with an outgoing alias.

    Web crawls accumulate alias chains (http->https->www->final) and the
    KG must key every per-url aggregate on ONE representative or the same
    page fans into aliases (same failure mode ``canonical_url`` fixes for
    syntactic variants; this handles the *declared* ones). Semantics:

    * conflicting declarations (one src, several dsts) collapse to the
      lexicographic min dst FIRST — deterministic on any partitioning;
    * ``resolved(u)`` = the walk's terminal (a url with no outgoing alias)
      if reached within ``max_steps`` pointer steps;
    * non-terminating walks (cycles, or chains longer than ``max_steps``)
      resolve to the MIN url among the walk's first ``max_steps``
      successors — deterministic, and for every url ON a cycle this is
      the cycle's min member, so cycle members agree on one canonical.

    ``max_steps`` must be a power of two >= 1 (``ValueError``). Runs
    ``functions/fixpoint.py``'s :func:`pointer_double` with ``least``:
    at most log2(max_steps) self-joins of the O(|aliases|) pointer table.
    The signal's ``unterminated`` counts walks that hit the cap (cycle
    members land here by design).
    """
    ptr = pointer_double(
        aliases.groupBy(F.col(src_col).alias("x")).agg(F.min(dst_col).alias("y")),
        F.col("y"), F.least, max_steps,
    )
    if signals.active():
        stuck = ptr.filter(~F.col("done")).count()
        signals.emit("resolve_redirects", unterminated=stuck)
    return ptr.select(
        F.col("x").alias("url"),
        F.when(F.col("done"), F.col("y")).otherwise(F.col("acc")).alias("resolved"),
    )
