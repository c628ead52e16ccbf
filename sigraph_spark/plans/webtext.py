"""Webtext multi-extractor KG plan: one pages table in, one fused KG out.

Composes the webtext extractor family over the SAME pages input —
sentence-level triples (``operators/triples.py``), web-table facts
(``operators/htmltables.py``), Hearst is_a pairs (``operators/hearst.py``),
and the four structured-data channels (JSON-LD + OpenGraph meta,
``operators/jsonld.py``; microdata, ``operators/microdata.py``; RDFa
Lite, ``operators/rdfa.py``) — into an
extractor-tagged claims table and resolves cross-extractor conflicts with
two-round source-weighted fusion (``operators/fusion.py``).
This is the "many noisy views -> one KG" assembly step every webtext KG
builder runs (NELL / Knowledge Vault shape: extractors vote, fusion
arbitrates), expressed as checkpointed ``run_stage`` stages with chained
fingerprints so a new crawl or a changed extractor recomputes exactly the
affected suffix.

Stage graph (``html`` is read exactly ONCE, in w0 — the fused
extraction pass ``operators/fusedscan.py``; every other stage reads
w0's much smaller text/claims output)::

    pages ── w0_scan (ONE scan: text + all html claims channels)
               ├── w1_docs (url, warc_ts, text)
               │      ├── w2_sent   (sentence triples -> claims 'sentence')
               │      ├── w4_hearst (is_a pairs       -> claims 'hearst')
               │      └── w8_quotes (attributed statements -> claims 'quote')
               └── w9_html_claims (explode: claims 'table' / 'jsonld' /
                                   'microdata' / 'rdfa' / 'meta' /
                                   'list' / 'dl')
    w2+w4+w8+w9 ── w5_claims (union, distinct) ── w6_fused

The fusion algebra itself is hash-proven by the ``multi_extractor_fusion``
gate; this module adds the materialized, resumable composition.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sigraph_spark.plans import ledger
from sigraph_spark.plans.pipeline import (
    run_stage, stage_fingerprint, table_fingerprint,
)


def _structured_claims(pages: DataFrame) -> DataFrame:
    """Claims view of the four structured-data channels plus list-page
    memberships and definition-list infoboxes over raw html: (subject,
    predicate, object, source) with source in {jsonld, microdata, rdfa,
    meta, list, dl}. rdf:type rows ride along — a fused KG wants typed
    entities, and fusion arbitrates them like any other predicate. Meta
    tags are page-level facts, so their subject is the url itself.

    Union-of-operators REFERENCE form: each channel is its own scan of
    ``html``, so the plan itself uses the one-scan
    ``fusedscan.fused_page_scan`` instead; this view remains as the
    parity oracle (tests/test_fusedscan.py pins multiset equality)."""
    from sigraph_spark.operators.dlfacts import dl_claims
    from sigraph_spark.operators.htmllists import list_claims
    from sigraph_spark.operators.jsonld import jsonld_triples, meta_triples
    from sigraph_spark.operators.microdata import microdata_triples
    from sigraph_spark.operators.rdfa import rdfa_triples

    def shape(df, s, source):
        return df.select(
            F.col(s).alias("subject"),
            F.col("predicate"),
            F.col("obj").alias("object"),
            F.lit(source).alias("source"),
        )

    return (
        shape(jsonld_triples(pages), "subj", "jsonld")
        .unionByName(shape(microdata_triples(pages), "subj", "microdata"))
        .unionByName(shape(rdfa_triples(pages), "subj", "rdfa"))
        .unionByName(shape(meta_triples(pages), "url", "meta"))
        .unionByName(
            list_claims(pages).select(
                "subject", "predicate", "object",
                F.lit("list").alias("source"),
            )
        )
        .unionByName(
            dl_claims(pages).select(
                "subject", "predicate", "object",
                F.lit("dl").alias("source"),
            )
        )
    )


_STRUCT_SOURCES = ("jsonld", "microdata", "rdfa", "meta", "list", "dl")


def run_webtext_kg(
    spark: SparkSession,
    pages: DataFrame,
    workdir: str,
    input_fingerprint: str | None = None,
) -> dict[str, DataFrame]:
    """pages(url, warc_ts, html, ...) -> {docs, sent_claims, table_claims,
    hearst_claims, claims, fused}. Every stage resumes from its manifest.

    ``html`` — the heaviest column of the corpus — is read EXACTLY ONCE:
    stage w0 runs the fused extraction pass (text + every html-derived
    claims channel in one projection, ``fusedscan.fused_page_scan``) and
    every later stage reads only w0's much smaller text/claims output.
    The previous composition unioned ~8 independent views of ``pages``,
    each its own scan of ``html`` — at crawl scale that IO multiplier
    dominated the whole plan.
    """
    from sigraph_spark.operators.fusedscan import fused_page_scan
    from sigraph_spark.operators.fusion import fuse_triples
    from sigraph_spark.operators.hearst import hearst_pairs
    from sigraph_spark.operators.triples import triples_from_docs

    fp = input_fingerprint or table_fingerprint(
        pages.select("url", "warc_ts", F.length("html").alias("n"))
    )
    scan = run_stage(
        spark, "w0_scan", os.path.join(workdir, "w0_scan"),
        lambda: fused_page_scan(pages),
        fp + ":w0v1",
    )
    fp_scan = stage_fingerprint(workdir, "w0_scan")
    docs = run_stage(
        spark, "w1_docs", os.path.join(workdir, "w1_docs"),
        lambda: scan.select("url", "warc_ts", "text"),
        fp_scan + ":w1v2",
    )
    fp_docs = stage_fingerprint(workdir, "w1_docs")
    # all html-derived claims channels come out of the ONE w0 scan
    html_claims = run_stage(
        spark, "w9_html_claims", os.path.join(workdir, "w9_html_claims"),
        lambda: scan.select(F.explode("claims").alias("c")).select(
            F.col("c.subject").alias("subject"),
            F.col("c.predicate").alias("predicate"),
            F.col("c.object").alias("object"),
            F.col("c.source").alias("source"),
        ),
        fp_scan + ":w9v1",
    )

    def claims_shape(df, subj, pred, obj, source: str) -> DataFrame:
        return df.select(
            F.col(subj).alias("subject"),
            F.col(pred).alias("predicate"),
            F.col(obj).alias("object"),
            F.lit(source).alias("source"),
        )

    sent = run_stage(
        spark, "w2_sent", os.path.join(workdir, "w2_sent"),
        lambda: claims_shape(
            triples_from_docs(docs), "actor", "verb", "object", "sentence"
        ),
        fp_docs + ":w2v1",
    )
    hearst = run_stage(
        spark, "w4_hearst", os.path.join(workdir, "w4_hearst"),
        lambda: claims_shape(
            hearst_pairs(docs).withColumn("p", F.lit("is_a")),
            "hypo", "p", "hyper", "hearst",
        ),
        fp_docs + ":w4v1",
    )
    quotes = run_stage(
        spark, "w8_quotes", os.path.join(workdir, "w8_quotes"),
        lambda: _quote_claims(docs),
        fp_docs + ":w8v1",
    )
    tables = html_claims.filter(F.col("source") == "table")
    struct = html_claims.filter(F.col("source").isin(*_STRUCT_SOURCES))
    fp_views = ":".join(
        stage_fingerprint(workdir, d) for d in (
            "w2_sent", "w4_hearst", "w8_quotes", "w9_html_claims",
        )
    )
    claims = run_stage(
        spark, "w5_claims", os.path.join(workdir, "w5_claims"),
        lambda: sent.unionByName(hearst).unionByName(quotes)
        .unionByName(html_claims).distinct(),
        fp_views + ":w5v4",
    )
    fp_claims = stage_fingerprint(workdir, "w5_claims")
    fused = run_stage(
        spark, "w6_fused", os.path.join(workdir, "w6_fused"),
        lambda: fuse_triples(
            claims, "subject", "predicate", "object", "source",
            passthrough=_multi_valued(),
        ),
        fp_claims + ":w6v2",
    )
    return {
        "docs": docs, "sent_claims": sent, "table_claims": tables,
        "hearst_claims": hearst, "struct_claims": struct,
        "quote_claims": quotes, "claims": claims, "fused": fused,
        "scan": scan,
    }


def _multi_valued():
    """Inherently MULTI-VALUED claims bypass fusion's one-object-per-
    (s,p) arbitration (operators/fusion.py fuse_triples passthrough
    contract): a speaker's N distinct quotes under 'said' and an item's
    several list classes are all true at once — arbitrating them would
    silently drop real facts and depress the quote/list sources'
    reliability scores with fake conflicts. (A function, not a module
    constant: Column construction needs an active SparkContext.)"""
    return (F.col("source") == "quote") | (F.col("predicate") == "member_of")


def _quote_claims(docs: DataFrame) -> DataFrame:
    """Attributed statements as claims: (speaker, attribution verb,
    quote) with source 'quote' — the provenance-bearing statement layer
    next to the fact channels."""
    from sigraph_spark.operators.quotes import extract_quotes

    return extract_quotes(docs).select(
        F.col("speaker").alias("subject"),
        F.col("verb").alias("predicate"),
        F.col("quote").alias("object"),
        F.lit("quote").alias("source"),
    )


# --- continuous-crawl append path -------------------------------------------

def _state(workdir: str) -> dict:
    return ledger.load(workdir, {"applied": [], "version": 0, "claim_parts": []})


def _live(st: dict) -> list[str]:
    """Every claim part, and only the current version's fused table."""
    return st["claim_parts"] + [os.path.join(f"v{st['version']}", "fused")]


def webtext_state_tables(spark: SparkSession, workdir: str):
    """(claims, fused) DataFrames of the current state, or (None, None)."""
    st = _state(workdir)
    if not st["claim_parts"]:
        return None, None
    claims = spark.read.parquet(
        *[os.path.join(workdir, r) for r in st["claim_parts"]]
    )
    fused = spark.read.parquet(
        os.path.join(workdir, f"v{st['version']}", "fused")
    )
    return claims, fused


def apply_webtext_delta(
    spark: SparkSession,
    delta_pages: DataFrame,
    workdir: str,
    delta_id: str,
) -> dict | None:
    """Fold one crawl delta into the persistent multi-extractor claim
    state. O(delta) where the data model allows it, O(claims) where it
    does not:

    * the claims table is a SET-UNION SEMILATTICE — each apply writes one
      append-only part holding only the delta's NOVEL claims (anti-join
      on the full claim key), so claim storage work is O(delta) and
      replays can never duplicate (the ``merge_claims`` contract,
      operators/fusion.py);
    * the FUSED table is a global vote over all claims — one new claim
      can flip any winner — so each apply re-derives it from the (small,
      fact-vocabulary-sized) claims table; the ``triple_fusion_merge``
      gate pins merged-state fuse == from-scratch fuse;
    * durability is the ``plans/ledger.py`` protocol: part + fused dirs
      land first, then ONE atomic ``_state.json`` commit (carrying the
      applied-delta ledger) makes them live together; superseded fused
      versions are GC'd.

    Returns the apply report, or None on a replayed ``delta_id``.
    """
    from sigraph_spark.operators.fusedscan import fused_page_scan
    from sigraph_spark.operators.fusion import fuse_triples
    from sigraph_spark.operators.hearst import hearst_pairs
    from sigraph_spark.operators.triples import triples_from_docs

    st = _state(workdir)
    # GC before the replay check: crash orphans from an interrupted apply
    # go even when every later call is a replay
    ledger.gc(workdir, _live(st))
    if delta_id in st["applied"]:
        return None

    # ONE scan of the delta's html (text + all html claims channels),
    # materialized so both downstream reads hit the checkpoint — deltas
    # are small by definition
    scan = fused_page_scan(delta_pages).localCheckpoint(eager=True)
    docs = scan.select("url", "warc_ts", "text")
    html_claims = scan.select(F.explode("claims").alias("c")).select(
        F.col("c.subject").alias("subject"),
        F.col("c.predicate").alias("predicate"),
        F.col("c.object").alias("object"),
        F.col("c.source").alias("source"),
    )

    def shape(df, s, p, o, source):
        return df.select(
            F.col(s).alias("subject"), F.col(p).alias("predicate"),
            F.col(o).alias("object"), F.lit(source).alias("source"),
        )

    delta_claims = (
        shape(triples_from_docs(docs), "actor", "verb", "object", "sentence")
        .unionByName(shape(
            hearst_pairs(docs).withColumn("p", F.lit("is_a")),
            "hypo", "p", "hyper", "hearst"))
        .unionByName(_quote_claims(docs))
        .unionByName(html_claims)
        .distinct()
    )
    stored, _ = webtext_state_tables(spark, workdir)
    novel = (
        delta_claims if stored is None
        else delta_claims.join(
            stored, ["subject", "predicate", "object", "source"], "left_anti"
        )
    ).localCheckpoint(eager=True)

    ver = st["version"] + 1
    vname = f"v{ver}"
    part_rel = os.path.join(vname, "claims")
    novel.write.mode("overwrite").parquet(os.path.join(workdir, part_rel))
    parts = st["claim_parts"] + [part_rel]
    all_claims = spark.read.parquet(
        *[os.path.join(workdir, r) for r in parts]
    )
    fused = fuse_triples(
        all_claims, "subject", "predicate", "object", "source",
        passthrough=_multi_valued(),
    )
    fused.write.mode("overwrite").parquet(os.path.join(workdir, vname, "fused"))

    new_st = {
        "applied": st["applied"] + [delta_id],
        "version": ver,
        "claim_parts": parts,
    }
    ledger.commit(workdir, new_st)
    ledger.gc(workdir, _live(new_st))
    return {
        "delta_id": delta_id,
        "new_claims": novel.count(),
        "total_claims": all_claims.count(),
        "fused": spark.read.parquet(
            os.path.join(workdir, vname, "fused")
        ).count(),
    }
