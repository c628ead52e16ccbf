"""Continuous-crawl append path: apply_crawl_delta folds page deltas into
persistent O(delta) state — globally consistent canonicalization,
cumulative edge weights, append-only linking parts, bucketed edge
rewrites, replay no-ops, atomic manifest commits."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from sigraph_spark.corpus import gen_pages
from sigraph_spark.plans.incremental import (
    apply_crawl_delta, crawl_state_tables,
)


def _files_of(path: str) -> dict[str, tuple[int, float]]:
    return {
        n: (os.path.getsize(os.path.join(path, n)),
            os.path.getmtime(os.path.join(path, n)))
        for n in sorted(os.listdir(path))
        if not n.startswith(("_", "."))
    }


def test_two_deltas_accumulate_and_replay_noops(spark, tmp_path):
    wd = str(tmp_path / "crawl")
    os.makedirs(wd)
    pages = gen_pages(spark, sf=0.001).localCheckpoint(eager=True)
    parity = F.pmod(F.xxhash64("url"), F.lit(2))
    d1 = pages.filter(parity == 0).localCheckpoint(eager=True)
    d2 = pages.filter(parity == 1).localCheckpoint(eager=True)

    r1 = apply_crawl_delta(spark, d1, wd, "seg-001")
    assert r1["version"] == 1 and r1["edges_total"] > 0
    edges_after_1 = {
        (r["subj"], r["predicate"], r["obj"]): r["weight"]
        for r in crawl_state_tables(spark, wd)["edges"].collect()
    }
    st1 = json.load(open(os.path.join(wd, "_state.json")))
    mapping_part_1 = st1["parts"]["mapping"][0]
    part1_files = _files_of(os.path.join(wd, mapping_part_1))

    # replay the SAME delta id: no-op, state untouched
    assert apply_crawl_delta(spark, d1, wd, "seg-001") is None
    st = json.load(open(os.path.join(wd, "_state.json")))
    assert st["version"] == 1 and st["applied"] == ["seg-001"]

    r2 = apply_crawl_delta(spark, d2, wd, "seg-002")
    assert r2["version"] == 2
    tables = crawl_state_tables(spark, wd)
    edges_after_2 = {
        (r["subj"], r["predicate"], r["obj"]): r["weight"]
        for r in tables["edges"].collect()
    }
    # cumulative: every delta-1 edge survives with weight >= before
    assert all(edges_after_2[k] >= w for k, w in edges_after_1.items())
    assert r2["entities_total"] >= r1["entities_total"]

    # O(delta) contract: delta-1's mapping part is APPEND-ONLY — the same
    # files, byte-for-byte untouched, after delta 2
    st2 = json.load(open(os.path.join(wd, "_state.json")))
    assert st2["parts"]["mapping"][0] == mapping_part_1
    assert _files_of(os.path.join(wd, mapping_part_1)) == part1_files
    assert len(st2["parts"]["mapping"]) == 2  # one appended part per delta

    # the full-corpus batch pipeline over d1+d2 yields the same edge KEY
    # set (weights too: each url contributes once in both paths)
    from sigraph_spark.operators.extract import extract_pages
    from sigraph_spark.operators.linking import (
        canonicalize_triples, link_entities,
    )
    from sigraph_spark.operators.triples import triples_from_docs

    docs = extract_pages(pages).select("url", "warc_ts", "text")
    tr = triples_from_docs(docs)
    canon = canonicalize_triples(tr, link_entities(tr))
    full = {
        (r["subj"], r["verb"], r["obj"]): r["n"]
        for r in canon.groupBy("subj", "verb", "obj")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(edges_after_2) == set(full)
    assert edges_after_2 == {k: full[k] for k in full}


def test_untouched_edge_buckets_not_rewritten(spark, tmp_path):
    """A tiny second delta rewrites ONLY the edge buckets it touches;
    every other bucket keeps its exact files (size+mtime)."""
    wd = str(tmp_path / "crawl_buckets")
    os.makedirs(wd)
    pages = gen_pages(spark, sf=0.001).localCheckpoint(eager=True)
    apply_crawl_delta(spark, pages, wd, "big")
    st1 = json.load(open(os.path.join(wd, "_state.json")))
    assert len(st1["edge_buckets"]) > 1
    before = {
        b: _files_of(os.path.join(wd, rel))
        for b, rel in st1["edge_buckets"].items()
    }

    r = apply_crawl_delta(spark, pages.limit(2), wd, "tiny")
    assert r["touched_buckets"] < len(st1["edge_buckets"])
    st2 = json.load(open(os.path.join(wd, "_state.json")))
    untouched = {
        b for b in st1["edge_buckets"]
        if st2["edge_buckets"][b] == st1["edge_buckets"][b]
    }
    touched = set(st1["edge_buckets"]) - untouched
    assert touched and untouched
    for b in untouched:
        assert _files_of(os.path.join(wd, st2["edge_buckets"][b])) == before[b]
    for b in touched:
        assert st2["edge_buckets"][b].startswith("v2/")
        # superseded bucket dir GC'd after the atomic swap
        assert not os.path.exists(os.path.join(wd, st1["edge_buckets"][b]))


def test_cross_delta_variant_adopts_frozen_canonical(spark, tmp_path):
    """An entity variant arriving in a LATER delta canonicalizes onto the
    stored cluster — the edges of both deltas meet under one subject."""
    wd = str(tmp_path / "crawl2")
    os.makedirs(wd)

    def pages_of(url, body):
        html = f"<html><body><p>{body}</p></body></html>"
        return spark.createDataFrame(
            [(url, None, bytearray(html.encode()), None, "en")],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        ).withColumn("warc_ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))

    apply_crawl_delta(
        spark,
        pages_of("https://a.example/1",
                 "InternationalBusinessLoader executed C:\\x\\a.exe."),
        wd, "d1",
    )
    apply_crawl_delta(
        spark,
        pages_of("https://a.example/2",
                 "InternationalBusinesssLoader executed C:\\x\\b.exe."),
        wd, "d2",
    )
    tables = crawl_state_tables(spark, wd)
    mapping = {r["entity"]: r["canonical_id"] for r in tables["mapping"].collect()}
    # the delta-2 variant adopted delta-1's frozen canonical
    assert mapping["internationalbusinesssloader"] == mapping["internationalbusinessloader"] == "internationalbusinessloader"
    subs = {r["subj"] for r in tables["edges"].collect()}
    # both deltas' edges share the single frozen canonical subject
    assert {s for s in subs if "internationalbusiness" in s} == {"internationalbusinessloader"}


def test_shingle_df_parts_compact(spark, tmp_path):
    """Past COMPACT_PARTS appended increments, parts fold into one and the
    summed totals are preserved."""
    import sigraph_spark.plans.ledger as inc  # owns COMPACT_PARTS

    wd = str(tmp_path / "crawl3")
    os.makedirs(wd)

    def pages_of(i):
        html = f"<html><body><p>Emotet dropped C:\\x\\f{i}.dll on the host.</p></body></html>"
        return spark.createDataFrame(
            [(f"https://h.example/{i}", None, bytearray(html.encode()), None, "en")],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        ).withColumn("warc_ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))

    old = inc.COMPACT_PARTS
    inc.COMPACT_PARTS = 3
    try:
        for i in range(5):
            apply_crawl_delta(spark, pages_of(i), wd, f"d{i}")
        st = json.load(open(os.path.join(wd, "_state.json")))
        # compaction triggered at least once: parts never exceed the cap+1
        assert len(st["parts"]["shingle_df"]) <= inc.COMPACT_PARTS + 1
        df = {
            r["sh"]: r["_df"]
            for r in crawl_state_tables(spark, wd)["shingle_df"].collect()
        }
        # df counts DISTINCT ENTITIES per shingle: 'emotet' is new only in
        # delta 0 (df=1), while every delta contributes one new
        # 'c:\x\f<i>.dll' object sharing the dll shingles (summed df=5)
        assert df["emo"] == 1.0
        assert df["dll"] == 5.0 and df[".dl"] == 5.0
    finally:
        inc.COMPACT_PARTS = old


def test_empty_delta_records_ledger_only(spark, tmp_path):
    """A delta with no triples commits only its ledger entry: no new
    version directory, no empty linking parts, and a replay no-ops."""
    wd = str(tmp_path / "crawl_empty")
    os.makedirs(wd)
    pages = gen_pages(spark, sf=0.001)

    r = apply_crawl_delta(spark, pages.limit(0), wd, "empty")
    assert r["version"] == 0 and r["triples"] == 0
    assert r["parts"] == {"mapping": 0, "band_index": 0, "shingle_df": 0}
    assert not os.path.exists(os.path.join(wd, "v1"))
    st = json.load(open(os.path.join(wd, "_state.json")))
    assert st["applied"] == ["empty"] and st["version"] == 0
    assert all(parts == [] for parts in st["parts"].values())
    assert st["edge_buckets"] == {}
    assert apply_crawl_delta(spark, pages.limit(0), wd, "empty") is None
