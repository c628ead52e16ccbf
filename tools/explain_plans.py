"""Plan-hygiene audit: print formatted physical plans for headline queries
and assert the properties we design for (SURVEY.md §4):

* parquet scans prune columns (ReadSchema minimal) and push filters;
* dimension joins broadcast (BroadcastHashJoin for nation/rule-sized dims);
* no BatchEvalPython anywhere (row-at-a-time Python); ArrowEvalPython only
  in the two sanctioned pandas-UDF stages;
* map-side partial aggregation (the codegen-span check is unreliable on
  unexecuted AQE plan strings; built-in expressions guarantee codegen).

Usage: python tools/explain_plans.py [sf_dir] > PLANS.txt
Exit code 1 if any invariant fails.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as E
    from sigraph_spark.session import build_session

    spark = build_session(app_name="explain")
    spark.sparkContext.setLogLevel("ERROR")

    failures: list[str] = []

    def plan_of(df, execute: bool = True) -> str:
        if execute:
            df.count()  # AQE: WholeStageCodegen spans appear in the FINAL plan
        return df._jdf.queryExecution().executedPlan().toString()

    def check(name, df, *, want=(), forbid=("BatchEvalPython",)):
        p = plan_of(df)
        print(f"\n{'='*70}\n# {name}\n{'='*70}")
        print(p[:4000])
        for w in want:
            if w not in p:
                failures.append(f"{name}: missing {w!r}")
        for f_ in forbid:
            if f_ in p:
                failures.append(f"{name}: contains forbidden {f_!r}")

    # dimension join must broadcast; scans must prune
    check(
        "revenue_by_nation",
        E.q_revenue_by_nation(spark, sf_dir),
        # broadcast all three dimension joins + map-side partial aggregation
        want=("BroadcastHashJoin", "partial_sum"),
    )
    # lineitem scan must push the shipdate filter and prune columns
    df = E.q_tpch_q1(spark, sf_dir)
    p = plan_of(df)
    check("tpch_q1", df, want=("PushedFilters: [IsNotNull(l_shipdate)",))
    if "l_comment" in p:
        failures.append("tpch_q1: scanned unused column")
    # graph construction: codegen, no python
    # last-writer-wins dedup is an algebraic max-struct aggregation
    # (r6): partial_max must appear (map-side combine of hot edge
    # identities) and no ranking window may remain
    df = E.q_graph_edges(spark, sf_dir)
    p = plan_of(df)
    check("graph_edges", df, want=("partial_max",),
          forbid=("WindowGroupLimit", "row_number"))
    # extraction: ArrowEvalPython only (the sanctioned pandas UDF)
    check(
        "triples_extract",
        E.q_triples_extract(spark, sf_dir),
        want=("ArrowEvalPython",),
    )
    # ANN brute force: broadcast the query side, no shuffle of the corpus
    df = E.q_embedding_topk(spark, sf_dir)
    p = plan_of(df)
    check("embedding_topk", df, want=("Broadcast",))

    # as-of join: union-and-carry — exactly ONE real exchange (the key
    # shuffle feeding the window); no range join, no cross join
    df = E.q_events_asof(spark, sf_dir)
    p = plan_of(df)
    check("events_asof", df, want=("Window",), forbid=("BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin"))
    n_ex = sum(
        1 for line in p.splitlines()
        if "Exchange" in line and "Reused" not in line and "Broadcast" not in line
    )
    if n_ex > 1:
        failures.append(f"events_asof: {n_ex} shuffles (want 1 — the key exchange)")

    # sequence packing: two-stage prefix sum — band cumsum + broadcast of
    # the per-band bases; the only single-partition window is over bands
    check(
        "pack_sequences",
        E.q_pack_sequences(spark, sf_dir),
        want=("Window", "BroadcastHashJoin"),
    )

    # incremental dedup: delta signatures (one ArrowEvalPython) probe the
    # index via a plain equi-join on the band key — no cartesian, no
    # row-at-a-time python
    check(
        "minhash_incremental",
        E.q_minhash_incremental(spark, sf_dir),
        want=("ArrowEvalPython",),
        forbid=("BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin"),
    )

    # entity-linking blocking + scoring: signatures via ONE ArrowEvalPython
    # (the shared numpy MinHash kernel); band join + map-based cosine are
    # plain equi-joins/aggregates — no cartesian, no nested loop, no
    # row-at-a-time python anywhere in the S3 path
    from sigraph_spark.operators.linking import (
        candidate_pairs, entity_vocab, tfidf_cosine_scores,
    )
    from sigraph_spark.operators.triples import triples_from_docs
    from sigraph_spark.operators.extract import extract_pages
    from sigraph_spark.corpus import gen_pages

    _docs = extract_pages(gen_pages(spark, sf=0.001)).select(
        "url", "warc_ts", "text"
    )
    _vocab = entity_vocab(triples_from_docs(_docs)).localCheckpoint(eager=True)
    # the signature UDF is asserted on the band-index plan (it runs ONCE,
    # before the stage-boundary checkpoint); the pairs plan downstream of
    # the checkpoint must contain no Python eval or product join at all
    from sigraph_spark.operators.linking import entity_band_index
    check(
        "linking_band_index",
        entity_band_index(_vocab),
        want=("ArrowEvalPython",),
        forbid=("BatchEvalPython",),
    )
    _pairs = candidate_pairs(_vocab)
    check(
        "linking_blocking",
        _pairs,
        forbid=(
            "BatchEvalPython", "ArrowEvalPython",
            "CartesianProduct", "BroadcastNestedLoopJoin",
        ),
    )
    # (the scorer's only nested-loop is the sanctioned ONE-ROW broadcast
    # of the vocabulary count — so only python eval is forbidden here)
    check(
        "linking_cosine",
        tfidf_cosine_scores(_vocab, _pairs.localCheckpoint(eager=True)),
        forbid=("BatchEvalPython", "ArrowEvalPython"),
    )

    # KG fusion family: votes/windows/joins are all relational — zero
    # Python eval, no product joins anywhere; the lineage panel's doc
    # sample must keep its rank filter pushed down (WindowGroupLimit),
    # never a collect-then-slice
    from sigraph_spark.operators.fusion import edge_provenance, fuse_triples
    from sigraph_spark.operators.literals import predicate_ranges

    _triples = triples_from_docs(_docs).localCheckpoint(eager=True)
    _claims = _triples.selectExpr(
        "actor AS subject", "verb AS predicate", "object",
        "substr(url, 1, 30) AS source",
    )
    check(
        "fusion_vote",
        fuse_triples(_claims, "subject", "predicate", "object", "source"),
        forbid=(
            "BatchEvalPython", "ArrowEvalPython",
            "CartesianProduct", "BroadcastNestedLoopJoin",
        ),
    )
    check(
        "edge_provenance",
        edge_provenance(_triples, subj_col="actor", pred_col="verb",
                        obj_col="object"),
        want=("WindowGroupLimit",),
        forbid=("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"),
    )
    # range induction runs entirely in JVM higher-order functions
    check(
        "predicate_ranges",
        predicate_ranges(_triples),
        forbid=("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"),
    )

    # pagerank: pure integer Column arithmetic — zero Python eval of any
    # kind in the iterative loop
    check(
        "pagerank",
        E.q_pagerank(spark, sf_dir),
        forbid=("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"),
    )
    # the weighted variant runs the same power iteration
    check(
        "pagerank_weighted",
        E.q_pagerank_weighted(spark, sf_dir),
        forbid=("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"),
    )

    # domain stats: algebraic aggregate -> map-side partial_count/sum
    # absorbs the power-law host head before the exchange
    check(
        "domain_stats",
        E.q_domain_stats(spark, sf_dir),
        want=("partial_count",),
    )

    # range join: bucketized equi-join — the whole point is NOT planning
    # the BETWEEN predicate as a nested-loop
    check(
        "range_join",
        E.q_range_join(spark, sf_dir),
        forbid=("BatchEvalPython", "BroadcastNestedLoopJoin", "CartesianProduct"),
    )

    # decontamination: eval n-gram set must BROADCAST (corpus side never
    # shuffles for the join); the only exchange is the per-doc re-agg
    check(
        "decontaminate",
        E.q_decontaminate(spark, sf_dir),
        want=("BroadcastHashJoin",),
        forbid=("BatchEvalPython", "ArrowEvalPython", "SortMergeJoin"),
    )

    # curation funnel: one narrow map — no exchange at all, no python
    df = E.q_curation_funnel(spark, sf_dir)
    p = plan_of(df)
    check(
        "curation_funnel",
        df,
        forbid=("BatchEvalPython", "ArrowEvalPython", "Exchange"),
    )

    # BFS: per-round joins are plain equi-joins on node ids — never a
    # nested loop; no python anywhere in the loop
    check(
        "shortest_paths",
        E.q_shortest_paths(spark, sf_dir),
        forbid=("BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
                "BroadcastNestedLoopJoin"),
    )

    # BPE: the per-round pair count and the encode replace-chain are pure
    # JVM (literal replaces + higher-order functions) — python would put
    # an Arrow hop inside a num_merges-deep driver loop
    from pyspark.sql import functions as F

    from sigraph_spark.operators.bpe import bpe_encode, bpe_word_counts
    from sigraph_spark.operators.bpe import _pair_counts, word_delim

    _docs_df = E._docs(spark, sf_dir)
    _vocab = bpe_word_counts(_docs_df).select(
        word_delim(F.col("word")).alias("delim"), "freq"
    )
    check(
        "bpe_pair_counts",
        _pair_counts(_vocab),
        want=("partial_sum",),  # map-side combine before the pair shuffle
        forbid=("BatchEvalPython", "ArrowEvalPython"),
    )
    check(
        "bpe_encode_chain",
        bpe_encode(_docs_df, [("e", "r"), ("e", "\x1e"), ("o", "w")]),
        forbid=("BatchEvalPython", "ArrowEvalPython", "Exchange"),
    )

    # classifier inference: the O(dim) weight table must BROADCAST onto
    # the sparse feature table (scoring 10^12 docs = one shuffle-by-id
    # job), and the whole path stays JVM-side.
    from sigraph_spark.operators.classifier import (
        classifier_score,
        hashed_features,
    )

    _feats = hashed_features(_docs_df, dim=256)
    _w = spark.createDataFrame([(-1, 1), (3, 2)], "bucket long, w long")
    check(
        "classifier_score",
        classifier_score(_feats, _docs_df.select("doc_id"), _w),
        want=("BroadcastHashJoin",),
        forbid=("BatchEvalPython", "ArrowEvalPython"),
    )

    # HLL sketch: one algebraic max agg — registers must partial-aggregate
    # map-side (the property that bounds the shuffle by sketch size, not
    # corpus size) and the whole path stays JVM-side.
    from sigraph_spark.operators.sketches import hll_distinct, hll_registers

    check(
        "hll_registers",
        hll_registers(_docs_df, ["lang"], "text", p=8),
        want=("partial_max",),
        forbid=("BatchEvalPython", "ArrowEvalPython"),
    )
    check(
        "hll_estimate",
        hll_distinct(_docs_df, ["lang"], "text", p=8),
        forbid=("BatchEvalPython", "ArrowEvalPython"),
    )

    # distant supervision: anchor-blocked containment join — hash joins
    # only, never a sentence x fact product, zero Python.
    from sigraph_spark.operators.distant import distant_supervision

    _facts_df = spark.createDataFrame(
        [("hash value", "phrase_with", "table"), ("query", "cooccurs", "window")],
        "subj string, predicate string, obj string",
    )
    check(
        "distant_supervision",
        distant_supervision(_docs_df, _facts_df),
        forbid=(
            "BatchEvalPython", "ArrowEvalPython",
            "CartesianProduct", "BroadcastNestedLoopJoin",
        ),
    )

    # TransE: training and scoring are equi-joins on entity/relation ids
    # plus algebraic aggs — zero Python, no product joins anywhere.
    from sigraph_spark.operators.transe import transe_score, transe_train

    _tiny_facts = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c"), ("c", "q", "a")],
        "subj string, predicate string, obj string",
    )
    _emb = transe_train(_tiny_facts, dim=2, rounds=1)
    check(
        "transe_train",
        _emb,
        forbid=("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"),
    )
    check(
        "transe_score",
        transe_score(_emb, _tiny_facts),
        forbid=(
            "BatchEvalPython", "ArrowEvalPython",
            "CartesianProduct", "BroadcastNestedLoopJoin",
        ),
    )

    # property paths: sequence composition = hash join on the middle
    # node; communities: per-round neighbor join + algebraic vote count.
    from sigraph_spark.operators.bgp import eval_path
    from sigraph_spark.operators.graphalgo import communities_lpa

    _pedges = spark.createDataFrame(
        [("a", "L", "b"), ("b", "C", "c")],
        "src string, predicate string, dst string",
    )
    check(
        "path_sequence",
        eval_path(_pedges, "L/C"),
        forbid=(
            "BatchEvalPython", "ArrowEvalPython",
            "CartesianProduct", "BroadcastNestedLoopJoin",
        ),
    )
    check(
        "communities_round",
        communities_lpa(_pedges.select("src", "dst"), rounds=1),
        forbid=("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"),
    )
    # seeded LPA shares the two-way edge set and the majority vote
    check(
        "label_propagation",
        E.q_label_propagation(spark, sf_dir),
        forbid=("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"),
    )

    # CMS + HyperBall: algebraic sketch aggs; the CMS probe join must
    # BROADCAST (the sketch is O(d*w) rows, always the small side).
    from sigraph_spark.operators.sketches import cms_estimate, cms_sketch

    _cms = cms_sketch(_docs_df, "source", w=256, d=3)
    check(
        "cms_estimate",
        cms_estimate(_cms, _docs_df.select("source"), "source", w=256, d=3),
        want=("BroadcastHashJoin",),
        forbid=("BatchEvalPython", "ArrowEvalPython"),
    )
    from sigraph_spark.operators.graphalgo import hyperball

    # (the register max-merge sits behind the per-round checkpoint; its
    # map-side combine is the hll_registers partial_max check above —
    # here the visible estimator agg must still partial-aggregate)
    check(
        "hyperball_round",
        hyperball(_pedges.select("src", "dst"), p=6, radii=1),
        want=("partial_sum",),
        forbid=("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"),
    )

    # --- session-3 webtext operators: all pure Column pipelines --------------
    # web-table extraction: nested regex explodes + ONE page-local-key
    # shuffle; no Python eval, no Cartesian join anywhere
    check(
        "table_triples",
        E.q_table_triples(spark, sf_dir),
        forbid=("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"),
    )
    # hearst extraction: the (hypo, hyper) pair count combines map-side
    # and stays pure Column (no Python eval, no Cartesian join)
    from sigraph_spark.operators.hearst import hearst_pairs

    check(
        "hearst_pairs",
        hearst_pairs(E._hearst_corpus(spark))
        .groupBy("hypo", "hyper").count(),
        want=("partial_count",),
        forbid=("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"),
    )
    # hearst taxonomy: the pair aggregate materializes ONCE (r6 — it
    # feeds both legs of the reciprocal join, so the visible plan is a
    # broadcast self-join over the checkpointed vocabulary-sized table;
    # the algebraic map-side combine lives inside that boundary, which
    # is why it is asserted by the hearst_pairs check above)
    check(
        "taxonomy_induction",
        E.q_taxonomy_induction(spark, sf_dir),
        want=("BroadcastHashJoin", "Scan ExistingRDD"),
        forbid=(
            "BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
            "SortMergeJoin",
        ),
    )
    # text reuse: df-cut anti-join + gram equi-join; islands window is
    # partitioned (never a global sort of the match table)
    check(
        "text_reuse",
        E.q_text_reuse(spark, sf_dir),
        want=("partial_count",),
        forbid=("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"),
    )
    # structured-data + list-page channels: each extraction is ONE narrow
    # map on the page row — zero Exchange, zero Python eval of any kind
    for _nm, _q in (
        ("jsonld_triples", E.q_jsonld_triples),
        ("meta_triples", E.q_meta_triples),
        ("microdata_triples", E.q_microdata_triples),
        ("rdfa_triples", E.q_rdfa_triples),
        ("list_items", E.q_list_items),
        ("dl_facts", E.q_dl_facts),
        ("quotes_extract", E.q_quotes_extract),
        ("abbrev_pairs", E.q_abbrev_pairs),
        ("template_id", E.q_template_id),
        ("quantities", E.q_quantities),
    ):
        check(
            _nm, _q(spark, sf_dir),
            forbid=("BatchEvalPython", "ArrowEvalPython", "Exchange"),
        )
    # list memberships: the ONLY shuffles are the page-local size window
    # and the algebraic vote agg (map-side combined)
    check(
        "list_memberships",
        E.q_list_memberships(spark, sf_dir),
        want=("partial_count",),
        forbid=("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"),
    )

    # sink renders are NARROW maps: no exchange at all in the projection
    from sigraph_spark.operators.opensearch_bulk import bulk_index_lines
    from sigraph_spark.sources.events_map import sigraph_events

    _sev = sigraph_events(
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    )
    p_sink = plan_of(bulk_index_lines(_sev))
    print(f"\n{'='*70}\n# opensearch_bulk render\n{'='*70}")
    print(p_sink[:2000])
    if "Exchange" in p_sink:
        failures.append("opensearch_bulk: render plan contains a shuffle")
    for bad in ("BatchEvalPython", "ArrowEvalPython"):
        if bad in p_sink:
            failures.append(f"opensearch_bulk: contains forbidden {bad!r}")

    # codegen-size regression guard: the provenance parse once silently
    # exceeded the JVM's 64 KB generated-method limit (1.7 MB of code from
    # alias re-inlining), falling back to interpreted eval at a 6x cost.
    # Keep the fused parse stage comfortably below the cliff.
    import io as _io
    import contextlib as _ctx

    from sigraph_spark.operators.graph import parse_events
    from sigraph_spark.sources.events_map import sigraph_events

    good, _ = parse_events(
        sigraph_events(spark.read.parquet(os.path.join(sf_dir, "events.parquet")))
    )
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        good.explain("codegen")
    gen_chars = len(buf.getvalue())
    print(f"\nparse_events generated-code size: {gen_chars/1000:.0f} KB")
    if gen_chars > 300_000:
        failures.append(
            f"parse_events: generated code {gen_chars/1000:.0f} KB — "
            "re-inlining regression (64 KB method-limit fallback risk)"
        )

    print("\n" + "=" * 70)
    if failures:
        print("PLAN INVARIANT FAILURES:")
        for f_ in failures:
            print(" -", f_)
        return 1
    print("all plan invariants hold")
    return 0


if __name__ == "__main__":
    sys.exit(main())
