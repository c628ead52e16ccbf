"""Structured-Streaming ingest: foreachBatch shares the batch stage fns;
re-delivery is idempotent on the (subj, predicate, obj) key; the bucketed
sink rewrites only delta-touched buckets."""

from __future__ import annotations

import os

from sigraph_spark.corpus import gen_pages
from sigraph_spark.streaming.ingest import read_edges, stream_pages_to_edges


def test_stream_matches_batch(spark, tmp_path):
    pages = gen_pages(spark, sf=0.001)
    src = str(tmp_path / "pages")
    pages.write.parquet(src)
    wd = str(tmp_path / "wd")

    q = stream_pages_to_edges(spark, src, wd, trigger_once=True)
    q.awaitTermination(600)

    edges = read_edges(spark, os.path.join(wd, "edges"))
    n1 = edges.count()
    assert n1 > 0
    keys1 = {
        (r["subj"], r["predicate"], r["obj"]) for r in edges.collect()
    }
    assert len(keys1) == n1  # triple key unique

    # batch pipeline over the same pages yields the same canonical triples
    from sigraph_spark.operators.extract import extract_pages
    from sigraph_spark.operators.linking import (
        canonicalize_triples, link_entities,
    )
    from sigraph_spark.operators.triples import triples_from_docs

    docs = extract_pages(pages).select("url", "warc_ts", "text")
    triples = triples_from_docs(docs)
    mapping = link_entities(triples)
    canon = canonicalize_triples(triples, mapping)
    keys2 = {
        (r["subj"], r["verb"], r["obj"])
        for r in canon.select("subj", "verb", "obj").distinct().collect()
    }
    assert keys1 == keys2


def test_redelivered_batch_is_noop(spark, tmp_path):
    """Crash between manifest swap and checkpoint commit re-delivers the
    same batch_id: the applied-batch ledger must skip it so weight never
    double-counts (ADVICE r1)."""
    from sigraph_spark.streaming.ingest import apply_pages_batch, applied_batch_ids

    pages = gen_pages(spark, sf=0.001).limit(200).localCheckpoint()
    edges_dir = str(tmp_path / "edges")

    assert apply_pages_batch(pages, 0, edges_dir) is True
    t1 = sorted(map(tuple, read_edges(spark, edges_dir).collect()))
    # redelivery of the SAME batch id -> no-op, identical table
    assert apply_pages_batch(pages, 0, edges_dir) is False
    t2 = sorted(map(tuple, read_edges(spark, edges_dir).collect()))
    assert t1 == t2
    assert applied_batch_ids(edges_dir) == {0}
    # a genuinely NEW batch still folds in (weights sum across batches)
    assert apply_pages_batch(pages, 1, edges_dir) is True
    w1 = {(r["subj"], r["predicate"], r["obj"]): r["weight"]
          for r in read_edges(spark, edges_dir).collect()}
    old = {(r[0], r[1], r[2]): r[5] for r in t1}
    assert all(w1[k] == 2 * old[k] for k in old)
    assert applied_batch_ids(edges_dir) == {0, 1}


def _bucket_files(edges_dir: str) -> dict[str, dict[str, tuple[int, float]]]:
    """manifest bucket -> {filename: (size, mtime)} for every data file."""
    from sigraph_spark.plans.ledger import load

    out: dict[str, dict[str, tuple[int, float]]] = {}
    man = load(edges_dir)
    for b, rel in man["buckets"].items():
        d = os.path.join(edges_dir, rel)
        out[b] = {
            n: (os.path.getsize(os.path.join(d, n)),
                os.path.getmtime(os.path.join(d, n)))
            for n in sorted(os.listdir(d))
            if not n.startswith(("_", "."))
        }
    return out


def test_sink_rewrites_only_touched_buckets(spark, tmp_path):
    """O(delta) sink contract: buckets the delta does not touch keep their
    exact files (same path, size, mtime — never rewritten) across a batch;
    touched buckets move to a new version dir; superseded versions are
    garbage-collected after the atomic manifest swap."""
    from sigraph_spark.plans.ledger import load
    from sigraph_spark.streaming.ingest import apply_pages_batch

    pages = gen_pages(spark, sf=0.001).localCheckpoint()
    edges_dir = str(tmp_path / "edges")
    assert apply_pages_batch(pages, 0, edges_dir) is True
    before = _bucket_files(edges_dir)
    man0 = load(edges_dir)
    assert len(man0["buckets"]) > 1  # the fixture spreads across buckets

    w0 = {(r["subj"], r["predicate"], r["obj"]): r["weight"]
          for r in read_edges(spark, edges_dir).collect()}

    # a tiny second batch touches only a few buckets
    small = pages.limit(2).localCheckpoint()
    assert apply_pages_batch(small, 1, edges_dir) is True
    man1 = load(edges_dir)
    after = _bucket_files(edges_dir)

    touched = {b for b in man1["buckets"] if man1["buckets"][b] != man0["buckets"].get(b)}
    untouched = set(man0["buckets"]) - touched
    assert touched and untouched, "fixture must leave some buckets untouched"
    for b in untouched:
        assert man1["buckets"][b] == man0["buckets"][b]
        assert after[b] == before[b]  # byte-for-byte same files, same mtime
    for b in touched:
        assert man1["buckets"][b].startswith("v1/")
        # superseded v0 bucket dirs are gone (GC after commit)
        old_rel = man0["buckets"].get(b)
        if old_rel:
            assert not os.path.exists(os.path.join(edges_dir, old_rel))

    # merged content: the small batch's triples gained weight, every other
    # key (including all untouched-bucket rows) is unchanged
    w1 = {(r["subj"], r["predicate"], r["obj"]): r["weight"]
          for r in read_edges(spark, edges_dir).collect()}
    from sigraph_spark.operators.extract import extract_pages
    from sigraph_spark.operators.linking import canonicalize_triples, link_entities
    from sigraph_spark.operators.triples import triples_from_docs

    docs = extract_pages(small).select("url", "warc_ts", "text")
    tr = triples_from_docs(docs)
    canon = canonicalize_triples(tr, link_entities(tr))
    small_keys = {
        (r["subj"], r["verb"], r["obj"])
        for r in canon.select("subj", "verb", "obj").distinct().collect()
    }
    assert small_keys, "tiny batch must produce triples"
    for k, v in w1.items():
        if k in small_keys:
            assert v > w0.get(k, 0)
        else:
            assert v == w0.get(k, v)
