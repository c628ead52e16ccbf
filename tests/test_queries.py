"""``operators/queries.py``: ``ordered_sequences`` mirrors the
reference's storage order (timestamp, doc_id) followed by a STABLE sort
on the payload Timestamp; ``provenance_subgraph`` stops at ``max_hop``."""

from __future__ import annotations

from datetime import datetime

from sigraph_spark.operators.queries import ordered_sequences, provenance_subgraph


def test_ordered_sequences_ties_break_by_storage_timestamp(spark):
    # d1/d2 share a payload Timestamp; storage order puts d2 first
    # (timestamp 100 < 200) although "d1" < "d2". d0 has the latest
    # storage timestamp but the earliest payload Timestamp.
    rows = [
        ("d1", "u1", "t1", 200, ("2024-01-01T00:00:05", "b")),
        ("d2", "u1", "t1", 100, ("2024-01-01T00:00:05", "a")),
        ("d0", "u1", "t1", 300, ("2024-01-01T00:00:01", "c")),
        ("d9", "u2", "t1", 50, ("2024-01-01T00:00:00", "other unit")),
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id string, unit_id string, trace_id string, timestamp long,"
        " raw_data struct<Timestamp: string, msg: string>",
    )
    out = ordered_sequences(docs, "u1").collect()
    assert len(out) == 1 and out[0]["trace_id"] == "t1"
    assert [e["doc_id"] for e in out[0]["sequence"]] == ["d0", "d2", "d1"]
    assert ordered_sequences(docs, "u1", trace_id="t2").count() == 0


def test_provenance_subgraph_stops_at_max_hop(spark):
    # chain a -> b -> c -> d anchored at a: 2 hops export a->b and b->c;
    # c is reached (a node of the subgraph), d is not
    edges = spark.createDataFrame(
        [(u, "WRITE", v, datetime(2024, 1, 1), 1)
         for u, v in (("a", "b"), ("b", "c"), ("c", "d"))],
        "src string, predicate string, dst string, start_time timestamp,"
        " weight int",
    )
    nodes = spark.createDataFrame(
        [(n, "FILE") for n in "abcd"], "node_id string, label string")
    contains = spark.createDataFrame(
        [("u1", "a"), ("u2", "c")], "unit_id string, node_id string")
    sub_nodes, sub_edges = provenance_subgraph(
        contains, edges, nodes, "u1", max_hop=2)
    assert {(r["src"], r["dst"]) for r in sub_edges.collect()} == {
        ("a", "b"), ("b", "c")}
    got = {r["node_id"] for r in sub_nodes.collect()}
    assert got == {"a", "b", "c"}
