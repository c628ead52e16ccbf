"""``operators/queries.py``: ``ordered_sequences`` mirrors the
reference's storage order (timestamp, doc_id) followed by a STABLE sort
on the payload Timestamp; ``provenance_subgraph`` stops at ``max_hop``;
``related_traces`` equals a driver-side BFS for every ``max_hop``."""

from __future__ import annotations

from collections import deque
from datetime import datetime
from itertools import combinations

import pytest

from sigraph_spark.operators.queries import (
    ordered_sequences,
    provenance_subgraph,
    related_traces,
)


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
    # c is reached (a node of the subgraph), d is not. The anchors p and
    # m only have label-filtered out-edges (p->q is PROCESS->PROCESS, m is
    # a MODULE source), so they join the export as bare anchors.
    labels = {"a": "FILE", "b": "FILE", "c": "FILE", "d": "FILE",
              "p": "PROCESS", "q": "PROCESS", "m": "MODULE", "x": "FILE"}
    edges = spark.createDataFrame(
        [(u, "WRITE", v, datetime(2024, 1, 1), 1)
         for u, v in (("a", "b"), ("b", "c"), ("c", "d"), ("p", "q"), ("m", "x"))],
        "src string, predicate string, dst string, start_time timestamp,"
        " weight int",
    )
    nodes = spark.createDataFrame(
        list(labels.items()), "node_id string, label string")
    contains = spark.createDataFrame(
        [("u1", "a"), ("u1", "p"), ("u1", "m"), ("u2", "c")],
        "unit_id string, node_id string")
    sub_nodes, sub_edges = provenance_subgraph(
        contains, edges, nodes, "u1", max_hop=2)
    assert {(r["src"], r["dst"]) for r in sub_edges.collect()} == {
        ("a", "b"), ("b", "c")}
    got = {r["node_id"] for r in sub_nodes.collect()}
    assert got == {"a", "b", "c", "p", "m"}
    # max_hop=1 expands nothing: the export is the anchors' own
    # label-filtered out-edges plus the anchors; b->c is one hop too far
    sub_nodes, sub_edges = provenance_subgraph(
        contains, edges, nodes, "u1", max_hop=1)
    assert {(r["src"], r["dst"]) for r in sub_edges.collect()} == {("a", "b")}
    assert {r["node_id"] for r in sub_nodes.collect()} == {"a", "b", "p", "m"}


# Traces of unit u1 on an undirected path whose edges alternate direction,
# with nodes outside the unit in between: tA/tB share c0 (distance 0), tC
# is 1 from them, tD 2 from tC via c2, tE 4 from tD via c4..c6 (c4 is in
# a u2 trace), tF 3 from tD via y1, y2 (an odd path through nodes outside
# the unit), tG has two nodes, tH none reachable. Every distance 0..7
# occurs, so each max_hop in 0..4 has a pair at max_hop + 1 to leave out.
_RT_EDGES = [
    ("c0", "c1"), ("c2", "c1"), ("c2", "c3"), ("c4", "c3"), ("c4", "c5"),
    ("c6", "c5"), ("c6", "c7"), ("c3", "y1"), ("y2", "y1"), ("y2", "c10"),
    ("c7", "c8"), ("c8", "c7"), ("c12", "c11"),
]
_RT_CONTAINS = [
    ("u1", "tA", "c0"), ("u1", "tB", "c0"), ("u1", "tC", "c1"),
    ("u1", "tD", "c3"), ("u1", "tE", "c7"), ("u1", "tF", "c10"),
    ("u1", "tG", "c8"), ("u1", "tG", "c11"), ("u1", "tH", "d0"),
    ("u2", "tX", "c4"),
]


def _bfs_related(max_hop: int) -> list[tuple]:
    adj: dict[str, set] = {}
    for u, v in _RT_EDGES:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    members: dict[str, set] = {}
    for unit, t, n in _RT_CONTAINS:
        if unit == "u1":
            members.setdefault(t, set()).add(n)
    out = []
    for t1, t2 in combinations(sorted(members), 2):
        dist = {n: 0 for n in members[t1]}
        todo = deque(members[t1])
        while todo:
            n = todo.popleft()
            for m in adj.get(n, ()):
                if m not in dist:
                    dist[m] = dist[n] + 1
                    todo.append(m)
        d = min((dist[n] for n in members[t2] if n in dist), default=None)
        if d is not None and d <= max_hop:
            out.append((t1, t2, d))
    return sorted(out, key=lambda r: (r[2], r[0], r[1]))


@pytest.mark.parametrize("max_hop", [0, 1, 2, 3, 4])
def test_related_traces_matches_bfs(spark, max_hop):
    edges = spark.createDataFrame(
        [(u, "WRITE", v) for u, v in _RT_EDGES]
        + [("c1", "READ", "c0")],  # a second, reversed c0-c1 edge
        "src string, predicate string, dst string")
    contains = spark.createDataFrame(
        _RT_CONTAINS, "unit_id string, trace_id string, node_id string")
    traces = contains.select("unit_id", "trace_id").distinct()
    got = [tuple(r) for r in related_traces(
        traces, contains, edges, "u1", max_hop=max_hop).collect()]
    want = _bfs_related(max_hop)
    assert got == want
    # the graph holds a pair at max_hop + 1, which must stay out
    assert _bfs_related(max_hop + 1) != want
