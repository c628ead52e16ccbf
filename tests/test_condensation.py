"""SCC condensation DAG + longest-path topological layering."""

from __future__ import annotations

import pytest

from sigraph_spark.operators.graphalgo import (
    condensation,
    strongly_connected_components,
    topo_levels,
)
from sigraph_spark.signals import collect

# two cycles (abc, fg) glued by a DAG: p -> abc -> d -> fg; d -> e
EDGES = [
    ("a", "b"), ("b", "c"), ("c", "a"),
    ("f", "g"), ("g", "f"),
    ("p", "a"), ("c", "d"), ("d", "f"), ("d", "e"),
]


def test_condensation_is_dag_with_expected_edges(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    scc = strongly_connected_components(df)
    dag = condensation(df, scc)
    got = {(r["src_scc"], r["dst_scc"]) for r in dag.collect()}
    assert got == {("p", "a"), ("a", "d"), ("d", "f"), ("d", "e")}
    # acyclic: no mutual pair
    assert not any((b, a) in got for a, b in got)


def test_topo_levels_longest_path(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    dag = condensation(df, strongly_connected_components(df))
    with collect() as rec:
        lv = {r["node_id"]: r["level"] for r in topo_levels(dag).collect()}
    assert rec["topo_levels"]["converged"]
    assert lv == {"p": 0, "a": 1, "d": 2, "f": 3, "e": 3}


def test_topo_levels_diamond_takes_longest(spark):
    # a->b->d and a->d: d's level is via the LONGER path
    dag = spark.createDataFrame(
        [("a", "b"), ("b", "d"), ("a", "d")], "src_scc string, dst_scc string"
    )
    lv = {r["node_id"]: r["level"] for r in topo_levels(dag).collect()}
    assert lv == {"a": 0, "b": 1, "d": 2}


def test_topo_levels_rejects_cycles(spark):
    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src_scc string, dst_scc string"
    )
    with pytest.raises(ValueError):
        topo_levels(cyc, max_iter=5)
