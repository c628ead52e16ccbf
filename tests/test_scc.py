"""Strongly connected components (FW-BW-Trim coloring) vs Tarjan."""

from __future__ import annotations

from sigraph_spark.operators.graphalgo import strongly_connected_components
from sigraph_spark.signals import collect


def _tarjan_scc(edges):
    adj: dict[str, list[str]] = {}
    nodes = set()
    for u, v in edges:
        if u == v:
            continue
        adj.setdefault(u, []).append(v)
        nodes.add(u)
        nodes.add(v)
    index: dict[str, int] = {}
    low: dict[str, int] = {}
    on: set[str] = set()
    stack: list[str] = []
    out: dict[str, str] = {}
    counter = [0]

    def strongconnect(root):
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on.add(v)
            recurse = False
            for i in range(pi, len(adj.get(v, []))):
                w = adj[v][i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            work.pop()
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                rep = min(comp)
                for w in comp:
                    out[w] = rep
            if work:
                pv = work[-1][0]
                low[pv] = min(low[pv], low[v])

    for n in sorted(nodes):
        if n not in index:
            strongconnect(n)
    return out


# cycle a-b-c, cycle f-g, DAG glue c->d->f, chain d->e, back-ref e->e
# (self-loop, dropped), isolated mutual pair x<->y, long chain into cycle
EDGES = [
    ("a", "b"), ("b", "c"), ("c", "a"),
    ("c", "d"), ("d", "e"), ("e", "e"),
    ("d", "f"), ("f", "g"), ("g", "f"),
    ("x", "y"), ("y", "x"),
    ("p1", "p2"), ("p2", "p3"), ("p3", "p4"), ("p4", "a"),
]


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src string, dst string")
    with collect() as rec:
        got = {
            r["node_id"]: r["scc_id"]
            for r in strongly_connected_components(df, **kw).collect()
        }
    return got, rec["strongly_connected_components"]


def test_matches_tarjan(spark):
    got, m = _run(spark, EDGES)
    assert m["converged"]
    assert got == _tarjan_scc(EDGES)
    # the real components came out non-trivially
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["f"] == got["g"] == "f"
    assert got["x"] == got["y"] == "x"
    assert got["d"] == "d" and got["p1"] == "p1"


def test_pure_dag_all_singletons(spark):
    dag = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e")]
    got, m = _run(spark, dag)
    assert m["converged"]
    assert got == {n: n for n in "abcde"}
    # a DAG must be fully handled by trim: zero FW-BW peels
    assert m["peels"] == 0


def test_one_big_cycle(spark):
    n = 12
    cyc = [(f"n{i:02d}", f"n{(i + 1) % n:02d}") for i in range(n)]
    got, m = _run(spark, cyc)
    assert m["converged"]
    assert set(got.values()) == {"n00"}
    assert len(got) == n
    # coloring cut at 3 rounds: the cycle is left unassigned, never split
    # into singletons
    got, m = _run(spark, cyc, max_prop=3)
    assert m["converged"] is False
    assert got == {}


def test_partition_invariance(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    a = sorted(strongly_connected_components(df).collect())
    b = sorted(strongly_connected_components(df.repartition(7)).collect())
    assert a == b
