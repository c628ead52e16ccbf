"""Degree-oriented triangle counting: exact vs brute force, including
the orientation-vs-lexicographic ordering trap."""

from __future__ import annotations

from itertools import combinations

import pytest

from sigraph_spark.operators.graphalgo import triangle_count, triangle_total
from sigraph_spark.signals import collect


def _brute(edges):
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nodes = sorted(adj)
    per = {n: 0 for n in nodes}
    total = 0
    for x, y, z in combinations(nodes, 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            total += 1
            per[x] += 1
            per[y] += 1
            per[z] += 1
    return total, {n: c for n, c in per.items() if c}


def _check(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    total, per = _brute(edges)
    assert triangle_total(df) == total
    got = {r["node"]: r["triangles"] for r in triangle_count(df).collect()}
    assert got == per


def test_triangles_clique_plus_tail(spark):
    # K4 (4 triangles, 3 per node) + a pendant edge (no triangles)
    k4 = [(a, b) for a, b in combinations(["a", "b", "c", "d"], 2)]
    _check(spark, k4 + [("d", "e")])


def test_triangles_orientation_vs_lexicographic(spark):
    """Node 'z' (lexicographically last) has the LOWEST degree, so the
    (degree, id) orientation disagrees with string order — the case the
    both-orderings wedge join exists for. Duplicate and reversed edges
    must also collapse."""
    edges = [
        ("z", "a"), ("a", "z"),  # dup reversed
        ("z", "b"),
        ("a", "b"), ("a", "c"), ("a", "d"),  # a: high degree
        ("b", "c"), ("b", "d"),              # b: high degree
        ("c", "d"),
        ("e", "e"),  # self-loop ignored
    ]
    _check(spark, edges)


def test_triangles_bipartite_is_zero(spark):
    bip = [(f"l{i}", f"r{j}") for i in range(3) for j in range(3)]
    df = spark.createDataFrame(bip, "src string, dst string")
    assert triangle_total(df) == 0
    assert triangle_count(df).count() == 0


# ---------------------------------------------------------------------------
# shortest_paths
# ---------------------------------------------------------------------------

def _bfs(edges, seeds):
    from collections import deque

    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    dist = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        n = q.popleft()
        for m in adj.get(n, ()):
            if m not in dist:
                dist[m] = dist[n] + 1
                q.append(m)
    return dist


def test_shortest_paths_chain_and_branch(spark):
    from sigraph_spark.operators.graphalgo import shortest_paths

    edges = [
        ("s", "a"), ("a", "b"), ("b", "c"), ("c", "d"),  # long chain
        ("s", "x"), ("x", "d"),                          # shortcut to d
        ("d", "s"),                                      # cycle back
        ("q", "r"),                                      # unreachable island
    ]
    e = spark.createDataFrame(edges, "src string, dst string")
    seeds = spark.createDataFrame([("s",)], "node_id string")
    with collect() as rec:
        got = {
            r["node_id"]: r["distance"]
            for r in shortest_paths(e, seeds).collect()
        }
    assert got == _bfs(edges, ["s"])
    assert "q" not in got and "r" not in got
    # d is at distance 2 via the shortcut, not 4 via the chain
    assert got["d"] == 2
    assert rec["shortest_paths"]["rounds"] >= 4
    assert rec["shortest_paths"]["converged"] is True


def test_shortest_paths_truncation_flagged(spark):
    # max_iter exhausted before the frontier empties -> partial distances,
    # converged=False so callers can't mistake depth>max_iter for unreachable
    from sigraph_spark.operators.graphalgo import shortest_paths

    chain = [(f"n{i}", f"n{i+1}") for i in range(6)]
    e = spark.createDataFrame(chain, "src string, dst string")
    seeds = spark.createDataFrame([("n0",)], "node_id string")
    with collect() as rec:
        got = {
            r["node_id"]: r["distance"]
            for r in shortest_paths(e, seeds, max_iter=3).collect()
        }
    sig = rec["shortest_paths"]
    assert sig["converged"] is False and sig["rounds"] == 3
    assert got == {"n0": 0, "n1": 1, "n2": 2, "n3": 3}  # truncated at depth 3


def test_shortest_paths_multi_source_min(spark):
    from sigraph_spark.operators.graphalgo import shortest_paths

    edges = [("s1", "m"), ("s2", "n"), ("m", "n"), ("n", "t")]
    e = spark.createDataFrame(edges, "src string, dst string")
    seeds = spark.createDataFrame([("s1",), ("s2",)], "node_id string")
    got = {
        r["node_id"]: r["distance"]
        for r in shortest_paths(e, seeds).collect()
    }
    # n reachable at 1 from s2 (not 2 via s1 -> m)
    assert got == {"s1": 0, "s2": 0, "m": 1, "n": 1, "t": 2}


# ---------------------------------------------------------------------------
# kcore
# ---------------------------------------------------------------------------

def _peel(edges, k):
    from collections import Counter

    E = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    while True:
        deg = Counter()
        for x, y in E:
            deg[x] += 1
            deg[y] += 1
        keep = {n for n, d in deg.items() if d >= k}
        E2 = {(x, y) for x, y in E if x in keep and y in keep}
        if E2 == E:
            out = Counter()
            for x, y in E:
                out[x] += 1
                out[y] += 1
            return {n: d for n, d in out.items() if d >= k}
        E = E2


def test_kcore_peels_tail_into_fixpoint(spark):
    from itertools import combinations

    from sigraph_spark.operators.graphalgo import kcore

    # K4 core + a chain hanging off it: the chain peels away one link per
    # round (the case that needs the iteration, not one pass)
    k4 = [(a, b) for a, b in combinations(["a", "b", "c", "d"], 2)]
    chain = [("d", "e"), ("e", "f"), ("f", "g")]
    e = spark.createDataFrame(k4 + chain, "src string, dst string")
    with collect() as rec:
        got = {
            r["node_id"]: r["core_degree"]
            for r in kcore(e, k=2).collect()
        }
    assert got == _peel(k4 + chain, 2) == {"a": 3, "b": 3, "c": 3, "d": 3}
    assert rec["kcore"]["rounds"] >= 3  # one chain link per round


def test_kcore_empty_when_k_exceeds_density(spark):
    from sigraph_spark.operators.graphalgo import kcore

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    assert kcore(e, k=3).count() == 0
    got = {r["node_id"]: r["core_degree"] for r in kcore(e, k=2).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}


def test_kcore_oracle_matches_duckdb(spark):
    """The unrolled-CTE oracle generator equals the Spark fixpoint on a
    fixture with a real peel sequence (guards the MATERIALIZED CTE
    chain's correctness, not just the gate fixture), and a peel cut at
    ``max_iter=1`` (h gone, g left: a keeps degree 3) equals the oracle
    unrolled to one round."""
    import duckdb

    from sigraph_spark.operators.graphalgo import kcore, kcore_oracle_sql

    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
        ("e", "f"), ("f", "d"), ("d", "c"), ("g", "a"), ("h", "g"),
    ]
    e = spark.createDataFrame(edges, "src string, dst string")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE edges AS SELECT * FROM (VALUES "
        + ", ".join(f"('{a}', '{b}')" for a, b in edges)
        + ") t(src, dst)"
    )
    for max_iter, rounds in ((30, 8), (1, 1)):
        got = sorted(
            (r["node_id"], r["core_degree"])
            for r in kcore(e, k=2, max_iter=max_iter).collect()
        )
        want = sorted(
            (r[0], r[1])
            for r in con.execute(
                "WITH " + kcore_oracle_sql("edges", 2, rounds)
            ).fetchall()
        )
        assert got == want, max_iter


# ---------------------------------------------------------------------------
# ktruss
# ---------------------------------------------------------------------------

def _truss_peel(edges, k):
    """Reference k-truss peel (pure python): drop edges with < k-2
    triangles in the CURRENT subgraph until fixpoint."""
    E = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    while True:
        sup = {e: 0 for e in E}
        es = E
        for x, y in es:
            for z in {n for p in es for n in p}:
                if z in (x, y):
                    continue
                if (min(x, z), max(x, z)) in es and (min(y, z), max(y, z)) in es:
                    sup[(x, y)] += 1
        E2 = {e for e in E if sup[e] >= k - 2}
        if E2 == E:
            return {e: sup[e] for e in E}
        E = E2


def test_ktruss_cascading_peel(spark):
    """K5 core + a strip of edge-sharing triangles hanging off it: the
    strip peels one triangle layer per round under k=4 (support >= 2) —
    the case that needs the iteration, not one pass."""
    from itertools import combinations

    from sigraph_spark.operators.graphalgo import ktruss

    k5 = [(a, b) for a, b in combinations(["a", "b", "c", "u", "v"], 2)]
    strip = [("u", "w"), ("v", "w"), ("v", "x"), ("w", "x"),
             ("w", "y"), ("x", "y")]
    e = spark.createDataFrame(k5 + strip, "src string, dst string")
    with collect() as rec:
        got = {
            (r["x"], r["y"]): r["support"]
            for r in ktruss(e, k=4).collect()
        }
    assert got == _truss_peel(k5 + strip, 4)
    assert all(s == 3 for s in got.values()) and len(got) == 10  # the K5
    assert rec["ktruss"]["converged"] and rec["ktruss"]["rounds"] >= 3


def test_ktruss_vs_kcore_separation(spark):
    """A 4-cycle survives the 2-core (every node degree 2) but holds zero
    triangles: the 3-truss must empty it while keeping a real triangle —
    the cohesion separation the truss exists for."""
    from sigraph_spark.operators.graphalgo import kcore, ktruss

    cyc = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
    tri = [("p", "q"), ("q", "r"), ("r", "p")]
    e = spark.createDataFrame(cyc + tri, "src string, dst string")
    got = {(r["x"], r["y"]) for r in ktruss(e, k=3).collect()}
    assert got == {("p", "q"), ("q", "r"), ("p", "r")}
    # kcore(k=2) keeps the triangle-free cycle — the separation point
    assert {r["node_id"] for r in kcore(e, k=2).collect()} >= {
        "a", "b", "c", "d"
    }


@pytest.mark.parametrize("rounds", [1, 2, 6])
def test_ktruss_oracle_matches_duckdb(spark, rounds):
    """The unrolled-CTE oracle equals the Spark peel cut at the same
    number of rounds on the cascading fixture (guards the three-way
    UNION ALL support count, not just the gate fixture). At 1 and 2
    rounds the peel is cut short, and support must still be counted
    within the returned subgraph; 6 reaches the fixpoint."""
    import duckdb

    from itertools import combinations

    from sigraph_spark.operators.graphalgo import ktruss, ktruss_oracle_sql

    k5 = [(a, b) for a, b in combinations(["a", "b", "c", "u", "v"], 2)]
    strip = [("u", "w"), ("v", "w"), ("v", "x"), ("w", "x"),
             ("w", "y"), ("x", "y")]
    edges = k5 + strip
    e = spark.createDataFrame(edges, "src string, dst string")
    got = sorted(
        (r["x"], r["y"], r["support"])
        for r in ktruss(e, k=4, max_iter=rounds).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE edges AS SELECT * FROM (VALUES "
        + ", ".join(f"('{a}', '{b}')" for a, b in edges)
        + ") t(src, dst)"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            "WITH " + ktruss_oracle_sql("edges", 4, rounds)
        ).fetchall()
    )
    assert got == want


def test_node_features_composition(spark):
    from sigraph_spark.operators.graphalgo import node_features

    # triangle abc + pendant d, separate pair e-f
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("e", "f")]
    e = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node_id"]: r for r in node_features(e).collect()}
    assert set(got) == {"a", "b", "c", "d", "e", "f"}
    assert got["c"]["degree"] == 3 and got["d"]["degree"] == 1
    assert got["a"]["triangles"] == 1 and got["d"]["triangles"] == 0
    assert got["a"]["component"] == "a" and got["d"]["component"] == "a"
    assert got["e"]["component"] == "e" == got["f"]["component"]
    # pagerank: pendant sink d accumulates more than its sources
    assert all(got[n]["pagerank"] > 0 for n in got)


def test_label_propagation_majority_and_clamp(spark):
    from sigraph_spark.operators.graphalgo import label_propagation

    # seeds A (on a1) and B (on b1); m touches two a-side and one b-side
    # neighbor -> majority A; b1 stays clamped even though surrounded by A
    edges = [
        ("a1", "m"), ("a2", "m"), ("b1", "m"),
        ("a1", "a2"), ("a1", "b1"), ("a2", "b1"),
        ("m", "far"),
    ]
    e = spark.createDataFrame(edges, "src string, dst string")
    seeds = spark.createDataFrame(
        [("a1", "A"), ("a2", "A"), ("b1", "B")], "node string, label string"
    )
    got = {r["node_id"]: r["label"] for r in label_propagation(e, seeds, rounds=3).collect()}
    assert got["m"] == "A"          # 2 A-neighbors vs 1 B
    assert got["b1"] == "B"         # clamped seed
    assert got["far"] == "A"        # second-hop spread through m


def test_label_propagation_tie_breaks_lexicographically(spark):
    from sigraph_spark.operators.graphalgo import label_propagation

    e = spark.createDataFrame(
        [("s1", "m"), ("s2", "m")], "src string, dst string"
    )
    seeds = spark.createDataFrame(
        [("s1", "Z"), ("s2", "A")], "node string, label string"
    )
    got = {r["node_id"]: r["label"] for r in label_propagation(e, seeds, rounds=1).collect()}
    assert got["m"] == "A"  # 1-1 tie -> lexicographic minimum


# a self-loop and a duplicate pair exercise the shared two-way edge set
_LPA_EDGES = [
    ("a1", "m"), ("a2", "m"), ("b1", "m"), ("a1", "a2"), ("a1", "b1"),
    ("a2", "b1"), ("m", "far"), ("far", "x"), ("m", "m"), ("m", "a1"),
]


def _duck_edges(edges):
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE edges AS SELECT * FROM (VALUES %s) t(src, dst)"
                % ", ".join("('%s','%s')" % p for p in edges))
    return con


def test_label_propagation_matches_duckdb_oracle(spark):
    from sigraph_spark.operators.graphalgo import (
        label_propagation, label_propagation_oracle_sql,
    )

    seeds = [("a1", "A"), ("b1", "B"), ("x", "B")]
    con = _duck_edges(_LPA_EDGES)
    con.execute("CREATE TABLE seeds AS SELECT * FROM (VALUES %s) t(node, label)"
                % ", ".join("('%s','%s')" % p for p in seeds))
    want = set(con.execute(
        "WITH " + label_propagation_oracle_sql("edges", "seeds", 3)).fetchall())
    e = spark.createDataFrame(_LPA_EDGES, "src string, dst string")
    s = spark.createDataFrame(seeds, "node string, label string")
    assert {tuple(r) for r in label_propagation(e, s, rounds=3).collect()} == want


def test_communities_matches_duckdb_oracle(spark):
    from sigraph_spark.operators.graphalgo import (
        communities_lpa, communities_oracle_sql,
    )

    want = set(_duck_edges(_LPA_EDGES).execute(
        "WITH " + communities_oracle_sql("edges", 4)).fetchall())
    e = spark.createDataFrame(_LPA_EDGES, "src string, dst string")
    assert {tuple(r) for r in communities_lpa(e, rounds=4).collect()} == want


def _lpa_python(edges, rounds):
    und = set()
    for s, d in edges:
        if s != d:
            und.add((s, d)); und.add((d, s))
    nodes = {x for x, _ in und}
    labels = {n: n for n in nodes}
    for _ in range(rounds):
        votes = {}
        for x, y in und:
            votes.setdefault(x, {}).setdefault(labels[y], 0)
        for x, y in und:
            votes[x][labels[y]] += 1
        for n in nodes:  # self-vote
            votes.setdefault(n, {}).setdefault(labels[n], 0)
            votes[n][labels[n]] += 1
        labels = {
            n: min(v.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            for n, v in votes.items()
        }
    return labels


def test_communities_two_cliques_bridge(spark):
    from sigraph_spark.operators.graphalgo import communities_lpa

    # two 4-cliques joined by one bridge edge: LPA should find 2 communities
    clique1 = [(f"a{i}", f"a{j}") for i in range(4) for j in range(i + 1, 4)]
    clique2 = [(f"b{i}", f"b{j}") for i in range(4) for j in range(i + 1, 4)]
    edges = clique1 + clique2 + [("a0", "b0")]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {r["node_id"]: r["community"] for r in communities_lpa(df, rounds=4).collect()}
    ref = _lpa_python(edges, 4)
    assert out == ref
    # the two cliques land in different communities
    assert len({out[f"a{i}"] for i in range(1, 4)}) == 1
    assert len({out[f"b{i}"] for i in range(1, 4)}) == 1
    assert out["a1"] != out["b1"]


def test_communities_partition_invariance(spark):
    from sigraph_spark.operators.graphalgo import communities_lpa

    edges = [(f"n{i}", f"n{(i * 7 + 3) % 40}") for i in range(120)]
    df1 = spark.createDataFrame(edges, "src string, dst string").repartition(1)
    df8 = spark.createDataFrame(edges, "src string, dst string").repartition(8)
    r1 = sorted(map(tuple, communities_lpa(df1, rounds=3).collect()))
    r8 = sorted(map(tuple, communities_lpa(df8, rounds=3).collect()))
    assert r1 == r8 == sorted(_lpa_python(edges, 3).items())


def test_communities_singleton_pair_stable(spark):
    from sigraph_spark.operators.graphalgo import communities_lpa

    # a single edge: both nodes adopt min(label) and stay there
    df = spark.createDataFrame([("x", "y")], "src string, dst string")
    out = {r["node_id"]: r["community"] for r in communities_lpa(df, rounds=5).collect()}
    assert out == {"x": "x", "y": "x"}


def _hyperball_python(edges, p, radii):
    import hashlib
    import math

    from sigraph_spark.operators.sketches import _alpha

    def h32(s):
        return int.from_bytes(
            hashlib.md5(str(s).encode()).digest()[:4], "little")

    def sketch_one(v):
        w = 32 - p
        h = h32(v)
        val = h & ((1 << w) - 1)
        rho = (w + 1) if val == 0 else w + 1 - val.bit_length()
        return {h >> w: rho}

    def est(regs):
        m = 1 << p
        s = sum(2.0 ** -r for r in regs.values()) + (m - len(regs))
        raw = _alpha(m) * m * m / s
        zeros = m - len(regs)
        if raw <= 2.5 * m and zeros > 0:
            return round(m * math.log(m / zeros), 6)
        return round(raw, 6)

    nodes = sorted({n for e in edges for n in e})
    regs = {n: sketch_one(n) for n in nodes}
    out = []
    for t in range(1, radii + 1):
        regs = {
            n: {
                k: max(
                    [regs[n].get(k, 0)]
                    + [regs[y].get(k, 0) for x, y in edges if x == n]
                )
                for k in set(regs[n])
                | {k for x, y in edges if x == n for k in regs[y]}
            }
            for n in nodes
        }
        out += [(n, t, len(regs[n]), est(regs[n])) for n in nodes]
    return sorted(out)


def test_hyperball_matches_python_reference(spark):
    from sigraph_spark.operators.graphalgo import hyperball

    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "e"), ("e", "d"),
             ("d", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = sorted(map(tuple, hyperball(df, p=6, radii=3).collect()))
    assert got == _hyperball_python(edges, 6, 3)


def test_hyperball_ball_growth_on_chain(spark):
    from sigraph_spark.operators.graphalgo import hyperball

    # directed chain: ball(n0, r) holds min(r+1, remaining) nodes; at
    # p=12 and tiny cardinalities the HLL estimate is near-exact
    edges = [(f"n{i}", f"n{i+1}") for i in range(6)]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {(r["node"], r["r"]): r["estimate"]
           for r in hyperball(df, p=12, radii=3).collect()}
    for r in (1, 2, 3):
        assert abs(out[("n0", r)] - (r + 1)) < 0.2
    # the sink's ball never grows
    assert abs(out[("n6", 3)] - 1) < 0.05


def test_hyperball_partition_invariance(spark):
    from sigraph_spark.operators.graphalgo import hyperball

    edges = [(f"v{i}", f"v{(i * 5 + 2) % 23}") for i in range(60)]
    d1 = spark.createDataFrame(edges, "src string, dst string").repartition(1)
    d8 = spark.createDataFrame(edges, "src string, dst string").repartition(8)
    assert sorted(map(tuple, hyperball(d1, p=6, radii=2).collect())) == \
        sorted(map(tuple, hyperball(d8, p=6, radii=2).collect()))


def test_modularity_two_cliques_vs_random_partition(spark):
    from sigraph_spark.operators.graphalgo import communities_lpa, modularity

    clique1 = [(f"a{i}", f"a{j}") for i in range(4) for j in range(i + 1, 4)]
    clique2 = [(f"b{i}", f"b{j}") for i in range(4) for j in range(i + 1, 4)]
    edges = clique1 + clique2 + [("a0", "b0")]
    df = spark.createDataFrame(edges, "src string, dst string")
    # hand computation on the FIXED clique partition: m=13, e_in=6 each,
    # community degrees 13 each -> q_num = 4*13*12 - 2*169 = 286
    fixed = spark.createDataFrame(
        [(f"a{i}", "A") for i in range(4)] + [(f"b{i}", "B") for i in range(4)],
        "node_id string, community string",
    )
    [row] = modularity(df, fixed).collect()
    assert row["m_edges"] == 13
    assert row["n_communities"] == 2
    assert row["q_num"] == 4 * 13 * 12 - 2 * 169
    assert row["q"] == round(row["q_num"] / (4.0 * 13 * 13), 6)
    # the LPA partition scores at least as well as it (it finds the
    # cliques up to bridge-node placement)
    part = communities_lpa(df, rounds=4)
    [lrow] = modularity(df, part).collect()
    assert lrow["q_num"] >= 0.8 * row["q_num"]
    # a random-ish everyone-separate partition scores worse
    singletons = df.selectExpr("src AS node_id", "src AS community").unionByName(
        df.selectExpr("dst AS node_id", "dst AS community")
    ).distinct()
    [srow] = modularity(df, singletons).collect()
    assert srow["q_num"] < row["q_num"]


def test_modularity_single_community_is_zero(spark):
    from sigraph_spark.operators.graphalgo import modularity

    edges = [("x", "y"), ("y", "z"), ("z", "x")]
    df = spark.createDataFrame(edges, "src string, dst string")
    one = df.selectExpr("src AS node_id", "'c' AS community").unionByName(
        df.selectExpr("dst AS node_id", "'c' AS community")
    ).distinct()
    [row] = modularity(df, one).collect()
    # all edges internal: Q = 1 - 1 = 0 exactly
    assert row["q_num"] == 0 and row["q"] == 0.0


# --- HITS -------------------------------------------------------------------

def _hits_python(edges, rounds=4):
    S = 10**9
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    e = sorted(set(edges))
    hub = {x: S // len(nodes) for x in nodes}
    auth = {x: 0 for x in nodes}

    def norm(raw):
        s = sum(raw.values())
        return {x: (raw.get(x, 0) * S) // s if s > 0 else 0 for x in nodes}

    for _ in range(rounds):
        araw = {}
        for u, v in e:
            araw[v] = araw.get(v, 0) + hub[u]
        auth = norm(araw)
        hraw = {}
        for u, v in e:
            hraw[u] = hraw.get(u, 0) + auth[v]
        hub = norm(hraw)
    return {x: (auth[x], hub[x]) for x in nodes}


def test_hits_python_reference_parity(spark):
    from sigraph_spark.operators.graphalgo import hits

    edges = [("h1", "a1"), ("h1", "a2"), ("h2", "a1"), ("a1", "h2"),
             ("h2", "a3"), ("a3", "a1"), ("h1", "a1")]  # dup collapses
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: (r["auth_fp"], r["hub_fp"]) for r in hits(df).collect()}
    assert got == _hits_python(edges)


def test_hits_star_ranking(spark):
    from sigraph_spark.operators.graphalgo import hits

    df = spark.createDataFrame(
        [("h1", "a1"), ("h1", "a2"), ("h2", "a1")], "src string, dst string"
    )
    out = {r["node"]: r for r in hits(df).collect()}
    assert out["a1"]["auth_fp"] > out["a2"]["auth_fp"]  # a1 cited by both
    assert out["h1"]["hub_fp"] > out["h2"]["hub_fp"]  # h1 links more/better
    assert out["a1"]["hub_fp"] == 0 and out["h1"]["auth_fp"] == 0


def test_hits_partition_invariance(spark):
    from sigraph_spark.operators.graphalgo import hits

    edges = [(f"n{i % 7}", f"n{(i * 3) % 11}") for i in range(60)]
    df = spark.createDataFrame(edges, "src string, dst string")
    a = {tuple(r) for r in hits(df.repartition(1)).collect()}
    b = {tuple(r) for r in hits(df.repartition(16)).collect()}
    assert a == b


def test_hits_oracle_sql_matches(spark):
    import duckdb

    from sigraph_spark.operators.graphalgo import hits, hits_oracle_sql

    edges = [(f"x{i % 5}", f"x{(i * 2 + 1) % 9}") for i in range(30)]
    df = spark.createDataFrame(edges, "src string, dst string")
    spark_rows = {tuple(r) for r in hits(df).collect()}
    n = len({u for u, _ in edges} | {v for _, v in edges})
    vals = ", ".join(f"('{u}', '{v}')" for u, v in edges)
    sql = (
        "WITH base(src, dst) AS (VALUES " + vals + "),"
        + hits_oracle_sql("base", n)
        + " SELECT node, auth_fp, hub_fp, auth, hub FROM hits_out"
    )
    duck_rows = {tuple(r) for r in duckdb.sql(sql).fetchall()}
    assert spark_rows == duck_rows


# ---------------------------------------------------------------------------
# weighted_shortest_paths
# ---------------------------------------------------------------------------

def _bounded_bf(edges, seeds, max_hops):
    """Python reference: min cost over paths of <= max_hops edges."""
    emin = {}
    for u, v, w in edges:
        emin[(u, v)] = min(w, emin.get((u, v), w))
    dist = {s: 0 for s in seeds}
    for _ in range(max_hops):
        nxt = dict(dist)
        for (u, v), w in emin.items():
            if u in dist and dist[u] + w < nxt.get(v, float("inf")):
                nxt[v] = dist[u] + w
        if nxt == dist:
            break
        dist = nxt
    return dist


def test_weighted_paths_cheaper_long_path(spark):
    from sigraph_spark.operators.graphalgo import weighted_shortest_paths

    edges = [
        ("s", "a", 10),                       # direct but expensive
        ("s", "b", 1), ("b", "c", 1), ("c", "a", 1),  # 3 hops, cost 3
        ("a", "s", 1),                        # cycle back
        ("s", "a", 7),                        # parallel edge, min wins
        ("q", "r", 1),                        # unreachable island
    ]
    e = spark.createDataFrame(edges, "src string, dst string, weight long")
    seeds = spark.createDataFrame([("s",)], "node_id string")
    with collect() as rec:
        got = {
            r["node_id"]: r["cost"]
            for r in weighted_shortest_paths(e, seeds).collect()
        }
    assert got == _bounded_bf(edges, ["s"], 20)
    # the 3-hop path beats both parallel direct edges
    assert got["a"] == 3
    assert "q" not in got and "r" not in got
    assert rec["weighted_shortest_paths"]["converged"] is True


def test_weighted_paths_hop_bound_is_semantic(spark):
    # with max_hops=2 the cheap 3-edge path to a is OUT OF CONTRACT:
    # both the impl and the reference return the 2-hop-bounded minimum
    from sigraph_spark.operators.graphalgo import weighted_shortest_paths

    edges = [
        ("s", "a", 10),
        ("s", "b", 1), ("b", "c", 1), ("c", "a", 1),
    ]
    e = spark.createDataFrame(edges, "src string, dst string, weight long")
    seeds = spark.createDataFrame([("s",)], "node_id string")
    with collect() as rec:
        got = {
            r["node_id"]: r["cost"]
            for r in weighted_shortest_paths(e, seeds, max_hops=2).collect()
        }
    assert got == _bounded_bf(edges, ["s"], 2)
    assert got["a"] == 10  # bounded minimum, not the unbounded 3
    # the bound bit — caller can tell
    assert rec["weighted_shortest_paths"]["converged"] is False


def test_weighted_paths_multi_source_and_zero_weight(spark):
    from sigraph_spark.operators.graphalgo import weighted_shortest_paths

    edges = [
        ("s1", "m", 5), ("s2", "m", 2), ("m", "t", 0), ("t", "m", 0),
    ]
    e = spark.createDataFrame(edges, "src string, dst string, weight long")
    seeds = spark.createDataFrame([("s1",), ("s2",)], "node_id string")
    got = {
        r["node_id"]: r["cost"]
        for r in weighted_shortest_paths(e, seeds).collect()
    }
    # zero-weight 2-cycle must not loop forever or change the minima
    assert got == {"s1": 0, "s2": 0, "m": 2, "t": 2}


def test_weighted_paths_oracle_matches_duckdb(spark):
    """The bounded recursive-CTE oracle equals the Spark frontier loop at
    the same hop bound on a graph where the bound matters."""
    import duckdb

    from sigraph_spark.operators.graphalgo import (
        weighted_paths_oracle_sql, weighted_shortest_paths,
    )

    edges = [
        ("s", "a", 9), ("s", "b", 2), ("b", "c", 2), ("c", "a", 2),
        ("a", "d", 1), ("d", "b", 1), ("c", "s", 1), ("b", "a", 8),
    ]
    e = spark.createDataFrame(edges, "src string, dst string, weight long")
    seeds = spark.createDataFrame([("s",)], "node_id string")
    for hops in (2, 4):
        got = sorted(
            (r["node_id"], r["cost"])
            for r in weighted_shortest_paths(
                e, seeds, max_hops=hops
            ).collect()
        )
        vals = ", ".join(f"('{u}', '{v}', {w})" for u, v, w in edges)
        sql = (
            "WITH RECURSIVE base(src, dst, weight) AS (VALUES " + vals + "),"
            + weighted_paths_oracle_sql("base", "'s'", hops)
        )
        want = sorted((r[0], r[1]) for r in duckdb.sql(sql).fetchall())
        assert got == want, f"hops={hops}"


# ---------------------------------------------------------------------------
# temporal_reachability
# ---------------------------------------------------------------------------

def _bounded_ea(edges, seeds, max_hops):
    """Python reference: min earliest arrival over time-respecting paths
    of <= max_hops edges (seeds at -inf origin)."""
    origin = -(2 ** 62)
    arr = {s: origin for s in seeds}
    for _ in range(max_hops):
        nxt = dict(arr)
        for u, v, t in edges:
            if u in arr and t >= arr[u] and t < nxt.get(v, float("inf")):
                nxt[v] = t
        if nxt == arr:
            break
        arr = nxt
    return {n: (None if n in seeds else a) for n, a in arr.items()}


def test_temporal_reach_respects_time(spark):
    from sigraph_spark.operators.graphalgo import temporal_reachability

    edges = [
        ("s", "a", 10), ("a", "b", 5),   # b NOT reachable: 5 < arrival 10
        ("a", "c", 20),                  # c reachable at 20
        ("s", "b", 30),                  # b reachable directly, later
        ("c", "a", 1),                   # stale back-edge, never usable
    ]
    e = spark.createDataFrame(edges, "src string, dst string, t long")
    seeds = spark.createDataFrame([("s",)], "node_id string")
    with collect() as rec:
        got = {
            r["node_id"]: r["earliest_arrival"]
            for r in temporal_reachability(e, seeds).collect()
        }
    assert got == _bounded_ea(edges, ["s"], 20)
    assert got == {"s": None, "a": 10, "b": 30, "c": 20}
    assert rec["temporal_reachability"]["converged"] is True


def test_temporal_reach_earlier_arrival_unlocks_more(spark):
    # reaching m EARLIER via s->x->m (t=2,3) instead of s->m (t=9)
    # unlocks m->z at t=5, which the late path would miss — the
    # min-arrival domination property the operator relies on
    from sigraph_spark.operators.graphalgo import temporal_reachability

    edges = [
        ("s", "m", 9), ("s", "x", 2), ("x", "m", 3), ("m", "z", 5),
    ]
    e = spark.createDataFrame(edges, "src string, dst string, t long")
    seeds = spark.createDataFrame([("s",)], "node_id string")
    got = {
        r["node_id"]: r["earliest_arrival"]
        for r in temporal_reachability(e, seeds).collect()
    }
    assert got == {"s": None, "x": 2, "m": 3, "z": 5}


def test_temporal_reach_hop_bound_and_multiseed(spark):
    from sigraph_spark.operators.graphalgo import temporal_reachability

    chain = [(f"n{i}", f"n{i+1}", i + 1) for i in range(6)]
    e = spark.createDataFrame(chain, "src string, dst string, t long")
    seeds = spark.createDataFrame([("n0",), ("n4",)], "node_id string")
    with collect() as rec:
        got = {
            r["node_id"]: r["earliest_arrival"]
            for r in temporal_reachability(e, seeds, max_hops=2).collect()
        }
    assert got == _bounded_ea(chain, ["n0", "n4"], 2)
    # n3 is 3 hops from n0 — out of contract; n5/n6 come from seed n4
    assert got == {
        "n0": None, "n4": None, "n1": 1, "n2": 2, "n5": 5, "n6": 6,
    }
    assert rec["temporal_reachability"]["converged"] is False


def test_temporal_reach_oracle_matches_duckdb(spark):
    import duckdb

    from sigraph_spark.operators.graphalgo import (
        temporal_reachability, temporal_reachability_oracle_sql,
    )

    edges = [
        ("s", "a", 4), ("a", "b", 2), ("a", "b", 6), ("b", "s", 7),
        ("s", "c", 1), ("c", "b", 3), ("b", "a", 9), ("a", "c", 5),
    ]
    e = spark.createDataFrame(edges, "src string, dst string, t long")
    seeds = spark.createDataFrame([("s",)], "node_id string")
    for hops in (1, 3):
        got = sorted(
            (r["node_id"], r["earliest_arrival"])
            for r in temporal_reachability(e, seeds, max_hops=hops).collect()
        )
        vals = ", ".join(f"('{u}', '{v}', {t})" for u, v, t in edges)
        sql = (
            "WITH RECURSIVE base(src, dst, t) AS (VALUES " + vals + "),"
            + temporal_reachability_oracle_sql("base", "'s'", hops)
        )
        want = sorted((r[0], r[1]) for r in duckdb.sql(sql).fetchall())
        assert got == want, f"hops={hops}"
