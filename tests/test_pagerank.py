"""Fixed-point PageRank: exact arithmetic, partition invariance, and
bit-identity with the unrolled-CTE SQL restatement."""

from __future__ import annotations

import duckdb
import pytest

from sigraph_spark.operators.pagerank import (
    SCALE,
    pagerank,
    pagerank_oracle_sql,
    pagerank_resume,
    pagerank_weighted,
    pagerank_weighted_oracle_sql,
    personalized_pagerank,
    ppr_oracle_sql,
)

EDGES = [
    ("a", "b"),
    ("a", "c"),
    ("b", "c"),
    ("c", "a"),
    ("d", "c"),  # d is a source-only node (gets teleport share only)
    ("c", "a"),  # duplicate edge — must collapse
]
WEIGHTS = [3, 1, 2, 5, 4, 6]  # per EDGES row; the duplicate (c, a) sums to 11


def _edges_df(spark, partitions=1):
    return spark.createDataFrame(EDGES, "src string, dst string").repartition(
        partitions
    )


def _expected():
    """Pure-python restatement of the fixed-point recurrence."""
    e = sorted(set(EDGES))
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    n = len(nodes)
    deg = {}
    for s, _ in e:
        deg[s] = deg.get(s, 0) + 1
    rank = {v: SCALE // n for v in nodes}
    for _ in range(5):
        s = {v: 0 for v in nodes}
        for u, v in e:
            s[v] += rank[u] // deg[u]
        rank = {v: (15 * SCALE) // (100 * n) + (85 * s[v]) // 100 for v in nodes}
    return rank


def test_pagerank_matches_python_reference(spark):
    got = {r["node"]: r["rank_fp"] for r in pagerank(_edges_df(spark)).collect()}
    assert got == _expected()


def test_pagerank_partition_order_invariant(spark):
    """The whole point of fixed-point arithmetic: identical output under
    any partitioning (float sums would drift in the last ulps)."""
    a = sorted(map(tuple, pagerank(_edges_df(spark, 1)).collect()))
    b = sorted(map(tuple, pagerank(_edges_df(spark, 13)).collect()))
    assert a == b


@pytest.mark.parametrize(
    "variant",
    ["pagerank", "pagerank_weighted", "pagerank_resume", "personalized_pagerank"],
)
def test_pagerank_matches_duckdb_oracle(spark, variant):
    """Every variant equals its unrolled-CTE oracle bit for bit. The resume
    case chains a cold block over the graph without d's edge into a warm
    block over the full graph, so d starts at the uniform share."""
    rows = [(s, d, w) for (s, d), w in zip(EDGES, WEIGHTS)]
    con = duckdb.connect()
    con.execute("CREATE TABLE edges AS SELECT * FROM (VALUES %s) t(src, dst, weight)"
                % ", ".join("('%s','%s',%d)" % r for r in rows))
    con.execute("CREATE TABLE base_e AS SELECT * FROM edges WHERE src <> 'd'")
    e = spark.createDataFrame(rows, "src string, dst string, weight long")
    if variant == "pagerank":
        sql, out = pagerank_oracle_sql("edges"), pagerank(e)
    elif variant == "pagerank_weighted":
        sql, out = pagerank_weighted_oracle_sql("edges"), pagerank_weighted(e)
    elif variant == "pagerank_resume":
        sql = (
            pagerank_oracle_sql("base_e", prefix="pb_", final_select=False) + ","
            + pagerank_oracle_sql("edges", prefix="pw_", iterations=3, init_rel="pb_r5")
        )
        prior = pagerank(e.filter("src <> 'd'")).select("node", "rank_fp")
        out = pagerank_resume(e, prior, iterations=3)
    else:
        sql = ppr_oracle_sql("edges", "node IN ('a', 'd')")
        seeds = spark.createDataFrame([("a",), ("d",)], "node string")
        out = personalized_pagerank(e, seeds)
    want = {r[0]: (r[1], r[2]) for r in con.execute("WITH " + sql).fetchall()}
    got = {r["node"]: (r["rank_fp"], r["rank"]) for r in out.collect()}
    assert got == want


def test_pagerank_ranking_is_sane(spark):
    """d has no in-links -> exactly the teleport floor and the minimum;
    the a<->c cycle members dominate b (which splits a's vote with c)."""
    got = {r["node"]: r["rank_fp"] for r in pagerank(_edges_df(spark)).collect()}
    assert got["d"] == min(got.values())
    assert got["d"] == (15 * SCALE) // (100 * 4)
    assert min(got["a"], got["c"]) > got["b"] > got["d"]


# --- personalized PageRank -------------------------------------------------

def test_ppr_hand_computed_chain(spark):
    from sigraph_spark.operators.pagerank import SCALE, personalized_pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    out = {
        r["node"]: r["rank_fp"]
        for r in personalized_pagerank(edges, seeds, iterations=2).collect()
    }
    # ns=1: r0 = {a: S, b: 0, c: 0}; teleport(a) = 0.15*S
    # iter1: a=0.15S, b=0.85S, c=0
    # iter2: a=0.15S, b=0.85*0.15S, c=0.85*0.85S
    assert out["a"] == (15 * SCALE) // 100
    assert out["b"] == (85 * ((15 * SCALE) // 100)) // 100
    assert out["c"] == (85 * ((85 * SCALE) // 100)) // 100


def test_ppr_unreachable_stays_exactly_zero(spark):
    from sigraph_spark.operators.pagerank import personalized_pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("x", "y")], "src string, dst string"
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    out = {r["node"]: r["rank_fp"] for r in
           personalized_pagerank(edges, seeds).collect()}
    assert out["x"] == 0 and out["y"] == 0
    assert out["a"] > 0 and out["b"] > 0


def test_ppr_foreign_seeds_filtered_and_empty_raises(spark):
    import pytest as _pytest

    from sigraph_spark.operators.pagerank import personalized_pagerank

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    # seed outside the graph is ignored; 'a' still carries all mass
    seeds = spark.createDataFrame([("a",), ("zzz",)], "node string")
    out = {r["node"]: r["rank_fp"] for r in
           personalized_pagerank(edges, seeds, iterations=1).collect()}
    assert out["a"] > 0
    only_foreign = spark.createDataFrame([("zzz",)], "node string")
    with _pytest.raises(ValueError):
        personalized_pagerank(edges, only_foreign)


# --- warm-start resume ------------------------------------------------------

def test_resume_on_unchanged_graph_equals_longer_cold_run(spark):
    from sigraph_spark.operators.pagerank import pagerank, pagerank_resume

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")],
        "src string, dst string",
    )
    prior = pagerank(e, iterations=5).select("node", "rank_fp")
    resumed = {r["node"]: r["rank_fp"]
               for r in pagerank_resume(e, prior, iterations=3).collect()}
    cold = {r["node"]: r["rank_fp"]
            for r in pagerank(e, iterations=8).collect()}
    assert resumed == cold  # bit-identical: warm rounds ARE rounds 6-8


def test_resume_initializes_new_nodes_at_uniform_share(spark):
    from sigraph_spark.operators.pagerank import SCALE, pagerank, pagerank_resume

    base = spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string")
    prior = pagerank(base, iterations=5).select("node", "rank_fp")
    # delta adds node c; with 0 extra iterations the init is observable
    full = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c")], "src string, dst string"
    )
    init = {r["node"]: r["rank_fp"]
            for r in pagerank_resume(full, prior, iterations=0).collect()}
    got_prior = {r["node"]: r["rank_fp"] for r in prior.collect()}
    assert init["a"] == got_prior["a"] and init["b"] == got_prior["b"]
    assert init["c"] == SCALE // 3


def test_weighted_uniform_equals_unweighted(spark):
    from sigraph_spark.operators.pagerank import pagerank, pagerank_weighted

    edges = spark.createDataFrame(
        [("a", "b", 5), ("b", "c", 5), ("c", "a", 5), ("a", "c", 5)],
        "src string, dst string, weight long")
    plain = {r["node"]: r["rank_fp"] for r in pagerank(edges).collect()}
    # uniform weights: w/wsum == 1/deg exactly -> bit-identical ranks
    wtd = {r["node"]: r["rank_fp"]
           for r in pagerank_weighted(edges).collect()}
    assert wtd == plain


def test_weighted_mass_follows_weight(spark):
    from sigraph_spark.operators.pagerank import pagerank_weighted

    # a sends 9x more mass to b than to c
    edges = spark.createDataFrame(
        [("a", "b", 9), ("a", "c", 1), ("b", "a", 1), ("c", "a", 1)],
        "src string, dst string, weight long")
    got = {r["node"]: r["rank_fp"]
           for r in pagerank_weighted(edges).collect()}
    assert got["b"] > got["c"]
    # duplicate pairs pre-aggregate: (a,b,4)+(a,b,5) == (a,b,9)
    dup = spark.createDataFrame(
        [("a", "b", 4), ("a", "b", 5), ("a", "c", 1), ("b", "a", 1),
         ("c", "a", 1)],
        "src string, dst string, weight long")
    got2 = {r["node"]: r["rank_fp"]
            for r in pagerank_weighted(dup).collect()}
    assert got2 == got


def test_weighted_headroom_raises(spark):
    import pytest as _pytest

    from sigraph_spark.operators.pagerank import pagerank_weighted

    edges = spark.createDataFrame(
        [("a", "b", 10_000_000)], "src string, dst string, weight long")
    with _pytest.raises(ValueError, match="headroom"):
        pagerank_weighted(edges)


def test_weighted_nonpositive_raises(spark):
    """Weights are positive observation counts. A negative pair weight would
    hand c negative mass; a source whose weights sum to 0 would divide by
    zero."""
    for rows in (
        [("a", "b", 2), ("a", "c", -1)],
        [("a", "b", 1), ("a", "b", -1), ("b", "a", 1)],
    ):
        edges = spark.createDataFrame(rows, "src string, dst string, weight long")
        with pytest.raises(ValueError, match="not positive"):
            pagerank_weighted(edges)
