"""Triangle counting over the KG edge relation.

Triangle density separates genuine entity clusters from star-shaped
boilerplate hubs (a hub pulled in by near-dup chains has huge degree but
no triangles), so this is the standard companion metric to degree/
PageRank when auditing a constructed graph.

Algorithm (the MapReduce-classic degree orientation, Suri & Vassilvitskii
"Counting Triangles and the Curse of the Last Reducer"):

* undirect + dedup edges, drop self-loops;
* orient every edge from the LOWER-(degree, id) endpoint to the higher —
  each triangle becomes exactly one directed wedge pair, so no
  overcounting and, critically, every node's out-degree is bounded by
  O(sqrt(|E|)): a 10^8-degree hub (the "last reducer" that kills the
  naive wedge join) ends up with out-edges only toward HIGHER-degree
  nodes, of which there are few.
* wedges = oriented ⋈ oriented on the middle node; close each wedge by
  an equi-join back against the oriented edge set.

Two shuffles (wedge build + closure probe), both on uniform edge keys
after orientation. Exact — the gate oracle is the same oriented
triple-join restated in SQL, which DuckDB computes directly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sigraph_spark import signals
from sigraph_spark.functions.fixpoint import semi_naive
from sigraph_spark.operators.pagerank import _edge_set, pagerank


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct undirected edges ``(x, y)`` with ``x < y``; self-loops
    dropped."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("x"),
            F.greatest(F.col(src), F.col(dst)).alias("y"),
        )
        .filter(F.col("x") != F.col("y"))
        .distinct()
    )


def _two_way(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Both directions of every non-self-loop edge, distinct: ``(x, y)``
    means x hears y's label. Lazily checkpointed — every LPA round joins
    it."""
    return (
        edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
        .unionAll(edges.select(F.col(dst).alias("x"), F.col(src).alias("y")))
        .filter(F.col("x") != F.col("y"))
        .distinct()
        .localCheckpoint(eager=False)
    )


def _majority(votes: DataFrame) -> DataFrame:
    """``(x, label)`` votes -> ``(node, label)``: each node's most-voted
    label, ties to the lexicographic minimum (the ``(-count, label)``
    min-struct), so the result is partition-order invariant."""
    return (
        votes.groupBy("x", "label")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("x")
        .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("label"))).alias("m"))
        .select(F.col("x").alias("node"), F.col("m.label").alias("label"))
    )


def _degrees(und: DataFrame) -> DataFrame:
    """Undirected degree per endpoint of ``(x, y)`` edges: ``(n, d)``."""
    return (
        und.select(F.col("x").alias("n"))
        .unionAll(und.select(F.col("y").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )


def _oriented(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct undirected edges oriented low(degree, id) -> high."""
    und = _undirected(edges, src, dst)
    deg = _degrees(und)
    dx = deg.select(F.col("n").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("n").alias("y"), F.col("d").alias("dy"))
    j = und.join(dx, "x").join(dy, "y")
    take_xy = (F.col("dx") < F.col("dy")) | (
        (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))
    )
    return j.select(
        F.when(take_xy, F.col("x")).otherwise(F.col("y")).alias("a"),
        F.when(take_xy, F.col("y")).otherwise(F.col("x")).alias("b"),
    )


def _triangles(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Every triangle of the undirected graph once: ``(m, u, v)``."""
    o = _oriented(edges, src, dst).localCheckpoint(eager=False)
    # wedge (u, v) at middle m, BOTH orderings (u != v): the orientation
    # total order is (degree, id), so filtering u < v lexicographically
    # would drop wedges whose closing edge is oriented the other way —
    # instead the closure equi-join keeps exactly the oriented ordering,
    # once per triangle.
    w1 = o.select(F.col("a").alias("m"), F.col("b").alias("u"))
    w2 = o.select(F.col("a").alias("m"), F.col("b").alias("v"))
    wedges = w1.join(w2, "m").filter(F.col("u") != F.col("v"))
    closer = o.select(F.col("a").alias("u"), F.col("b").alias("v"))
    return wedges.join(closer, ["u", "v"])


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle participation counts: ``(node, triangles)``.
    Nodes in no triangle are omitted (join the node table for zeros)."""
    # one corner row per triangle vertex via explode — the unionAll-of-
    # three-projections form re-derived the whole wedge join once per
    # leg (three executions of the O(wedges) step; same multiset of
    # corner nodes either way)
    return (
        _triangles(edges, src, dst)
        .select(F.explode(F.array("m", "u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )


def triangle_total(edges: DataFrame, src: str = "src", dst: str = "dst") -> int:
    """Global triangle count (each triangle counted once)."""
    return _triangles(edges, src, dst).count()


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 40,
) -> DataFrame:
    """Multi-source BFS distances over the DIRECTED edge relation:
    ``(node_id, distance)`` for every node reachable from ``seeds``
    (a one-column DataFrame of seed node ids, distance 0).

    Frontier rounds of ``functions/fixpoint.py``'s :func:`semi_naive`
    (set mode): rounds = graph eccentricity, each one equi-join + one
    min-agg + one anti-join on node-id keys. For 100 TB graphs pre-bucket
    the edge table on ``src`` so every round's join is storage-partitioned.

    Deterministic: distances are unique minima, independent of partition
    order. If ``max_iter`` rounds are exhausted first, the result is a
    PARTIAL distance table (nodes at depth > max_iter are missing, not
    unreachable); the signal's ``converged`` distinguishes the cases on
    high-eccentricity graphs.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    seed = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .withColumn("distance", F.lit(0).cast("long"))
    )

    def step(frontier: DataFrame, _dist: DataFrame) -> DataFrame:
        return (
            frontier.join(e, frontier.node == e.u)
            .select(F.col("v").alias("node"), (F.col("distance") + 1).alias("distance"))
            .groupBy("node")
            .agg(F.min("distance").alias("distance"))
        )

    dist, rounds, converged = semi_naive(seed, step, ["node"], max_iter)
    # converged: the frontier emptied (true BFS completion) rather than a
    # max_iter cut, whose distances are a PARTIAL lower-frontier
    signals.emit("shortest_paths", rounds=rounds, converged=converged)
    return dist.select(F.col("node").alias("node_id"), "distance")


def weighted_shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    max_hops: int = 20,
) -> DataFrame:
    """Hop-bounded weighted shortest paths (Bellman-Ford) from ``seeds``
    over the DIRECTED edge relation: ``(node_id, cost)`` where cost is
    the MINIMUM total edge weight over paths of at most ``max_hops``
    edges. The hop bound is part of the SEMANTICS, not a convergence
    knob: after round r the table holds exactly min-cost over <= r-edge
    paths (textbook Bellman-Ford invariant), so the result is
    well-defined — and oracle-checkable — even on graphs with cycles or
    zero-weight edges, and truncation never yields a value no real path
    achieves. If relaxation quiesces earlier (no cost improved), that is
    the true unbounded shortest path and the loop stops.

    Rounds are ``functions/fixpoint.py``'s :func:`semi_naive` in min
    mode; parallel edges collapse to their min weight once, up front.
    Costs are exact BIGINT sums (no float drift between engines). For
    100 TB graphs pre-bucket the edge table on ``src``.

    Deterministic: min-aggregates only. The signal's ``converged`` is
    True when relaxation quiesced before the hop bound bit.
    """
    e = (
        edges.select(
            F.col(src).alias("u"),
            F.col(dst).alias("v"),
            F.col(weight).cast("long").alias("w"),
        )
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
    )
    seed = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .withColumn("cost", F.lit(0).cast("long"))
    )

    def step(frontier: DataFrame, _dist: DataFrame) -> DataFrame:
        return (
            frontier.join(e, frontier.node == e.u)
            .select(F.col("v").alias("node"), (F.col("cost") + F.col("w")).alias("cost"))
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
        )

    dist, rounds, converged = semi_naive(seed, step, ["node"], max_hops, minimize="cost")
    signals.emit("weighted_shortest_paths", rounds=rounds, converged=converged)
    return dist.select(F.col("node").alias("node_id"), F.col("cost"))


def weighted_paths_oracle_sql(
    edges_cte: str, seed_literal: str, max_hops: int
) -> str:
    """The identical hop-bounded semantics as a bounded recursive CTE:
    enumerate (node, cost, hops) path states up to ``max_hops`` edges and
    take min(cost) per node. ``edges_cte`` must expose (src, dst, weight).
    Exact equality with :func:`weighted_shortest_paths` at the same
    ``max_hops`` by the Bellman-Ford round invariant — no convergence
    assumption needed. UNION (not ALL) dedups repeated path states so the
    recursion is bounded by distinct (node, cost, hops) triples.
    """
    return f"""
        we AS (SELECT src, dst, min(CAST(weight AS BIGINT)) AS w
               FROM {edges_cte} GROUP BY src, dst),
        wreach(node, cost, hops) AS (
          SELECT {seed_literal}, CAST(0 AS BIGINT), 0
          UNION
          SELECT e.dst, r.cost + e.w, r.hops + 1
          FROM wreach r JOIN we e ON e.src = r.node
          WHERE r.hops < {max_hops})
        SELECT node AS node_id, min(cost) AS cost
        FROM wreach GROUP BY node"""


def temporal_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    time: str = "t",
    max_hops: int = 20,
) -> DataFrame:
    """Time-respecting earliest-arrival reachability: ``(node_id,
    earliest_arrival)`` for every node reachable from ``seeds`` along a
    path whose edge times are NON-DECREASING (an infection/influence
    path: each hop happens no earlier than the previous one). Seeds are
    at the origin — their ``earliest_arrival`` is NULL.

    This is the query a provenance/crawl KG actually needs for "what
    could event X have caused": plain reachability overcounts by
    following edges that happened BEFORE the flow arrived. Earliest
    arrival is the right label because a smaller arrival admits a
    superset of onward edges — min-arrival prefixes dominate, so
    propagating per-node minima loses nothing (Wu et al., "Path Problems
    in Temporal Graphs", VLDB'14).

    Same rounds (:func:`semi_naive` min mode) and hop-bound contract as
    :func:`weighted_shortest_paths`: after round r the table holds
    exactly the min arrival over time-respecting paths of <= r edges, so
    truncation is a defined semantics, not an approximation; quiescing
    earlier means the unbounded answer. Edge times are exact BIGINTs.
    Deterministic (min-aggregates only). For 100 TB graphs pre-bucket the
    edge table on ``src``.
    """
    _origin = -(2 ** 62)
    e = edges.select(
        F.col(src).alias("u"),
        F.col(dst).alias("v"),
        F.col(time).cast("long").alias("t"),
    ).distinct()
    # seeds carry _seed=True: they sit at the origin, which no edge time
    # improves on, and report a NULL arrival
    seed = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .select("node", F.lit(_origin).cast("long").alias("arr"),
                F.lit(True).alias("_seed"))
    )

    def step(frontier: DataFrame, _arr: DataFrame) -> DataFrame:
        return (
            frontier.join(e, (frontier.node == e.u) & (e.t >= frontier.arr))
            .select(F.col("v").alias("node"), F.col("t").alias("arr"))
            .groupBy("node")
            .agg(F.min("arr").alias("arr"))
            .withColumn("_seed", F.lit(False))
        )

    arr, rounds, converged = semi_naive(seed, step, ["node"], max_hops, minimize="arr")
    signals.emit("temporal_reachability", rounds=rounds, converged=converged)
    return arr.select(
        F.col("node").alias("node_id"),
        F.when(~F.col("_seed"), F.col("arr")).alias("earliest_arrival"),
    )


def temporal_reachability_oracle_sql(
    edges_cte: str, seed_literal: str, max_hops: int
) -> str:
    """Bounded recursive-CTE restatement of the identical hop-bounded
    earliest-arrival semantics. ``edges_cte`` must expose (src, dst, t)
    with BIGINT t; ``seed_literal`` is a one-seed SQL literal. Seeds
    surface with NULL earliest_arrival, matching the operator."""
    origin = -(2 ** 62)
    return f"""
        te AS (SELECT DISTINCT src, dst, CAST(t AS BIGINT) AS t
               FROM {edges_cte}),
        treach(node, arr, hops) AS (
          SELECT {seed_literal}, CAST({origin} AS BIGINT), 0
          UNION
          SELECT e.dst, e.t, r.hops + 1
          FROM treach r JOIN te e ON e.src = r.node AND e.t >= r.arr
          WHERE r.hops < {max_hops})
        SELECT node AS node_id,
               CASE WHEN node = {seed_literal} THEN NULL
                    ELSE min(arr) END AS earliest_arrival
        FROM treach GROUP BY node"""


def kcore(
    edges: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """K-core decomposition for a fixed ``k``: iteratively peel nodes of
    undirected degree < k until a fixpoint; return the surviving nodes
    with their degree inside the core: ``(node_id, core_degree)``.

    The k-core is the standard "is this node in a genuinely dense region"
    audit (complements triangles: a 2-core strips all tree-like fringe).
    The peel is ``functions/fixpoint.py``'s :func:`semi_naive` in set
    mode growing the set of deleted node ids: each round one degree
    aggregation over the edges with neither endpoint deleted, whose
    nodes below ``k`` join the set. Rounds are bounded by the peel depth
    (degeneracy ordering), tiny for web-like graphs; signal ``rounds``
    counts them, the final round that deletes nothing included. A peel
    cut at ``max_iter`` rounds reports degrees over the edges it left.
    The deleted set is built from
    ``localCheckpoint`` parts (the :func:`semi_naive` storage caveat:
    no lineage, lost with their executor) that the returned frame reads.
    """
    e = _undirected(edges, src, dst).localCheckpoint(eager=True)

    def live(gone: DataFrame) -> DataFrame:
        return (
            e.join(gone.withColumnRenamed("n", "x"), "x", "left_anti")
            .join(gone.withColumnRenamed("n", "y"), "y", "left_anti")
        )

    def peel(_frontier: DataFrame, gone: DataFrame) -> DataFrame:
        return _degrees(live(gone)).filter(F.col("d") < k).select("n")

    nothing = e.select(F.col("x").alias("n")).limit(0)
    gone, rounds, _ = semi_naive(nothing, peel, ["n"], max_iter)
    signals.emit("kcore", rounds=rounds)
    return (
        _degrees(live(gone))
        .filter(F.col("d") >= k)
        .select(F.col("n").alias("node_id"), F.col("d").alias("core_degree"))
    )


def _edge_support(ek: DataFrame) -> DataFrame:
    """Triangles each oriented edge of ``ek`` (``x, y, u, v, dv``, see
    :func:`ktruss`) closes within ``ek``: ``(x, y, support)``, edges in
    no triangle omitted."""
    o1, o2 = ek.alias("o1"), ek.alias("o2")
    wedge = (
        o1.join(o2, F.col("o1.u") == F.col("o2.u"))
        .filter(
            (F.col("o1.dv") < F.col("o2.dv"))
            | ((F.col("o1.dv") == F.col("o2.dv")) & (F.col("o1.v") < F.col("o2.v")))
        )
        .select(
            F.col("o1.u").alias("a"), F.col("o1.v").alias("b"), F.col("o2.v").alias("c")
        )
    )
    tri = wedge.join(
        ek.select(F.col("u").alias("b"), F.col("v").alias("c")), ["b", "c"]
    )

    def und_edge(p: str, q: str) -> Column:
        return F.struct(
            F.least(F.col(p), F.col(q)).alias("x"),
            F.greatest(F.col(p), F.col(q)).alias("y"),
        )

    # one edge row per triangle side via explode — the unionByName-of-
    # three-projections form re-derived the whole wedge join once per
    # leg (same edge multiset either way)
    return (
        tri.select(
            F.explode(
                F.array(und_edge("a", "b"), und_edge("a", "c"), und_edge("b", "c"))
            ).alias("_e")
        )
        .groupBy(F.col("_e.x").alias("x"), F.col("_e.y").alias("y"))
        .agg(F.count(F.lit(1)).alias("support"))
    )


def ktruss(
    edges: DataFrame,
    k: int = 3,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """k-truss of the undirected graph: the maximal subgraph in which
    every edge closes at least ``k - 2`` triangles WITHIN the subgraph
    (Cohen 2008). Stronger cohesion than k-core — a hub with many
    non-adjacent neighbors survives the core peel but not the truss peel
    — so this is the audit operator that separates genuinely clustered
    entity neighborhoods from boilerplate stars the core number misses.

    Returns surviving edges as ``(x, y, support)`` with ``x < y`` and
    support = triangles the edge closes in the returned subgraph — also
    when ``max_iter`` cuts the peel short.

    The peel is ``functions/fixpoint.py``'s :func:`semi_naive` in set
    mode growing the set of deleted ``(x, y)`` edge keys: each round
    counts per-edge triangle support over the edges not yet deleted with
    the degree-ORIENTED wedge join (the triangle_count device — wedge
    fan-out bounded by O(sqrt(E)) per node, no last-reducer hub), and
    edges below ``k - 2`` join the set. Each round is two equi-joins +
    one count agg on edge keys; rounds = peel depth (small in practice),
    the final round that deletes nothing included. Converged vs truncated
    lands in the signal (the kcore/shortest_paths contract). The deleted
    set is built from ``localCheckpoint`` parts (the :func:`semi_naive`
    storage caveat: no lineage, lost with their executor) that the
    returned frame reads. Deterministic: counts and thresholds only.
    """
    und = _undirected(edges, src, dst).localCheckpoint(eager=True)
    # DEGREE-oriented wedge enumeration (the triangle_count device):
    # every edge orients from its lower-(degree, id) endpoint to the
    # higher, wedges fan out at u over its OUT-edges, and the closure
    # edge (v, w) is oriented v->w by the same total order — each
    # triangle exactly once, out-degree bounded by O(sqrt(E)). Keying
    # the wedge self-join on the lexicographic-low endpoint instead
    # melts down on a hub that sorts low: ALL its d edges share one join
    # key -> d^2 wedge candidates per peel round (measured 2.7x
    # zipf/uniform in tools/bench_skew.py's graph leg). The orientation
    # only needs A total order, not the current subgraph's degrees — so
    # it is computed ONCE from the input degrees and rides along through
    # the peel.
    deg = _degrees(und)
    ed = (
        und.join(deg.select(F.col("n").alias("x"), F.col("d").alias("dx")), "x")
        .join(deg.select(F.col("n").alias("y"), F.col("d").alias("dy")), "y")
    )
    low_first = (F.col("dx") < F.col("dy")) | (
        (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))
    )
    ek = ed.select(
        "x", "y",
        F.when(low_first, F.col("x")).otherwise(F.col("y")).alias("u"),
        F.when(low_first, F.col("y")).otherwise(F.col("x")).alias("v"),
        F.when(low_first, F.col("dy")).otherwise(F.col("dx")).alias("dv"),
    ).localCheckpoint(eager=True)

    def with_support(gone: DataFrame) -> DataFrame:
        # edges in no triangle keep support 0 (a k=2 truss returns them)
        live = ek.join(gone, ["x", "y"], "left_anti")
        return live.join(_edge_support(live), ["x", "y"], "left").select(
            "x", "y",
            F.coalesce(F.col("support"), F.lit(0)).cast("long").alias("support"),
        )

    def peel(_frontier: DataFrame, gone: DataFrame) -> DataFrame:
        return with_support(gone).filter(F.col("support") < k - 2).select("x", "y")

    nothing = ek.select("x", "y").limit(0)
    gone, rounds, converged = semi_naive(nothing, peel, ["x", "y"], max_iter)
    signals.emit("ktruss", rounds=rounds, converged=converged)
    return with_support(gone)


def ktruss_oracle_sql(edges_cte: str, k: int, rounds: int) -> str:
    """The identical peel unrolled to ``rounds`` SQL CTE rounds (the
    kcore_oracle_sql device; every round MATERIALIZED for the same
    fan-out reason). Equals ``ktruss(..., max_iter=rounds)``, and so the
    Spark fixpoint whenever the peel converges within ``rounds`` — pin
    with the convergence metric."""
    parts = [
        f"""tund0 AS MATERIALIZED (
          SELECT DISTINCT least(src, dst) AS x, greatest(src, dst) AS y
          FROM {edges_cte} WHERE src <> dst)"""
    ]
    for r in range(rounds):
        parts.append(
            f"""tsup{r} AS MATERIALIZED (
              SELECT x, y, count(*) AS support FROM (
                SELECT e1.x AS x, e1.y AS y FROM tund{r} e1
                JOIN tund{r} e2 ON e2.x = e1.x AND e1.y < e2.y
                JOIN tund{r} e3 ON e3.x = e1.y AND e3.y = e2.y
                UNION ALL
                SELECT e1.x, e2.y FROM tund{r} e1
                JOIN tund{r} e2 ON e2.x = e1.x AND e1.y < e2.y
                JOIN tund{r} e3 ON e3.x = e1.y AND e3.y = e2.y
                UNION ALL
                SELECT e1.y, e2.y FROM tund{r} e1
                JOIN tund{r} e2 ON e2.x = e1.x AND e1.y < e2.y
                JOIN tund{r} e3 ON e3.x = e1.y AND e3.y = e2.y)
              GROUP BY x, y)"""
        )
        parts.append(
            f"""tund{r + 1} AS MATERIALIZED (
              SELECT e.x, e.y FROM tund{r} e
              JOIN tsup{r} s ON s.x = e.x AND s.y = e.y
              WHERE s.support >= {k - 2})"""
        )
    final = f"""
        SELECT e.x, e.y,
               CAST(coalesce(s.support, 0) AS BIGINT) AS support
        FROM tund{rounds} e
        LEFT JOIN (
          SELECT x, y, count(*) AS support FROM (
            SELECT e1.x AS x, e1.y AS y FROM tund{rounds} e1
            JOIN tund{rounds} e2 ON e2.x = e1.x AND e1.y < e2.y
            JOIN tund{rounds} e3 ON e3.x = e1.y AND e3.y = e2.y
            UNION ALL
            SELECT e1.x, e2.y FROM tund{rounds} e1
            JOIN tund{rounds} e2 ON e2.x = e1.x AND e1.y < e2.y
            JOIN tund{rounds} e3 ON e3.x = e1.y AND e3.y = e2.y
            UNION ALL
            SELECT e1.y, e2.y FROM tund{rounds} e1
            JOIN tund{rounds} e2 ON e2.x = e1.x AND e1.y < e2.y
            JOIN tund{rounds} e3 ON e3.x = e1.y AND e3.y = e2.y)
          GROUP BY x, y) s ON s.x = e.x AND s.y = e.y"""
    return ",\n".join(parts) + final


def kcore_oracle_sql(edges_cte: str, k: int, rounds: int) -> str:
    """Unrolled peel rounds as SQL CTEs (same device as the PageRank
    oracle): ``edges_cte`` must name a relation with columns (src, dst).
    Equals the Spark fixpoint whenever the fixpoint is reached within
    ``rounds`` — pick rounds > the fixture's peel depth (asserted by the
    convergence metric in tests).

    Every round CTE is MATERIALIZED: each is referenced 3x by the next
    round, so DuckDB's default inlining would expand the chain 3^rounds
    times (file-handle exhaustion on the base scan, let alone the work).
    """
    parts = [
        f"""und0 AS MATERIALIZED (
          SELECT DISTINCT least(src, dst) AS x, greatest(src, dst) AS y
          FROM {edges_cte} WHERE src <> dst)"""
    ]
    for r in range(rounds):
        parts.append(
            f"""d{r} AS MATERIALIZED (
              SELECT n, count(*) AS c FROM (
                SELECT x AS n FROM und{r} UNION ALL SELECT y FROM und{r})
              GROUP BY n)"""
        )
        parts.append(
            f"""und{r + 1} AS MATERIALIZED (
              SELECT e.x, e.y FROM und{r} e
              JOIN d{r} a ON a.n = e.x AND a.c >= {k}
              JOIN d{r} b ON b.n = e.y AND b.c >= {k})"""
        )
    final = f"""
        SELECT n AS node_id, CAST(c AS BIGINT) AS core_degree FROM (
          SELECT n, count(*) AS c FROM (
            SELECT x AS n FROM und{rounds} UNION ALL SELECT y FROM und{rounds})
          GROUP BY n)
        WHERE c >= {k}"""
    return ",\n".join(parts) + final


def node_features(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """One feature row per node of the edge relation — the table a
    GNN/embedding trainer or anomaly scorer consumes: undirected degree,
    triangle participation, fixed-point PageRank, and connected-component
    id. Pure composition of the existing operators (each keeps its own
    scale shape: degree-oriented wedges, star contraction, O(1)-round
    integer PageRank), stitched with node-id equi-joins — uniform keys,
    zero-filled where a node has no triangles.

    Returns ``(node_id, degree, triangles, pagerank, component)``.
    """
    from sigraph_spark.operators.linking import connected_components

    und = _undirected(edges, src, dst).localCheckpoint(eager=False)
    deg = _degrees(und).select(
        F.col("n").alias("node_id"), F.col("d").alias("degree")
    )
    tri = triangle_count(edges, src, dst).select(
        F.col("node").alias("node_id"), F.col("triangles").cast("long")
    )
    pr = pagerank(edges, src, dst).select(
        F.col("node").alias("node_id"), F.col("rank").alias("pagerank")
    )
    cc = connected_components(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    ).select(F.col("entity").alias("node_id"), F.col("canonical_id").alias("component"))
    return (
        deg.join(tri, "node_id", "left")
        .join(pr, "node_id", "left")
        .join(cc, "node_id", "left")
        .select(
            "node_id",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
            "pagerank",
            F.coalesce(F.col("component"), F.col("node_id")).alias("component"),
        )
    )


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Semi-supervised label propagation over the undirected graph:
    seed nodes carry fixed labels; each round every node adopts the
    MAJORITY label among its labeled neighbors (ties -> lexicographic
    minimum, so the whole process is deterministic on any partitioning);
    seeds stay clamped. Fixed ``rounds`` — the pagerank-style contract
    that lets the oracle unroll the identical rounds in SQL.

    The KG use: a handful of curated node labels (malware family,
    benign-infra, campaign) spread over the behavior graph to classify
    the unlabeled mass. Per round: one neighbor join + one (node, label)
    count + one min-struct argmax — all uniform node keys; hub fan-in
    aggregates map-side because count is algebraic.

    Returns ``(node_id, label)`` for every node reached by a label.
    """
    und = _two_way(edges, src, dst)
    seed_df = seeds.select(
        F.col(seeds.columns[0]).alias("node"), F.col(seeds.columns[1]).alias("label")
    ).localCheckpoint(eager=False)
    labels = seed_df
    for _ in range(rounds):
        best = _majority(und.join(labels, und.y == labels.node).select("x", "label"))
        labels = seed_df.unionByName(
            best.join(seed_df.select("node"), "node", "left_anti")
        ).localCheckpoint(eager=False)
    return labels.select(F.col("node").alias("node_id"), "label")


def label_propagation_oracle_sql(
    edges_cte: str, seeds_cte: str, rounds: int
) -> str:
    """Unrolled-round SQL restatement over relations (src, dst) and
    (node, label). DISTINCT-over-UNION-ALL everywhere — a bare A UNION B
    CTE degrades to UNION ALL under a composed WITH RECURSIVE list (see
    pagerank_oracle_sql)."""
    parts = [
        f"""lp_und AS MATERIALIZED (
          SELECT DISTINCT x, y FROM (
            SELECT src AS x, dst AS y FROM {edges_cte}
            UNION ALL SELECT dst, src FROM {edges_cte})
          WHERE x <> y),
        lp_l0 AS MATERIALIZED (SELECT node, label FROM {seeds_cte})"""
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"""lp_b{t} AS MATERIALIZED (
              SELECT node, label FROM (
                SELECT u.x AS node, l.label,
                       row_number() OVER (
                         PARTITION BY u.x
                         ORDER BY count(*) DESC, l.label ASC) AS rn
                FROM lp_und u JOIN lp_l{t - 1} l ON l.node = u.y
                GROUP BY u.x, l.label)
              WHERE rn = 1)"""
        )
        parts.append(
            f"""lp_l{t} AS MATERIALIZED (
              SELECT node, label FROM lp_l0
              UNION ALL
              SELECT node, label FROM lp_b{t}
              WHERE node NOT IN (SELECT node FROM lp_l0))"""
        )
    return ",\n".join(parts) + f"""
        SELECT node AS node_id, label FROM lp_l{rounds}"""


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_cn: int = 1,
    max_center_degree: int | None = None,
) -> DataFrame:
    """Structural link-prediction scores over the undirected KG — the
    KG-completion primitive (which missing edges does the topology
    suggest?). For every non-adjacent pair (u, v) with at least
    ``min_cn`` common neighbors:

    * ``cn``      — common-neighbor count |Γ(u) ∩ Γ(v)|,
    * ``jaccard`` — cn / |Γ(u) ∪ Γ(v)| = cn / (deg(u)+deg(v)−cn),
    * ``adamic_adar`` — Σ_{w ∈ Γ(u)∩Γ(v)} 1/ln(deg(w))
      (Adamic & Adar 2003; a shared *rare* neighbor is stronger
      evidence than a shared hub — deg(w) ≥ 2 over wedges, so the log
      never hits zero).

    Returns ``(u, v, cn, adamic_adar, jaccard)`` with u < v, floats at
    6dp (the per-pair sum spans few centers — reorderings stay far
    inside the rounding grid).

    Scale shape: one self-join of the adjacency on the wedge center —
    a degree-d center emits d(d-1)/2 candidate pairs, so the Zipf head
    is the hot spot. ``max_center_degree`` applies the standard hub cap
    (drop centers above the threshold BEFORE the join; a 10^6-degree
    boilerplate hub contributes ≤ 1/ln(10^6) ≈ 0.07 per pair while
    costing 10^12 wedges — at web scale you always cap). The remaining
    joins are broadcast-able degree lookups plus one anti-join against
    the existing edge set.
    """
    und = _undirected(edges, src, dst)
    adj = und.select(F.col("x").alias("n"), F.col("y").alias("nb")).unionAll(
        und.select(F.col("y").alias("n"), F.col("x").alias("nb"))
    )
    deg = adj.groupBy("n").agg(F.count(F.lit(1)).alias("d"))
    centers = adj.join(deg, "n")
    if max_center_degree is not None:
        centers = centers.filter(F.col("d") <= max_center_degree)
    w1 = centers.select("n", F.col("nb").alias("u"), "d")
    w2 = adj.select("n", F.col("nb").alias("v"))
    pair = (
        w1.join(w2, "n")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum(F.lit(1.0) / F.log(F.col("d").cast("double"))).alias("aa"),
        )
        .filter(F.col("cn") >= min_cn)
    )
    new_pairs = pair.join(
        und,
        (pair["u"] == und["x"]) & (pair["v"] == und["y"]),
        "left_anti",
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    return (
        new_pairs.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            F.col("cn").cast("long").alias("cn"),
            F.round("aa", 6).alias("adamic_adar"),
            F.round(
                F.col("cn").cast("double")
                / (F.col("du") + F.col("dv") - F.col("cn")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def _within(e: DataFrame, nodes: DataFrame) -> DataFrame:
    """The ``(u, v)`` edges of ``e`` with both endpoints in ``nodes``."""
    return (
        e.join(nodes.withColumnRenamed("node", "u"), "u", "left_semi")
        .join(nodes.withColumnRenamed("node", "v"), "v", "left_semi")
    )


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_peel: int = 12,
    max_prop: int = 60,
) -> DataFrame:
    """Strongly connected components of the DIRECTED edge relation:
    ``(node_id, scc_id)`` with ``scc_id`` = min node id in the component
    (deterministic). The directed complement to ``linking``'s undirected
    CC — for a KG it separates genuine cyclic entity clusters (mutual
    provenance) from the DAG bulk.

    Algorithm: FW-BW-Trim with coloring (Orzan; McLendon et al.):

    * **Trim** peels trivial SCCs — nodes lacking in- or out-edges
      within the remaining subgraph — iteratively (kills DAG chains
      that would otherwise cost one peel round per node).
    * **Color**: forward min-label propagation to fixpoint, at most
      ``max_prop`` rounds; ``c(v)`` = min id among remaining nodes that
      reach v. Each color class has one root (the node equal to its
      color).
    * **Backward sweep**: from all roots at once, walk reversed edges
      restricted to the root's own color class; everything reached is
      exactly the root's SCC (mutual reachability through the root).
    * Remove finished SCCs, repeat.

    Trim, coloring and sweep are ``functions/fixpoint.py``'s
    :func:`semi_naive`: the trim in set mode growing the set of trimmed
    node ids (each round one in/out-degree test on the remaining nodes
    not yet trimmed), the coloring in min mode, the sweep in set mode —
    equi-joins on node keys (uniform after hash partitioning). At
    100 TB the edge table should be bucketed on both endpoints so the
    repeated joins are storage-partitioned. Rounds are data-dependent:
    check the signal's ``converged`` — on truncation (``max_peel`` peels,
    or a coloring cut at ``max_prop`` rounds) the unassigned remainder is
    NOT emitted (absent rows, never wrong labels). The returned frame
    reads ``localCheckpoint`` parts (the :func:`semi_naive` storage
    caveat: no lineage, lost with their executor).
    """
    e_all = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    remaining = (
        e_all.select(F.col("u").alias("node"))
        .unionByName(e_all.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    assigned = None
    converged = False
    peels = 0

    def _acc(base: DataFrame | None, extra: DataFrame) -> DataFrame:
        return extra if base is None else base.unionByName(extra)

    for _ in range(max_peel):
        if remaining.isEmpty():
            converged = True
            break
        # --- trim: peel nodes without both in- and out-edges ----------
        def trim(_frontier: DataFrame, gone: DataFrame) -> DataFrame:
            live = remaining.join(gone, "node", "left_anti")
            e_live = _within(e_all, live)
            has_out = e_live.select(F.col("u").alias("node")).distinct()
            has_in = e_live.select(F.col("v").alias("node")).distinct()
            nontrivial = has_out.join(has_in, "node", "left_semi")
            return live.join(nontrivial, "node", "left_anti")

        trivial = semi_naive(remaining.limit(0), trim, ["node"], None)[0]
        assigned = _acc(assigned, trivial.select("node", F.col("node").alias("scc_id")))
        remaining = remaining.join(trivial, "node", "left_anti").localCheckpoint(
            eager=False
        )
        e_rem = _within(e_all, remaining).localCheckpoint(eager=False)
        if remaining.isEmpty():
            converged = True
            break
        peels += 1  # counts FW-BW phases; trim-only resolution costs none
        # --- forward min-label coloring to fixpoint -------------------
        def push(frontier: DataFrame, _color: DataFrame) -> DataFrame:
            return (
                frontier.join(e_rem, frontier.node == e_rem.u)
                .groupBy(F.col("v").alias("node"))
                .agg(F.min("color").alias("color"))
            )

        seed = remaining.select("node", F.col("node").alias("color"))
        color, _, colored = semi_naive(seed, push, ["node"], max_prop, minimize="color")
        if not colored:
            # partial colors would split cycles into wrong labels
            break
        # --- backward sweep from roots within color classes -----------
        def sweep(frontier: DataFrame, _member: DataFrame) -> DataFrame:
            cand = (
                frontier.join(e_rem, frontier.node == e_rem.v)
                .select(F.col("u").alias("node"), "color")
            )
            return cand.join(color, ["node", "color"], "left_semi").distinct()

        roots = color.filter(F.col("node") == F.col("color"))
        member = semi_naive(roots, sweep, ["node"], None)[0]
        assigned = _acc(assigned, member.select("node", F.col("color").alias("scc_id")))
        remaining = remaining.join(member, "node", "left_anti").localCheckpoint(
            eager=True
        )
    else:
        converged = remaining.isEmpty()
    signals.emit("strongly_connected_components", peels=peels, converged=converged)
    out = assigned
    if out is None:
        out = e_all.sparkSession.createDataFrame(
            [], "node string, scc_id string"
        )
    return out.select(F.col("node").alias("node_id"), "scc_id")


def condensation(
    edges: DataFrame,
    scc: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Contract each SCC to one node: the condensation DAG. ``scc`` is
    the ``(node_id, scc_id)`` mapping from
    :func:`strongly_connected_components`. Returns distinct
    ``(src_scc, dst_scc)`` pairs with src_scc != dst_scc — acyclic by
    construction. Two broadcast-able mapping joins + one distinct."""
    m_src = scc.select(F.col("node_id").alias("_u"), F.col("scc_id").alias("src_scc"))
    m_dst = scc.select(F.col("node_id").alias("_v"), F.col("scc_id").alias("dst_scc"))
    return (
        edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v"))
        .join(m_src, "_u")
        .join(m_dst, "_v")
        .filter(F.col("src_scc") != F.col("dst_scc"))
        .select("src_scc", "dst_scc")
        .distinct()
    )


def topo_levels(
    dag: DataFrame,
    src: str = "src_scc",
    dst: str = "dst_scc",
    max_iter: int = 100,
) -> DataFrame:
    """Longest-path layering of a DAG: ``(node_id, level)`` with sources
    at level 0 and ``level(v) = 1 + max(level(u) : u→v)`` — the standard
    scheduling/critical-path view (nodes at the same level are mutually
    unordered and can process in parallel). Rounds are
    ``functions/fixpoint.py``'s :func:`semi_naive` in min mode on the
    negated level (longest path = min of ``-level``): each round one
    equi-join + min-agg over the nodes raised last round; rounds = DAG
    depth + 1. Raises ValueError if ``max_iter`` rounds don't converge —
    on a true DAG that means depth >= max_iter; on a cyclic input levels
    would diverge, so failing loudly beats looping forever."""
    e = dag.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    e = e.localCheckpoint(eager=True)
    seed = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
        .withColumn("neg", F.lit(0).cast("long"))
    )

    def step(frontier: DataFrame, _lvl: DataFrame) -> DataFrame:
        return (
            frontier.join(e, frontier.node == e.u)
            .groupBy(F.col("v").alias("node"))
            .agg(F.min(F.col("neg") - 1).alias("neg"))
        )

    lvl, rounds, converged = semi_naive(seed, step, ["node"], max_iter, minimize="neg")
    if not converged:
        raise ValueError(
            f"topo_levels did not converge in {max_iter} rounds "
            "(cyclic input or depth > max_iter)"
        )
    signals.emit("topo_levels", rounds=rounds, converged=True)
    return lvl.select(F.col("node").alias("node_id"), (-F.col("neg")).alias("level"))


def communities_lpa(
    edges: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Unseeded community detection: synchronous label propagation
    (Raghavan et al. 2007) made deterministic. Every node starts in its
    own community (label = its id); each round a node adopts the
    MAJORITY label among its neighbors PLUS one self-vote for its
    current label (ties -> lexicographic minimum). The self-vote damps
    the classic synchronous-LPA oscillation on bipartite structures and
    makes singletons stable; the deterministic tie-break makes the
    result partition-order invariant, so the oracle can unroll the
    identical rounds in SQL and hash-match.

    Fixed ``rounds`` (the pagerank contract): near-linear work per round
    — one neighbor join on uniform node keys + one algebraic count that
    absorbs hub fan-in map-side + one min-struct argmax. LPA converges
    in a handful of rounds on real graphs; callers needing a residual
    diff two runs. Returns ``(node_id, community)`` for every node with
    at least one edge; community ids are representative node ids (the
    dense-rank renumbering is the caller's presentation concern).
    """
    und = _two_way(edges, src, dst)
    labels = (
        und.select(F.col("x").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    for _ in range(rounds):
        nb = und.join(labels, und.y == labels.node).select("x", "label")
        self_vote = labels.select(F.col("node").alias("x"), "label")
        labels = _majority(nb.unionAll(self_vote)).localCheckpoint(eager=False)
    return labels.select(F.col("node").alias("node_id"), F.col("label").alias("community"))


def communities_oracle_sql(
    edges_cte: str, rounds: int, final_select: bool = True
) -> str:
    """Unrolled-round SQL restatement of :func:`communities_lpa` over a
    relation (src, dst). Same self-vote + (count DESC, label ASC)
    tie-break, so the match is exact. ``final_select=False`` ends after
    the last label CTE ``cm_l{rounds}`` for composition."""
    parts = [
        f"""cm_und AS MATERIALIZED (
          SELECT DISTINCT x, y FROM (
            SELECT src AS x, dst AS y FROM {edges_cte}
            UNION ALL SELECT dst, src FROM {edges_cte})
          WHERE x <> y),
        cm_l0 AS MATERIALIZED (
          SELECT DISTINCT x AS node, x AS label FROM cm_und)"""
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"""cm_l{t} AS MATERIALIZED (
              SELECT node, label FROM (
                SELECT x AS node, label,
                       row_number() OVER (
                         PARTITION BY x
                         ORDER BY count(*) DESC, label ASC) AS rn
                FROM (
                  SELECT u.x, l.label
                  FROM cm_und u JOIN cm_l{t - 1} l ON l.node = u.y
                  UNION ALL
                  SELECT node AS x, label FROM cm_l{t - 1})
                GROUP BY x, label)
              WHERE rn = 1)"""
        )
    sql = ",\n".join(parts)
    if final_select:
        sql += f"""
        SELECT node AS node_id, label AS community FROM cm_l{rounds}"""
    return sql


def hyperball(
    edges: DataFrame,
    p: int = 8,
    radii: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HyperBall (Boldi & Vigna 2013): the per-node neighborhood
    function — |{u : dist(v, u) <= r}| for every node and radius — via
    per-node HLL sketches, the algorithm that computed distance
    distributions on 10^11-edge web graphs. Exact per-source BFS is
    O(V * E); HyperBall keeps ONE mergeable register set per node
    (m = 2^p counters) and max-merges neighbors' sketches each round,
    so radius r costs r edge-joins total for ALL sources at once.
    Downstream: closeness/harmonic centrality, effective diameter, the
    reference's "blast radius" panels at sizes where exact BFS per
    node is off the table.

    Register arithmetic is the portable integer HLL of
    ``operators/sketches.py`` (md5 family, max-merge semilattice), so
    every round is partition-order invariant and the unrolled oracle
    matches the registers AND the estimates exactly. Per round: one
    edge join + one algebraic (node, reg) max — hub fan-in collapses
    map-side; state is |V| * m rows, independent of radius.

    Returns ``(node, r, n_registers, estimate)`` for r in 1..radii,
    estimate ≈ |ball(node, r)| (ball includes the node itself;
    following OUT-edges).
    """
    from sigraph_spark.operators.sketches import hll_estimate, hll_rho

    e = (
        edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("x").alias("node"))
        .unionByName(e.select(F.col("y").alias("node")))
        .distinct()
    )
    idx, rho = hll_rho(F.col("node"), p)
    regs = nodes.select(
        "node", idx.alias("reg"), rho.alias("rho")
    ).localCheckpoint(eager=False)
    out = None
    for t in range(1, radii + 1):
        contrib = (
            e.join(regs.withColumnRenamed("node", "y"), "y")
            .select(F.col("x").alias("node"), "reg", "rho")
        )
        regs = (
            regs.unionByName(contrib)
            .groupBy("node", "reg")
            .agg(F.max("rho").alias("rho"))
            .localCheckpoint(eager=False)
        )
        est = hll_estimate(regs, ["node"], p).select(
            "node", F.lit(t).alias("r"), "n_registers", "estimate"
        )
        out = est if out is None else out.unionByName(est)
    return out


def hyperball_oracle_sql(edges_cte: str, p: int, radii: int) -> str:
    """Unrolled-round DuckDB restatement of :func:`hyperball`: identical
    register init, max-merge rounds, and estimator branches."""
    from sigraph_spark.operators.sketches import (
        _alpha, hll_hash_sql, hll_rho_sql,
    )

    reg, rho = hll_rho_sql("node", p)
    m = 1 << p
    am2, lim, fm = repr(_alpha(m) * m * m), repr(2.5 * m), repr(float(m))
    parts = [
        f"""hb_e AS MATERIALIZED (
          SELECT DISTINCT src AS x, dst AS y FROM {edges_cte}),
        hb_nodes AS (
          SELECT DISTINCT node FROM (
            SELECT x AS node FROM hb_e UNION ALL SELECT y FROM hb_e)),
        hb_s0 AS MATERIALIZED (
          SELECT node, {reg} AS reg, {rho} AS rho FROM (
            SELECT node, {hll_hash_sql("node")} AS h FROM hb_nodes))"""
    ]
    selects = []
    for t in range(1, radii + 1):
        parts.append(
            f"""hb_s{t} AS MATERIALIZED (
              SELECT node, reg, max(rho) AS rho FROM (
                SELECT e.x AS node, r.reg, r.rho
                FROM hb_e e JOIN hb_s{t - 1} r ON r.node = e.y
                UNION ALL
                SELECT node, reg, rho FROM hb_s{t - 1})
              GROUP BY node, reg)"""
        )
        parts.append(
            f"""hb_a{t} AS (
              SELECT node, CAST(count(*) AS BIGINT) AS n_registers,
                     sum(power(0.5, rho)) + ({m} - count(*)) AS s,
                     {m} - count(*) AS zeros
              FROM hb_s{t} GROUP BY node)"""
        )
        selects.append(
            f"""SELECT node, {t} AS r, n_registers,
               round(CASE WHEN {am2} / s <= {lim} AND zeros > 0
                     THEN {fm} * ln({fm} / zeros)
                     ELSE {am2} / s END, 6) AS estimate
            FROM hb_a{t}"""
        )
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


def modularity(
    edges: DataFrame,
    assignment: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Newman modularity Q of a community assignment over the
    undirected graph — the standard "is this partition better than
    chance" score for :func:`communities_lpa` output. One row:
    ``(m_edges, n_communities, q_num, q)`` where
    ``q_num = 4*m^2*Q = sum_c (4*m*e_c - d_c^2)`` is EXACT BIGINT
    (e_c = intra-community edges, d_c = total degree of c) and
    ``q = q_num / (4*m^2)`` rounded to 6dp. Keeping the numerator
    integer makes the score partition-order invariant and
    engine-exact — the float division happens once at the end.

    ``assignment`` needs columns (node_id, community). Work: one edge
    join onto the assignment (x2), one degree agg, one community agg —
    all algebraic.
    """
    und = _undirected(edges, src, dst).localCheckpoint(eager=False)
    a = assignment.select(
        F.col(assignment.columns[0]).alias("node"),
        F.col(assignment.columns[1]).alias("c"),
    )
    lab = (
        und.join(a.withColumnRenamed("node", "x"), "x")
        .withColumnRenamed("c", "cx")
        .join(
            a.withColumnRenamed("node", "y").withColumnRenamed("c", "cy"),
            "y",
        )
    )
    # intra-edge counts and community degree from ONE scan of the
    # labeled edge table: the earlier filter+groupBy plus a two-leg
    # unionAll re-derived lab (a double join) three times and then paid
    # a join to recombine. Exploding both endpoint labels with an
    # intra flag gives the same numbers — every undirected edge adds 1
    # to both endpoint communities (d = count), and an intra edge
    # contributes its flag twice, so e_in = sum(flag) DIV 2 exactly
    # (the sum is always even).
    per_c = (
        lab.select(
            F.explode(F.array("cx", "cy")).alias("c"),
            (F.col("cx") == F.col("cy")).cast("long").alias("_i"),
        )
        .groupBy("c")
        .agg(
            F.expr("sum(_i) DIV 2").cast("long").alias("e_in"),
            F.count(F.lit(1)).cast("long").alias("d"),
        )
        .select("c", "e_in", "d")
    )
    stats = und.agg(F.count(F.lit(1)).cast("long").alias("m")).crossJoin(
        per_c.agg(
            F.count(F.lit(1)).cast("long").alias("n_communities"),
            F.sum("e_in").alias("_se"),
            F.sum(F.col("d") * F.col("d")).alias("_sd2"),
        )
    )
    return stats.select(
        F.col("m").alias("m_edges"),
        "n_communities",
        (F.lit(4) * F.col("m") * F.col("_se") - F.col("_sd2"))
        .cast("long")
        .alias("q_num"),
        F.round(
            (F.lit(4) * F.col("m") * F.col("_se") - F.col("_sd2"))
            / (F.lit(4.0) * F.col("m") * F.col("m")),
            6,
        ).alias("q"),
    )


# --- HITS hubs & authorities (Kleinberg, JACM'99) --------------------------

HITS_SCALE = 10**9


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 4,
) -> DataFrame:
    """HITS hubs/authorities over distinct (src, dst) pairs:
    ``(node, auth_fp, hub_fp, auth, hub)``.

    Same exactness contract as :func:`sigraph_spark.operators.pagerank.
    pagerank`: all mutual-reinforcement arithmetic is BIGINT fixed-point
    (``HITS_SCALE`` units), so results are partition-order invariant and
    bit-identical across engines. Kleinberg's L2 normalization is replaced
    by L1 (scores sum to HITS_SCALE) — rankings are identical under any
    positive rescaling, and L1 keeps every step in exact integer division
    (the DuckDB gate oracle reproduces it with ``//``). HITS_SCALE = 10^9
    bounds the per-step product: raw sums <= HITS_SCALE, so
    raw * HITS_SCALE <= 10^18 < 2^63 (ANSI mode would raise on overflow,
    loudly, not wrap).

    One shuffle per half-step (edge join on the moving side + algebraic
    sum); the L1 total is a single-row aggregate broadcast into the
    normalization projection. Fixed ``rounds``, no convergence polling —
    the pagerank precedent, same reasoning.
    """
    e, nodes = _edge_set(edges, src, dst)
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("auth_fp"),
            F.lit(0).cast("long").alias("hub_fp"),
            F.lit(0.0).alias("auth"), F.lit(0.0).alias("hub"),
        )
    # per-half-round lineage truncation: the normalization subtree embeds
    # the full prior lineage twice (raw + its total), so an un-checkpointed
    # loop hands Catalyst an exponentially growing plan (measured: 115s of
    # pure planning for a 6-edge graph at rounds=4) — same device as the
    # chase/shortest_paths loops
    nodes = nodes.localCheckpoint(eager=True)
    e = e.drop("w").localCheckpoint(eager=True)
    hub = nodes.select("node", F.lit(HITS_SCALE // n).cast("long").alias("fp"))
    auth = None
    for _ in range(rounds):
        araw = (
            e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("fp").alias("raw"))
        )
        auth = _l1_normalize(nodes, araw).localCheckpoint(eager=True)
        hraw = (
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("fp").alias("raw"))
        )
        hub = _l1_normalize(nodes, hraw).localCheckpoint(eager=True)
    return (
        nodes.join(auth.withColumnRenamed("fp", "auth_fp"), "node", "left")
        .join(hub.withColumnRenamed("fp", "hub_fp"), "node", "left")
        .select(
            "node",
            F.coalesce("auth_fp", F.lit(0)).cast("long").alias("auth_fp"),
            F.coalesce("hub_fp", F.lit(0)).cast("long").alias("hub_fp"),
        )
        .select(
            "node", "auth_fp", "hub_fp",
            F.round(F.col("auth_fp") / F.lit(HITS_SCALE), 6).alias("auth"),
            F.round(F.col("hub_fp") / F.lit(HITS_SCALE), 6).alias("hub"),
        )
    )


def _l1_normalize(nodes: DataFrame, raw: DataFrame) -> DataFrame:
    """(node, raw) -> (node, fp) with sum(fp) ~= HITS_SCALE in exact
    integer division; zero vector stays zero (S=0 guard)."""
    total = raw.agg(F.sum("raw").alias("_s"))
    return (
        nodes.join(raw, "node", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "node",
            F.when(
                F.col("_s") > 0,
                F.expr(f"(coalesce(raw, 0) * {HITS_SCALE}) DIV _s"),
            ).otherwise(F.lit(0)).cast("long").alias("fp"),
        )
    )


def hits_oracle_sql(
    edges_rel: str, n_nodes: int | None = None, rounds: int = 4
) -> str:
    """Unrolled-CTE ANSI restatement of :func:`hits` (exact integer
    parity). ``edges_rel``: relation with string src, dst. Returns CTE
    text ending with a ``hits_out`` relation (node, auth_fp, hub_fp,
    auth, hub). ``n_nodes``: exact node count as a literal, or None to
    derive it with a scalar subquery."""
    S = HITS_SCALE
    n_expr = str(n_nodes) if n_nodes else "(SELECT count(*) FROM ht_n)"
    parts = [f"""
        ht_e AS (SELECT DISTINCT src, dst FROM {edges_rel}),
        ht_n AS (SELECT src AS node FROM ht_e UNION SELECT dst FROM ht_e),
        ht_h0 AS MATERIALIZED (SELECT node, CAST({S} // {n_expr} AS BIGINT) AS fp FROM ht_n)"""]
    h_prev = "ht_h0"
    for r in range(1, rounds + 1):
        parts.append(f"""
        ht_ar{r} AS MATERIALIZED (
          SELECT e.dst AS node, CAST(sum(h.fp) AS BIGINT) AS raw
          FROM ht_e e JOIN {h_prev} h ON h.node = e.src GROUP BY e.dst),
        ht_as{r} AS MATERIALIZED (SELECT CAST(sum(raw) AS BIGINT) AS s FROM ht_ar{r}),
        ht_a{r} AS MATERIALIZED (
          SELECT n.node,
                 CASE WHEN t.s > 0
                      THEN (coalesce(r.raw, 0) * {S}) // t.s
                      ELSE 0 END AS fp
          FROM ht_n n LEFT JOIN ht_ar{r} r ON n.node = r.node, ht_as{r} t),
        ht_hr{r} AS MATERIALIZED (
          SELECT e.src AS node, CAST(sum(a.fp) AS BIGINT) AS raw
          FROM ht_e e JOIN ht_a{r} a ON a.node = e.dst GROUP BY e.src),
        ht_hs{r} AS MATERIALIZED (SELECT CAST(sum(raw) AS BIGINT) AS s FROM ht_hr{r}),
        ht_h{r} AS MATERIALIZED (
          SELECT n.node,
                 CASE WHEN t.s > 0
                      THEN (coalesce(r.raw, 0) * {S}) // t.s
                      ELSE 0 END AS fp
          FROM ht_n n LEFT JOIN ht_hr{r} r ON n.node = r.node, ht_hs{r} t)""")
        h_prev = f"ht_h{r}"
    parts.append(f"""
        hits_out AS (
          SELECT n.node,
                 CAST(coalesce(a.fp, 0) AS BIGINT) AS auth_fp,
                 CAST(coalesce(h.fp, 0) AS BIGINT) AS hub_fp,
                 round(coalesce(a.fp, 0) / {S}.0, 6) AS auth,
                 round(coalesce(h.fp, 0) / {S}.0, 6) AS hub
          FROM ht_n n
          LEFT JOIN ht_a{rounds} a ON n.node = a.node
          LEFT JOIN ht_h{rounds} h ON n.node = h.node)""")
    return ",".join(parts)
