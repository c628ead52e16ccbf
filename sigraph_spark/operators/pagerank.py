"""Fixed-iteration PageRank over the KG edge table.

Graph analytics the reference delegates to its graph store (Neo4j exposes
centrality over the behavior graph; here the edge relation IS the store),
re-expressed as iterative DataFrame aggregation.

All four variants run one round loop, :func:`_power_iterate`, over edges
``(src, dst, w)``: plain PageRank and its warm start pass ``w = 1`` over
distinct pairs and differ only in their starting ranks; the weighted
variant passes summed observation counts; personalized PageRank passes a
per-node teleport that is non-zero only on the seeds.

Design decisions, all scale-motivated:

* **Fixed-point integer arithmetic** (``SCALE = 10^12`` micro-units in
  BIGINT). Floating-point summation is not associative, so a distributed
  ``sum(double)`` depends on partition merge order — reruns of the same
  job can differ in the last ulps, which breaks result caching, regression
  diffs, and any hash-verified replication. Integer sums are exactly
  associative/commutative: the result is partition-order invariant and
  bit-identical across engines (the DuckDB gate oracle reproduces it with
  plain ``//`` arithmetic). Quantization error per iteration is
  <= outdeg * 1e-12 — far below any ranking-relevant delta.
* **Fixed iteration count, not convergence polling.** Each convergence
  check is a driver-side action (extra job + barrier per round). For
  ranking-quality use cases ~10 rounds is standard practice; callers who
  need a residual can diff two runs' outputs themselves.
* **One shuffle per iteration**: contributions join ranks to edges on
  ``src`` (both sides hash-partitioned on the node key; ranks are the
  small side and broadcast under AQE when they fit), then aggregate on
  ``dst``. Out-weight sums (degrees, when ``w = 1``) are computed once,
  outside the loop.
* **Dangling nodes** (no out-edges) absorb rank: their mass is NOT
  redistributed (the classic simplification; documented so the oracle
  matches). Every node still receives the (1-d)/N teleport term.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**12


def _edge_set(
    edges: DataFrame, src: str, dst: str, weight: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """The string-cast edge set ``(src, dst, w)`` and its node list
    ``(node)``. Without ``weight`` the pairs are distinct and ``w = 1``,
    so a source's out-weight sum is its out-degree; with it, duplicate
    pairs pre-aggregate their weights."""
    e = edges.select(
        F.col(src).cast("string").alias("src"),
        F.col(dst).cast("string").alias("dst"),
        (F.col(weight).cast("long") if weight else F.lit(1)).alias("w"),
    )
    e = e.groupBy("src", "dst").agg(F.sum("w").alias("w")) if weight else e.distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    return e, nodes


def _power_iterate(
    e: DataFrame,
    base: DataFrame,
    ranks: DataFrame,
    damping_pct: int,
    iterations: int,
) -> DataFrame:
    """The one round loop: ``iterations`` rounds of
    ``rank'(v) = tele(v) + d * sum(rank(u) * w DIV wtot(u)) DIV 100`` over
    edges ``(src, dst, w)``, from starting ``ranks`` ``(node, rank_fp)``
    onto every node of ``base`` ``(node, tele)``. Out-weight sums are
    computed once, outside the loop. Returns ``(node, rank_fp, rank)``."""
    wsum = e.groupBy("src").agg(F.sum("w").alias("wtot"))
    for _ in range(iterations):
        summed = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(wsum, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("(rank_fp * w) DIV wtot")).alias("s"))
        )
        ranks = base.join(summed, "node", "left").select(
            "node",
            (
                F.col("tele")
                + F.expr(f"({damping_pct} * coalesce(s, 0)) DIV 100")
            ).cast("long").alias("rank_fp"),
        )
    return ranks.select(
        "node",
        "rank_fp",
        F.round(F.col("rank_fp") / F.lit(SCALE), 6).alias("rank"),
    )


def _uniform(
    e: DataFrame,
    nodes: DataFrame,
    damping_pct: int,
    iterations: int,
    prior: DataFrame | None = None,
) -> DataFrame:
    """Power iteration with the uniform (1-d)/N teleport, starting every
    node at SCALE // N unless ``prior`` (node, rank_fp) holds its rank."""
    # one small job; N is needed as an exact literal (an empty graph has
    # no row that reads it)
    n = max(nodes.count(), 1)
    share = F.lit(SCALE // n).cast("long")
    if prior is None:
        ranks = nodes.select("node", share.alias("rank_fp"))
    else:
        ranks = nodes.join(prior.select("node", "rank_fp"), "node", "left").select(
            "node", F.coalesce(F.col("rank_fp").cast("long"), share).alias("rank_fp")
        )
    tele = F.lit(((100 - damping_pct) * SCALE) // (100 * n)).cast("long")
    base = nodes.select("node", tele.alias("tele"))
    return _power_iterate(e, base, ranks, damping_pct, iterations)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping_pct: int = 85,
    iterations: int = 5,
) -> DataFrame:
    """PageRank over distinct (src, dst) pairs; returns
    ``(node, rank_fp, rank)`` where ``rank_fp`` is the exact fixed-point
    BIGINT (SCALE units) and ``rank`` = rank_fp / SCALE rounded to 6dp.

    ``damping_pct`` is an integer percentage so every multiplication stays
    in exact BIGINT arithmetic end-to-end.
    """
    e, nodes = _edge_set(edges, src, dst)
    return _uniform(e, nodes, damping_pct, iterations)


def pagerank_weighted(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    damping_pct: int = 85,
    iterations: int = 5,
) -> DataFrame:
    """Weighted PageRank: mass flows proportionally to edge weight
    (``rank * w DIV wsum(src)``) instead of uniformly over distinct
    out-edges — the KG edge table carries observation counts as
    weights, and a heavily-evidenced edge SHOULD pull more rank.
    Weights are positive observation counts: a (src, dst) pair whose
    summed weight is <= 0 raises ``ValueError`` (it would carry negative
    mass, or divide by a zero out-weight).
    Same exact fixed-point BIGINT contract as :func:`pagerank`
    (duplicate (src, dst) pairs pre-aggregate their weights; overflow
    headroom: rank_fp <= SCALE and BIGINT gives ~9e18, so per-edge
    weights up to ~9e6 are safe — the loud check below enforces it)."""
    e, nodes = _edge_set(edges, src, dst, weight)
    lo, hi = e.agg(F.min("w"), F.max("w")).collect()[0]
    if hi is not None and hi > 9_000_000:
        raise ValueError(f"edge weight {hi} exceeds fixed-point headroom")
    if lo is not None and lo <= 0:
        raise ValueError(f"edge weight {lo} is not positive")
    return _uniform(e, nodes, damping_pct, iterations)


def pagerank_weighted_oracle_sql(
    edges_rel: str,
    damping_pct: int = 85,
    iterations: int = 5,
    prefix: str = "wpr_",
) -> str:
    """Unrolled-CTE restatement of :func:`pagerank_weighted` — same
    fixed-point arithmetic, exact match. ``edges_rel`` needs columns
    src, dst, weight."""
    d = damping_pct
    p = prefix
    sql = f"""
{p}e AS (
  SELECT CAST(src AS VARCHAR) AS src, CAST(dst AS VARCHAR) AS dst,
         SUM(CAST(weight AS BIGINT)) AS w
  FROM {edges_rel} GROUP BY 1, 2),
{p}nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM {p}e UNION ALL SELECT dst FROM {p}e)),
{p}nn AS (SELECT count(*) AS n FROM {p}nodes),
{p}ws AS (SELECT src, SUM(w) AS wtot FROM {p}e GROUP BY src),
{p}r0 AS (SELECT node, CAST({SCALE} // n AS BIGINT) AS rank_fp
          FROM {p}nodes, {p}nn)
"""
    prev = f"{p}r0"
    for i in range(1, iterations + 1):
        sql += f""",
{p}c{i} AS (
  SELECT {p}e.dst AS node, SUM((r.rank_fp * {p}e.w) // o.wtot) AS s
  FROM {p}e JOIN {prev} r ON {p}e.src = r.node
  JOIN {p}ws o ON {p}e.src = o.src
  GROUP BY {p}e.dst),
{p}r{i} AS (
  SELECT {p}nodes.node,
         CAST(((100 - {d}) * {SCALE}) // (100 * {p}nn.n)
              + ({d} * coalesce({p}c{i}.s, 0)) // 100 AS BIGINT)
           AS rank_fp
  FROM {p}nodes CROSS JOIN {p}nn
  LEFT JOIN {p}c{i} ON {p}nodes.node = {p}c{i}.node)
"""
        prev = f"{p}r{i}"
    sql += f"""
SELECT node, rank_fp, round(rank_fp / {SCALE}.0, 6) AS rank
FROM {prev}
"""
    # a CTE fragment: the caller composes it after its own WITH-list
    # (exactly like pagerank_oracle_sql)
    return sql.lstrip()


def pagerank_resume(
    edges: DataFrame,
    prior_ranks: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping_pct: int = 85,
    iterations: int = 3,
) -> DataFrame:
    """Warm-start PageRank for the continuous-crawl path: instead of
    recomputing centrality from scratch after a delta folds new edges
    into the KG, resume from the STORED ranks (``prior_ranks`` with
    columns node, rank_fp) and run ``iterations`` more rounds over the
    updated edge set. Nodes new to the graph initialize at the uniform
    share SCALE // N (current N). Power iteration contracts from ANY
    starting vector, so a warm start needs far fewer rounds to reach
    ranking-stable values than a cold one — the standard incremental-
    analytics trade on evolving graphs.

    Same fixed-point BIGINT arithmetic as :func:`pagerank` — given the
    same inputs and round count the result is bit-identical across
    engines and partitionings, so the oracle replays both phases
    exactly. One shuffle per round, degrees computed once.
    """
    e, nodes = _edge_set(edges, src, dst)
    return _uniform(e, nodes, damping_pct, iterations, prior_ranks)


def pagerank_oracle_sql(
    edges_rel: str,
    n_nodes_known: int | None = None,
    damping_pct: int = 85,
    iterations: int = 5,
    prefix: str = "pr_",
    init_rel: str | None = None,
    final_select: bool = True,
) -> str:
    """The unrolled-CTE SQL restatement of ``pagerank`` for an external
    engine (DuckDB): same fixed-point arithmetic, so the match is exact,
    not approximate. ``edges_rel`` must be a relation (or CTE name) with
    string columns src, dst.

    ``prefix`` namespaces the CTEs so TWO instances compose into one
    WITH-list (the warm-start oracle chains a cold phase into a resumed
    phase); ``init_rel`` (node, rank_fp) seeds r0 — nodes absent from it
    start at SCALE // N, mirroring :func:`pagerank_resume`; with
    ``final_select=False`` the block ends after the last rank CTE
    (named ``{prefix}r{iterations}``) so a caller can keep composing."""
    d = damping_pct
    p = prefix
    # {p}-prefixed CTE names so the block composes into WITH-lists that
    # already define e.g. `nodes` (the graph-edge CTEs in the gate oracles).
    # The node list is DISTINCT-over-UNION-ALL, not a bare `A UNION B`:
    # under a composed WITH RECURSIVE list DuckDB treats a top-level UNION
    # CTE as anchor/step and the dedup silently degrades to UNION ALL
    # (observed: duplicated rank rows + inflated sums in node_features).
    sql = f"""
{p}e AS (SELECT DISTINCT CAST(src AS VARCHAR) AS src, CAST(dst AS VARCHAR) AS dst FROM {edges_rel}),
{p}nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM {p}e UNION ALL SELECT dst FROM {p}e)),
{p}nn AS (SELECT count(*) AS n FROM {p}nodes),
{p}outdeg AS (SELECT src, count(*) AS deg FROM {p}e GROUP BY src),
"""
    if init_rel is None:
        sql += f"""{p}r0 AS (SELECT node, CAST({SCALE} // n AS BIGINT) AS rank_fp FROM {p}nodes, {p}nn)
"""
    else:
        sql += f"""{p}r0 AS (
  SELECT n.node,
         CAST(coalesce(i.rank_fp, {SCALE} // nn.n) AS BIGINT) AS rank_fp
  FROM {p}nodes n CROSS JOIN {p}nn nn
  LEFT JOIN {init_rel} i ON n.node = i.node)
"""
    prev = f"{p}r0"
    for i in range(1, iterations + 1):
        sql += f""",
{p}c{i} AS (
  SELECT {p}e.dst AS node, sum(r.rank_fp // o.deg) AS s
  FROM {p}e JOIN {prev} r ON {p}e.src = r.node
  JOIN {p}outdeg o ON {p}e.src = o.src
  GROUP BY {p}e.dst),
{p}r{i} AS (
  SELECT {p}nodes.node,
         CAST(((100 - {d}) * {SCALE}) // (100 * {p}nn.n)
              + ({d} * coalesce({p}c{i}.s, 0)) // 100 AS BIGINT) AS rank_fp
  FROM {p}nodes CROSS JOIN {p}nn
  LEFT JOIN {p}c{i} ON {p}nodes.node = {p}c{i}.node)
"""
        prev = f"{p}r{i}"
    if final_select:
        sql += f"""
SELECT node, rank_fp, round(rank_fp / {SCALE}.0, 6) AS rank FROM {prev}
"""
    return sql


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping_pct: int = 85,
    iterations: int = 5,
) -> DataFrame:
    """Personalized PageRank: the teleport term restarts at the seed set
    instead of uniformly — rank becomes *relevance to the seeds*, the
    standard KG primitive for entity relatedness / recommendation /
    expanding an analyst's pivot set (here: "what is most reachable from
    these processes").

    Same fixed-point BIGINT design as :func:`pagerank` (exactly
    associative, bit-identical across engines and partitionings); seeds
    share the initial mass and the (1-d) restart equally. Non-seed nodes
    with no inbound mass stay at exactly 0 — PPR is sparse, and the zero
    rows ARE meaningful output (unreachable from the seeds). One shuffle
    per round; the seed marker rides the node list as a broadcast-size
    column, adding no extra exchange.
    """
    e, nodes = _edge_set(edges, src, dst)
    seed = seeds.select(
        F.col(seeds.columns[0]).cast("string").alias("node")
    ).distinct().join(nodes, "node")  # seeds outside the graph carry no mass
    ns = seed.count()
    if ns == 0:
        raise ValueError("personalized_pagerank needs at least one seed in the graph")
    marked = nodes.join(seed.withColumn("_is_seed", F.lit(True)), "node", "left")
    tele = ((100 - damping_pct) * SCALE) // (100 * ns)
    base = marked.select(
        "node", F.when(F.col("_is_seed"), tele).otherwise(0).cast("long").alias("tele")
    )
    ranks = marked.select(
        "node",
        F.when(F.col("_is_seed"), SCALE // ns).otherwise(0).cast("long").alias("rank_fp"),
    )
    return _power_iterate(e, base, ranks, damping_pct, iterations)


def ppr_oracle_sql(
    edges_rel: str,
    seed_where: str,
    damping_pct: int = 85,
    iterations: int = 5,
) -> str:
    """Unrolled-CTE restatement of ``personalized_pagerank`` (exact BIGINT
    match). ``seed_where`` is a SQL predicate over ``node`` selecting the
    seed set from the graph's node list (mirrors the join-with-nodes seed
    filtering on the Spark side)."""
    d = damping_pct
    sql = f"""
ppr_e AS (SELECT DISTINCT CAST(src AS VARCHAR) AS src, CAST(dst AS VARCHAR) AS dst FROM {edges_rel}),
ppr_nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM ppr_e UNION ALL SELECT dst FROM ppr_e)),
ppr_seed AS (SELECT node FROM ppr_nodes WHERE {seed_where}),
ppr_ns AS (SELECT count(*) AS ns FROM ppr_seed),
ppr_outdeg AS (SELECT src, count(*) AS deg FROM ppr_e GROUP BY src),
ppr_r0 AS (
  SELECT n.node,
         CAST(CASE WHEN s.node IS NOT NULL THEN {SCALE} // ppr_ns.ns ELSE 0 END AS BIGINT) AS rank_fp
  FROM ppr_nodes n CROSS JOIN ppr_ns
  LEFT JOIN ppr_seed s ON n.node = s.node)
"""
    prev = "ppr_r0"
    for i in range(1, iterations + 1):
        sql += f""",
ppr_c{i} AS (
  SELECT ppr_e.dst AS node, sum(r.rank_fp // o.deg) AS s
  FROM ppr_e JOIN {prev} r ON ppr_e.src = r.node
  JOIN ppr_outdeg o ON ppr_e.src = o.src
  GROUP BY ppr_e.dst),
ppr_r{i} AS (
  SELECT n.node,
         CAST(CASE WHEN sd.node IS NOT NULL
                   THEN ((100 - {d}) * {SCALE}) // (100 * ppr_ns.ns)
                   ELSE 0 END
              + ({d} * coalesce(c.s, 0)) // 100 AS BIGINT) AS rank_fp
  FROM ppr_nodes n CROSS JOIN ppr_ns
  LEFT JOIN ppr_seed sd ON n.node = sd.node
  LEFT JOIN ppr_c{i} c ON n.node = c.node)
"""
        prev = f"ppr_r{i}"
    sql += f"""
SELECT node, rank_fp, round(rank_fp / {SCALE}.0, 6) AS rank FROM {prev}
"""
    return sql
