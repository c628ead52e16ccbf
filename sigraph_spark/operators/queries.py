"""S5: read-path queries over the materialized graph tables.

Each function mirrors a reference API entry point (SURVEY.md §3.2/§3.3 and
operator rows D4, D5, F1, I10, A12); all are plain DataFrame plans —
filters push into the scans, dimension joins broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sigraph_spark.functions.fixpoint import semi_naive


def neighborhood(
    edges: DataFrame,
    entity_prefix: str,
    limit_entities: int = 2,
    limit_rows: int = 50,
    exclude_predicate: str = "MENTIONS",
) -> DataFrame:
    """Entity-neighborhood rendering (reference prompt.py:151-173):
    prefix-match up to ``limit_entities`` node ids (deterministic order),
    union of out- and in-edges rendered ``id - TYPE -> id``, capped at
    ``limit_rows``. ``startswith`` pushes down as a range predicate."""
    targets = (
        edges.select(F.col("src").alias("node_id"))
        .union(edges.select(F.col("dst").alias("node_id")))
        .filter(F.col("node_id").startswith(entity_prefix))
        .distinct()
        .orderBy("node_id")
        .limit(limit_entities)
    )
    e = edges.filter(F.col("predicate") != exclude_predicate)
    out_r = e.join(F.broadcast(targets), e.src == targets.node_id).select(
        F.concat(F.col("src"), F.lit(" - "), F.col("predicate"), F.lit(" -> "), F.col("dst")).alias("rendering")
    )
    in_r = e.join(F.broadcast(targets), e.dst == targets.node_id).select(
        F.concat(F.col("src"), F.lit(" - "), F.col("predicate"), F.lit(" -> "), F.col("dst")).alias("rendering")
    )
    return out_r.unionByName(in_r).distinct().orderBy("rendering").limit(limit_rows)


def related_traces(
    traces: DataFrame,
    trace_contains: DataFrame,
    edges: DataFrame,
    unit_id: str,
    max_hop: int = 5,
) -> DataFrame:
    """Trace-to-trace connectivity (reference schema.py:89-110, D4):
    (t1)-[*1..max_hop]-(t2) within one unit, deduped t1 < t2, ordered by
    path length, where length is the undirected graph-hop distance
    between the two traces' contained node sets.

    Meet in the middle: a shortest path of length L <= max_hop has a node
    within ceil(L/2) hops of both ends, so a frontier BFS of only
    ``(max_hop + 1) // 2`` rounds from every trace (``functions/
    fixpoint.py``'s :func:`semi_naive`) reaches it from both sides, and
    the pairing below recovers L as the minimum ``h1 + h2 <= max_hop``
    over shared nodes. Each round joins the frontier to ``edges`` once
    per direction, so no undirected copy of the whole edge table is
    built."""
    # traces sharing a node are 0 graph-hops apart but the reference walks
    # CONTAINS (1 hop each side); we report graph hops between node sets.
    seed = (
        trace_contains.filter(F.col("unit_id") == unit_id)
        .select("trace_id", F.col("node_id").alias("x"))
        .distinct()
        .withColumn("hops", F.lit(0))
    )
    fwd = edges.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    bwd = edges.select(F.col("dst").alias("x"), F.col("src").alias("y"))

    def step(frontier: DataFrame, _reached: DataFrame) -> DataFrame:
        return (
            frontier.join(fwd, "x")
            .unionByName(frontier.join(bwd, "x"))
            .select("trace_id", F.col("y").alias("x"), (F.col("hops") + 1).alias("hops"))
            .distinct()
        )

    reached, _, _ = semi_naive(
        seed, step, ["trace_id", "x"], (max_hop + 1) // 2)
    # pair traces that reach a common node; path length = hops1 + hops2
    a = reached.select(F.col("trace_id").alias("t1"), "x", F.col("hops").alias("h1"))
    b = reached.select(F.col("trace_id").alias("t2"), "x", F.col("hops").alias("h2"))
    pairs = (
        a.join(b, "x")
        .filter(F.col("t1") < F.col("t2"))
        .withColumn("plen", F.col("h1") + F.col("h2"))
        .filter(F.col("plen") <= max_hop)
        .groupBy("t1", "t2")
        .agg(F.min("plen").alias("hops"))
        .orderBy("hops", "t1", "t2")
    )
    return pairs


def provenance_subgraph(
    trace_contains: DataFrame,
    edges: DataFrame,
    nodes: DataFrame,
    unit_id: str,
    max_hop: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """Subgraph export for a unit (reference schema.py:127-152, D5):
    anchor at the unit's contained nodes, expand out-edges up to max_hop
    with the reference's label filters (src not MODULE; no PROCESS->PROCESS
    edges). The exported edges are those out of nodes first reached
    within max_hop-1 hops, so the hops are ``max_hop - 1`` rounds of
    ``functions/fixpoint.py``'s :func:`semi_naive` in set mode (none for
    ``max_hop=1``: the anchors' own out-edges); the nodes a last round
    would reach are exactly the exported edges' ``dst`` side. Returns
    (sub_nodes, sub_edges)."""
    lbl = nodes.select("node_id", "label")
    e = (
        edges.join(lbl.withColumnRenamed("node_id", "src").withColumnRenamed("label", "src_label"), "src")
        .join(lbl.withColumnRenamed("node_id", "dst").withColumnRenamed("label", "dst_label"), "dst")
        .filter(F.col("src_label") != "MODULE")
        .filter(~((F.col("src_label") == "PROCESS") & (F.col("dst_label") == "PROCESS")))
        .select("src", "predicate", "dst", "start_time", "weight")
        # joined by every expansion round; without a boundary each
        # round re-runs both label joins from scratch
        .localCheckpoint(eager=False)
    )
    anchor = (
        trace_contains.filter(F.col("unit_id") == unit_id)
        .select(F.col("node_id").alias("src"))
        .distinct()
        .withColumn("hops", F.lit(0))
    )

    def step(frontier: DataFrame, _reached: DataFrame) -> DataFrame:
        return (
            frontier.join(e, "src")
            .select(F.col("dst").alias("src"), (F.col("hops") + 1).alias("hops"))
            .distinct()
        )

    reached, _, _ = semi_naive(anchor, step, ["src"], max(max_hop - 1, 0))
    sub_edges = (
        # the filter only bites at max_hop <= 0, where nothing is exported
        reached.filter(F.col("hops") < max_hop).select("src")
        .join(e, "src")
        .dropDuplicates(["src", "predicate", "dst"])
    )
    sub_nodes = nodes.join(
        sub_edges.select(F.col("src").alias("node_id"))
        .union(sub_edges.select(F.col("dst").alias("node_id")))
        .union(reached.filter(F.col("hops") == 0).select(F.col("src").alias("node_id")))
        .distinct(),
        "node_id",
    )
    return sub_nodes, sub_edges


def export_envelope(sub_nodes: DataFrame, sub_edges: DataFrame) -> dict:
    """Render a provenance subgraph as the reference's export document
    ``{"nodes": [...], "rels": [...]}`` (graph_element/helper.py:17-50 +
    element_behavior.py get_all_provenance dedup loop):

    * node entry  = {elementId, labels, properties} — our stable elementId
      is the node_id itself (unique by A9; Neo4j's internal ids have no
      relational analog);
    * rel entry   = {elementId, startNodeElementId, endNodeElementId,
      type, properties} with elementId = "src|type|dst" (the edge MERGE
      key);
    * temporal properties ISO-8601-encoded (helper.py temporal_encoder);
    * deduped by elementId, deterministically sorted.

    The envelope is ONE unit's bounded subgraph (an API response), so the
    final assembly collects — every upstream step (BFS expansion, label
    filters, dedup) stays distributed in provenance_subgraph — and sorts
    the collected rows on the driver: Python's code-point order on the
    (non-NULL) id strings is Spark's UTF-8 binary order, without a
    range-partition sampling job and an exchange per table."""
    nodes = [
        {
            "elementId": r["node_id"],
            "labels": [r["label"]],
            "properties": {
                "name": r["node_id"],
                "image": r["image"],
                "related_span_ids": list(r["related_span_ids"]),
                "related_trace_ids": list(r["related_trace_ids"]),
            },
        }
        for r in sorted(
            sub_nodes.select(
                "node_id", "label", "image", "related_span_ids", "related_trace_ids"
            ).distinct().collect(),
            key=lambda r: r["node_id"],
        )
    ]
    rels = [
        {
            "elementId": f"{r['src']}|{r['predicate']}|{r['dst']}",
            "startNodeElementId": r["src"],
            "endNodeElementId": r["dst"],
            "type": r["predicate"],
            "properties": {
                "start_time": r["start_time"].isoformat(),
                "weight": r["weight"],
            },
        }
        for r in sorted(
            sub_edges.select("src", "predicate", "dst", "start_time", "weight")
            .distinct().collect(),
            key=lambda r: (r["src"], r["predicate"], r["dst"]),
        )
    ]
    return {"nodes": nodes, "rels": rels}


def ordered_sequences(
    docs: DataFrame,
    unit_id: str,
    trace_id: str | None = None,
) -> DataFrame:
    """Syslog sequence retrieval (reference db_session.py:155-214, F1):
    filter by unit (and optionally trace), storage order (timestamp, doc_id)
    then the reference's STABLE second sort by the payload Timestamp
    string — so payload-timestamp ties keep storage order. Replicated by
    one array_sort over (payload_ts, timestamp, doc_id, payload) structs
    (collect_list order is not defined after the shuffle, so a pre-sort
    would carry nothing)."""
    d = docs.filter(F.col("unit_id") == unit_id)
    if trace_id is not None:
        d = d.filter(F.col("trace_id") == trace_id)
    return d.groupBy("trace_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("raw_data.Timestamp").alias("payload_ts"),
                    F.col("timestamp"),
                    F.col("doc_id"),
                    F.col("raw_data").alias("payload"),
                )
            )
        ).alias("sequence")
    )


def traces_listing(traces: DataFrame, unit_id: str, min_span_count: int = 2) -> DataFrame:
    """Trace listing with the reference's span_count >= 2 filter
    (graph_session.py:218-223, C3)."""
    return (
        traces.filter((F.col("unit_id") == unit_id) & (F.col("span_count") >= min_span_count))
        .orderBy("start_time", "trace_id")
    )


def drift_sequences(
    events_parsed: DataFrame,
    traces: DataFrame,
    trace_contains: DataFrame,
    edges: DataFrame,
    unit_id: str,
    trace_id: str,
    max_hop: int = 3,
) -> DataFrame:
    """Drift sequence assembly (reference D7, ``v1/api.py:177-208``): the
    ordered span sequence of a trace UNION the sequences of every trace
    connected to it within ``max_hop`` graph hops (same unit), re-sorted.

    One BFS (shared with ``related_traces``) + one semi-join + one keyed
    aggregation; the per-trace sequence is a sorted struct collect.
    """
    rel = related_traces(traces, trace_contains, edges, unit_id, max_hop)
    related = (
        rel.filter(F.col("t1") == trace_id).select(F.col("t2").alias("trace_id"))
        .unionByName(
            rel.filter(F.col("t2") == trace_id).select(F.col("t1").alias("trace_id"))
        )
        .unionByName(
            events_parsed.sparkSession.createDataFrame(
                [(trace_id,)], "trace_id string"
            )
        )
        .distinct()
    )
    return (
        events_parsed.filter(F.col("unit_id") == unit_id)
        .join(F.broadcast(related), "trace_id", "left_semi")
        .groupBy("trace_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("timestamp", "span_id"))),
                    lambda s: s["span_id"],
                ),
                ",",
            ).alias("sequence"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )


def paginate_keyset(
    df: DataFrame,
    keys: list[str],
    page_size: int,
    after: DataFrame | None = None,
) -> DataFrame:
    """Keyset ("search_after") pagination — the reference pages every
    search with a 100-hit page + sort-key cursor (db_session.py:171,
    189-208): rows strictly AFTER the cursor in ``keys`` order, first
    ``page_size`` of them.

    ``after`` is a one-row DataFrame carrying the previous page's last
    key values (or None for page one). Keyset beats OFFSET at any scale:
    the predicate pushes down to the scan/index, so page N costs the same
    as page 1 — OFFSET N re-reads and discards N pages. The cursor
    comparison is one row-wise struct ``>`` (lexicographic), broadcast to
    the scan; ORDER+LIMIT plans as TakeOrdered (no full sort).
    """
    key_struct = F.struct(*[F.col(k) for k in keys])
    if after is not None:
        cursor = after.select(
            F.struct(*[F.col(k) for k in keys]).alias("_cursor")
        )
        df = df.crossJoin(F.broadcast(cursor)).filter(
            key_struct > F.col("_cursor")
        ).drop("_cursor")
    return df.orderBy(*keys).limit(page_size)


def page_cursor(page: DataFrame, keys: list[str]) -> DataFrame:
    """The cursor row for :func:`paginate_keyset`: the max key tuple of
    the page just served (one tiny aggregate)."""
    m = F.max(F.struct(*[F.col(k) for k in keys])).alias("_m")
    return page.agg(m).select(*[F.col(f"_m.{k}").alias(k) for k in keys])
