"""Graph construction: events -> nodes / edges / traces / containment / matches.

This is the batch restatement of the reference's per-event write path
(``/root/reference/src/graph/graph_element/element_behavior.py:260-522``):
the 3-7 Cypher round-trips per event collapse into five set-oriented
aggregations + merges. Merge semantics follow SURVEY.md §1.3 exactly:

1. node identity = ``name@TYPE`` string, unique per label;
2. node list props accumulate set-union; ``image``/process_name keeps the
   first non-null (reference: existing wins when incoming null, else
   overwrite — batch-deterministic equivalent: min-timestamp non-null);
3. edge identity = (src, predicate, dst); props last-writer-wins by event
   timestamp (tie-break span_id) — reference ``client.py:221`` SET r += ...;
4. direction: READ_RECV => artifact->parent-process, else parent->artifact
   (``element.py:192-226``);
5. events without a parent create only node + containment, no action edge
   (``element_behavior.py:388-424``);
6. trace aggregates: span_count = count, start_time = min ts,
   representative_process_name = min_by(ts) (``element_behavior.py:350-382``);
7. containment = distinct (unit_id, trace_id, node_id) pairs.

All expressions are codegen-friendly Columns; the only shuffles are the
keyed aggregations themselves (map-side partial aggregation applies), and
each output is partitionable by its merge key for downstream MERGE INTO.

Scale notes: the node aggregation groups by ``node_id`` — head entities
(e.g., a hot registry key appearing in 30% of events) skew this shuffle.
``collect_set`` is not algebraic over huge groups, so for the skewed head we
bound list accumulation with a two-phase salted aggregation (see
``operators/skew.py``); AQE skew-join splitting covers the join paths.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F



@dataclass
class GraphTables:
    """The core tables of the behavioral KG (SURVEY.md §1.1), plus the
    bounded span-membership side table and the error side-channel."""

    nodes: DataFrame        # node_id, label, image, related_span_ids, related_trace_ids (+ image_ts/image_span merge keys)
    edges: DataFrame        # src, predicate, dst, start_time, weight (+ last_span_id merge key)
    traces: DataFrame       # unit_id, trace_id, start_time, representative_process_name, span_count (+ rep_span_id merge key)
    trace_contains: DataFrame  # unit_id, trace_id, node_id
    trace_spans: DataFrame     # unit_id, trace_id, span_id — bounded span membership (span_count = its per-trace cardinality)
    rule_matches: DataFrame    # rule_id, node_id
    errors: DataFrame       # original event row + error string (side output)


def parse_events(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Parse + validate raw events; returns (parsed, errors).

    Validation mirrors element_behavior.py:295-308 (weight >= 1) plus the
    parser checks; the reference silently swallows bad events
    (graph_session.py:128-132) — we emit them on an error side-channel.

    Semantics are exactly ``parse_actor``/``parse_parent_artifact``
    (functions/provenance.py — parity pinned by test_provenance and every
    graph oracle), but built as STAGED projections: each shared piece
    (token counts, prefix strings, per-part error chains) is aliased once
    and referenced as an attribute downstream. Inlining the struct
    expressions instead multiplies the tree ~10x (every struct field
    duplicates the whole error chain), which cost ~3s of DRIVER
    analysis/codegen per query over this parser — a fixed cost that
    dominated small-SF runs and grows with plan complexity, not data.
    """
    from sigraph_spark.functions.provenance import (
        ACTION_TYPES, ACTOR_TYPES, _ACTOR_FMT, _before_suffix,
        _artifact_error, _empty_or_missing_at, _ntokens,
    )

    sp = F.col("system_provenance")
    psp = F.col("parent_system_provenance")

    # stage 1: token anatomy (each referenced several times downstream)
    s1 = events.select(
        "*",
        _ntokens(sp).alias("_n"),
        F.substring_index(sp, "@", -1).alias("_actor_tok"),
        F.substring_index(sp, "@", -2).alias("_last2"),
        F.when(psp.isNotNull() & (psp != ""), F.substring_index(psp, "@", 2)).alias(
            "_pft"
        ),
    )
    # stage 2: derived substrings
    s2 = s1.select(
        "*",
        F.substring_index(F.col("_last2"), "@", 1).alias("_action_tok"),
        _before_suffix(sp, F.col("_last2")).alias("_prefix"),
        F.substring_index(F.col("_pft"), "@", -1).alias("_p_type"),
    )
    # stage 3: artifact name parts + per-part error chains
    s3 = s2.select(
        "*",
        F.substring_index(F.col("_prefix"), "@", -1).alias("_a_type"),
        _artifact_error(F.col("_pft"), F.col("_p_type")).alias("_p_err"),
    )
    s4 = s3.select(
        "*",
        _before_suffix(F.col("_prefix"), F.col("_a_type")).alias("_a_name"),
        _before_suffix(F.col("_pft"), F.col("_p_type")).alias("_p_name"),
        _artifact_error(F.col("_prefix"), F.col("_a_type")).alias("_a_err"),
    )
    # stage 5: the combined validation verdict (actor chain, weight,
    # parent) — the actor chain is its OWN aliased column so the final
    # CASE references it twice as an attribute, not two inlined copies
    # (inlined copies were the last straw pushing the fused codegen
    # method over the JVM's 64 KB limit -> interpreted fallback).
    s5 = s4.select(
        "*",
        _empty_or_missing_at(sp)
        .when(F.col("_n") < 4, F.lit("Data is not in the expected format: " + _ACTOR_FMT))
        .when(
            (F.col("_action_tok") == "") | (F.col("_actor_tok") == ""),
            F.lit("Data contains empty tokens: " + _ACTOR_FMT),
        )
        .when(F.col("_a_err").isNotNull(), F.col("_a_err"))
        .when(~F.col("_action_tok").isin(*ACTION_TYPES), F.lit("invalid action type"))
        .when(~F.col("_actor_tok").isin(*ACTOR_TYPES), F.lit("invalid actor type"))
        .otherwise(F.lit(None))
        .alias("_actor_err"),
    )
    # The observe() below is a CollectMetrics node and doubles as a
    # PUSHDOWN BARRIER: the good/errors filters must evaluate _error as a
    # computed attribute HERE. Without the barrier,
    # PushPredicateThroughNonJoin substitutes the alias chain into the
    # filter condition recursively down to the scan, exploding the fused
    # whole-stage-codegen method from ~85 KB to ~1.7 MB — past the JVM's
    # 64 KB method limit, forcing interpreted fallback (measured 3x
    # slower). A filter cannot legally move below CollectMetrics (it
    # would change the observed counts), so the plan stays staged AND we
    # get the parse-stage row/error counters for lineage manifests free.
    # The name is unique per call so two parses can meet in one query.
    import uuid

    parsed = s5.select(
        "*",
        F.when(F.col("_actor_err").isNotNull(), F.col("_actor_err"))
        .when(F.col("weight") < 1, F.lit("weight must be >= 1"))
        .when(
            F.col("_pft").isNotNull() & F.col("_p_err").isNotNull(), F.col("_p_err")
        )
        .alias("_error"),
    ).observe(
        f"parse_events_{uuid.uuid4().hex[:8]}",
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("_error").isNotNull().cast("long")).alias("error_rows"),
    )
    good = parsed.filter(F.col("_error").isNull()).select(
        "trace_id",
        "span_id",
        "unit_id",
        "timestamp",
        "weight",
        "process_name",
        "related_rule_ids",
        F.concat_ws("@", F.col("_a_name"), F.col("_a_type")).alias("node_id"),
        F.col("_a_type").alias("label"),
        F.col("_action_tok").alias("action"),
        F.col("_actor_tok").alias("actor_type"),
        F.when(
            F.col("_pft").isNotNull(),
            F.concat_ws("@", F.col("_p_name"), F.col("_p_type")),
        ).alias("parent_id"),
        F.when(F.col("_pft").isNotNull(), F.col("_p_type")).alias("parent_label"),
    )
    errors = parsed.filter(F.col("_error").isNotNull()).select(
        "trace_id", "span_id", "unit_id", "system_provenance",
        F.col("_error").alias("error"),
    )
    return good, errors


def build_nodes(parsed: DataFrame) -> DataFrame:
    """Node table with set-union list accumulation (element_behavior.py:316-347).

    Child and parent artifacts both materialize as nodes (merge-parent at
    element_behavior.py:461-465). ``image`` (process_name) is the
    min-timestamp non-null value — the batch-deterministic equivalent of the
    reference's keep-existing-unless-null arrival rule.

    Lists are sorted for cross-cluster-size determinism (SURVEY.md §7.3-2).
    """
    child = parsed.select(
        "node_id", "label", "span_id", "trace_id", "timestamp",
        F.col("process_name").alias("image"),
    )
    par = parsed.filter(F.col("parent_id").isNotNull()).select(
        F.col("parent_id").alias("node_id"),
        F.col("parent_label").alias("label"),
        "span_id", "trace_id", "timestamp",
        F.lit(None).cast("string").alias("image"),
    )
    return (
        child.unionByName(par)
        .groupBy("node_id", "label")
        .agg(
            # min struct == min_by(image, ts) with a deterministic span_id
            # tie-break; (image_ts, image_span) ride along as the MERGE KEY
            # so incremental delta-merge recombines images exactly
            # (merge_nodes below) — the semilattice-join design.
            F.min(
                F.when(
                    F.col("image").isNotNull(),
                    F.struct(
                        F.col("timestamp").alias("image_ts"),
                        F.col("span_id").alias("image_span"),
                        F.col("image").alias("image"),
                    ),
                )
            ).alias("_img"),
            F.array_sort(F.collect_set("span_id")).alias("related_span_ids"),
            F.array_sort(F.collect_set("trace_id")).alias("related_trace_ids"),
        )
        .select(
            "node_id", "label",
            F.col("_img.image").alias("image"),
            "related_span_ids", "related_trace_ids",
            F.col("_img.image_ts").alias("image_ts"),
            F.col("_img.image_span").alias("image_span"),
        )
    )


def build_edges(parsed: DataFrame) -> DataFrame:
    """Edge (triple) table: direction flip + last-writer-wins dedup.

    Direction (element.py:192-226): READ_RECV reverses (artifact is read BY
    the parent process => data flows artifact->process); WRITE_SEND and
    NOT_ACTOR flow process->artifact. Events with no parent emit no edge
    (element_behavior.py:388-424 guard at :392).

    Identity = (src, predicate, dst); start_time/weight overwritten by the
    latest event (client.py:221 ``SET r += $rprops``) — deterministic
    tie-break (timestamp desc, span_id desc) per SURVEY.md §7.3-6.
    """
    with_parent = parsed.filter(F.col("parent_id").isNotNull())
    directed = with_parent.select(
        F.when(F.col("actor_type") == "READ_RECV", F.col("node_id"))
        .otherwise(F.col("parent_id"))
        .alias("src"),
        F.col("action").alias("predicate"),
        F.when(F.col("actor_type") == "READ_RECV", F.col("parent_id"))
        .otherwise(F.col("node_id"))
        .alias("dst"),
        F.col("timestamp").alias("start_time"),
        F.col("weight").cast("long").alias("weight"),
        "span_id",
    )
    # last-writer-wins as an ALGEBRAIC max-struct aggregation (the same
    # semilattice merge_edges already uses): max over (start_time,
    # span_id) IS "timestamp desc, span_id desc, pick one" — and unlike
    # the row_number window it partial-aggregates map-side, so hot
    # (src, predicate, dst) identities collapse before the shuffle
    # instead of sorting inside it. weight rides along: (start_time,
    # span_id) is unique per event, so it never influences the max.
    return (
        directed.groupBy("src", "predicate", "dst")
        .agg(F.max(F.struct("start_time", "span_id", "weight")).alias("_w"))
        .select(
            "src", "predicate", "dst",
            F.col("_w.start_time").alias("start_time"),
            F.col("_w.weight").alias("weight"),
            # the winning event's span_id rides along as the MERGE KEY:
            # delta merges recombine last-writer-wins exactly via
            # max(struct(start_time, last_span_id, ...)) — merge_edges
            F.col("_w.span_id").alias("last_span_id"),
        )
    )


def build_traces(parsed: DataFrame) -> DataFrame:
    """Per-(unit_id, trace_id) aggregates (element_behavior.py:350-382).

    The representative is the min-(timestamp, span_id) event's process_name
    (deterministic tie-break; lexicographic min over structs is associative,
    so delta merges recombine it exactly). ``span_count`` is the DISTINCT
    span cardinality — idempotent under re-delivered events, unlike a
    count(*) sum; ``rep_span_id`` rides along as the representative MERGE
    KEY. Span MEMBERSHIP deliberately does NOT live on this row: a hot
    trace with 10^7 spans must not become one 10^7-element array cell (a
    straggler/OOM in every downstream agg). It lives in the bucketed
    ``build_trace_spans`` side table, from which delta merges re-derive
    span_count exactly."""
    return (
        parsed.groupBy("unit_id", "trace_id")
        .agg(
            F.min(
                F.struct(
                    F.col("timestamp").alias("ts"),
                    F.col("span_id").alias("sid"),
                    F.col("process_name").alias("pname"),
                )
            ).alias("_rep"),
            F.count_distinct("span_id").cast("long").alias("span_count"),
        )
        .select(
            "unit_id", "trace_id",
            F.col("_rep.ts").alias("start_time"),
            F.col("_rep.pname").alias("representative_process_name"),
            "span_count",
            F.col("_rep.sid").alias("rep_span_id"),
        )
    )


def build_trace_spans(parsed: DataFrame) -> DataFrame:
    """Distinct (unit_id, trace_id, span_id) span-membership side table —
    the bounded replacement for a per-trace span_ids array. NARROW rows on
    a uniform key: a 10^7-span trace is 10^7 rows spread across hash
    partitions (algebraic distinct, map-side partials), never one fat row.
    In production this is an Iceberg table bucketed on (unit_id, trace_id)
    (plans/iceberg_sql.py) so the merge and the span_count re-derivation
    are storage-partitioned joins.

    NULL span_ids are excluded — matching both the ``span_id NOT NULL``
    production DDL and ``build_traces``' count_distinct (which skips
    NULLs), so merge-path ``count(*)`` over this table always equals the
    full-rebuild span_count."""
    return (
        parsed.filter(F.col("span_id").isNotNull())
        .select("unit_id", "trace_id", "span_id")
        .distinct()
    )


def build_trace_contains(parsed: DataFrame) -> DataFrame:
    """Distinct (unit, trace, node) containment incl. parents
    (element_behavior.py:377-381, 400-413).

    The reference adds a parent's containment edge only when the parent node
    did not previously exist — an arrival-order dependence we normalize to
    set semantics (documented deviation, SURVEY.md §1.3-7): containment is
    the full distinct set of (trace, node) incidences.
    """
    child = parsed.select("unit_id", "trace_id", "node_id")
    par = parsed.filter(F.col("parent_id").isNotNull()).select(
        "unit_id", "trace_id", F.col("parent_id").alias("node_id")
    )
    return child.unionByName(par).distinct()


def build_rule_matches(parsed: DataFrame) -> DataFrame:
    """Explode related_rule_ids -> distinct (rule_id, node_id) MATCHES pairs
    (element_behavior.py:488-515)."""
    return (
        parsed.filter(F.col("related_rule_ids").isNotNull())
        .select(F.explode("related_rule_ids").alias("rule_id"), "node_id")
        .distinct()
    )


def node_label_conflicts(nodes: DataFrame) -> DataFrame:
    """Cross-label duplicate node_ids as error rows (the reference FAILS
    LOUDLY when one artifact key resolves to multiple nodes,
    element_behavior.py:149-153; we surface it on the error side-channel
    instead of silently keeping two rows). Returns (node_id, error)."""
    return (
        nodes.groupBy("node_id")
        .agg(F.array_sort(F.collect_set("label")).alias("_labels"))
        .filter(F.size("_labels") > 1)
        .select(
            "node_id",
            F.concat(
                F.lit("label conflict: node '"), F.col("node_id"),
                F.lit("' resolves to labels ["),
                F.array_join("_labels", ","), F.lit("]"),
            ).alias("error"),
        )
    )


def build_graph(events: DataFrame, check_label_conflicts: bool = False) -> GraphTables:
    """Full batch construction. ``events`` follows the GraphNode schema
    (graph_model.py:29-41); see FIXTURES.md §2.

    ``check_label_conflicts=True`` appends cross-label duplicate node_ids
    to the error channel (C1) — one extra aggregation over the node table,
    so it is opt-in for pipelines that want the reference's hard-failure
    signal as data."""
    parsed, errors = parse_events(events)
    nodes = build_nodes(parsed)
    if check_label_conflicts:
        conflicts = node_label_conflicts(nodes).select(
            F.lit(None).cast("string").alias("trace_id"),
            F.lit(None).cast("string").alias("span_id"),
            F.lit(None).cast("string").alias("unit_id"),
            F.col("node_id").alias("system_provenance"),
            "error",
        )
        errors = errors.unionByName(conflicts)
    return GraphTables(
        nodes=nodes,
        edges=build_edges(parsed),
        traces=build_traces(parsed),
        trace_contains=build_trace_contains(parsed),
        trace_spans=build_trace_spans(parsed),
        rule_matches=build_rule_matches(parsed),
        errors=errors,
    )


# ---------------------------------------------------------------------------
# Incremental delta-merge (reference write path, SURVEY.md §1.3 re-upsert)
# ---------------------------------------------------------------------------
# The reference's core write semantic is re-upsert into an EXISTING graph:
# list accumulation on re-upsert (element_behavior.py:316-347), SET n +=
# keep-existing-unless-null (client.py:159-162), edge prop overwrite
# (client.py:221). Every combiner below is a SEMILATTICE JOIN (commutative,
# associative, idempotent): set-union for lists, lexicographic min/max
# structs for image / representative / last-writer props. Consequences at
# scale: apply-delta-twice == apply-once == recompute-from-union (the gate
# queries graph_merge_* encode exactly that against the full-recompute
# oracle), deltas can merge in any order and any grouping across executors,
# and re-delivered events are harmless. Each merge is ONE keyed shuffle on
# the table's merge key — the parquet-local analog of the Iceberg MERGE
# INTO emitted by plans/iceberg_sql.py.

def merge_nodes(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Union + re-aggregate on the node merge key: span/trace lists
    set-union re-sorted; image = min (image_ts, image_span) non-null —
    the batch-deterministic keep-existing-unless-null rule."""
    return (
        existing.unionByName(delta)
        .groupBy("node_id", "label")
        .agg(
            F.min(
                F.when(
                    F.col("image").isNotNull(),
                    F.struct("image_ts", "image_span", "image"),
                )
            ).alias("_img"),
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("related_span_ids")))
            ).alias("related_span_ids"),
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("related_trace_ids")))
            ).alias("related_trace_ids"),
        )
        .select(
            "node_id", "label",
            F.col("_img.image").alias("image"),
            "related_span_ids", "related_trace_ids",
            F.col("_img.image_ts").alias("image_ts"),
            F.col("_img.image_span").alias("image_span"),
        )
    )


def merge_edges(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Last-writer-wins on (src, predicate, dst): max (start_time,
    last_span_id) carries its weight — client.py:221 ``SET r += $rprops``."""
    return (
        existing.unionByName(delta)
        .groupBy("src", "predicate", "dst")
        .agg(F.max(F.struct("start_time", "last_span_id", "weight")).alias("_lw"))
        .select(
            "src", "predicate", "dst",
            F.col("_lw.start_time").alias("start_time"),
            F.col("_lw.weight").alias("weight"),
            F.col("_lw.last_span_id").alias("last_span_id"),
        )
    )


def merge_trace_spans(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Span-membership merge: union + distinct on the narrow
    (unit_id, trace_id, span_id) rows — a semilattice set-union that is one
    keyed shuffle with map-side partials (the parquet-local analog of the
    Iceberg WHEN NOT MATCHED INSERT in plans/iceberg_sql.py). Idempotent:
    re-applying a delta adds nothing."""
    return existing.unionByName(delta).distinct()


def merge_traces(
    existing: DataFrame, delta: DataFrame, merged_spans: DataFrame
) -> DataFrame:
    """Trace aggregates recombine exactly: the global min-(ts, span_id)
    representative is the min over per-side minima; span_count is
    RE-DERIVED from the already-merged span-membership side table
    (``merge_trace_spans``), so it stays idempotent under re-delivery
    WITHOUT carrying an unbounded span_ids array on the trace row. Both
    aggregations and the final join share the (unit_id, trace_id) key, so
    the join is co-partitioned — no extra shuffle."""
    rep = (
        existing.unionByName(delta)
        .groupBy("unit_id", "trace_id")
        .agg(
            F.min(
                F.struct(
                    F.col("start_time").alias("ts"),
                    F.col("rep_span_id").alias("sid"),
                    F.col("representative_process_name").alias("pname"),
                )
            ).alias("_rep")
        )
    )
    counts = merged_spans.groupBy("unit_id", "trace_id").agg(
        F.count(F.lit(1)).cast("long").alias("span_count")
    )
    # LEFT join + coalesce(0): a trace whose span_ids were all NULL has no
    # membership rows (build_trace_spans drops NULLs, as does the rebuild's
    # count_distinct) but must keep its trace row with span_count = 0
    return rep.join(counts, ["unit_id", "trace_id"], "left").select(
        "unit_id", "trace_id",
        F.col("_rep.ts").alias("start_time"),
        F.col("_rep.pname").alias("representative_process_name"),
        F.coalesce("span_count", F.lit(0)).cast("long").alias("span_count"),
        F.col("_rep.sid").alias("rep_span_id"),
    )


def merge_graph_tables(existing: GraphTables, delta_events: DataFrame) -> GraphTables:
    """Incrementally upsert a batch of raw events into an existing graph —
    the batch analog of the reference's per-event MERGE round-trips
    (element_behavior.py:260-522). Builds the delta's five tables with the
    shared stage functions, then merges each against the existing table
    with the §1.3 combiners above. Errors append (side channel).

    The raw batch is read and mapped ONCE: it is a lazy
    ``localCheckpoint`` that the first table write materializes, instead
    of each of the seven writes re-reading and re-mapping it (each write
    still re-parses it). The checkpoint is batch-sized state —
    executor-local blocks with no lineage, lost with their executor and
    held while the returned tables are referenced — which is why
    :func:`build_graph`, whose input is corpus-sized, stays lazy."""
    delta = build_graph(delta_events.localCheckpoint(eager=False))
    spans = merge_trace_spans(existing.trace_spans, delta.trace_spans)
    return GraphTables(
        nodes=merge_nodes(existing.nodes, delta.nodes),
        edges=merge_edges(existing.edges, delta.edges),
        traces=merge_traces(existing.traces, delta.traces, spans),
        trace_contains=existing.trace_contains.unionByName(
            delta.trace_contains
        ).distinct(),
        trace_spans=spans,
        rule_matches=existing.rule_matches.unionByName(
            delta.rule_matches
        ).distinct(),
        errors=existing.errors.unionByName(delta.errors),
    )


# ---------------------------------------------------------------------------
# Derived tables / maintenance
# ---------------------------------------------------------------------------

def adjacency_lists(edges: DataFrame) -> DataFrame:
    """Adjacency-list node table (north-rule requirement).

    Sorted struct arrays so output is identical across parallelism levels.
    For head-entity skew use ``operators.skew.salted_adjacency`` instead.
    """
    return edges.groupBy("src").agg(
        F.array_sort(
            F.collect_list(F.struct("predicate", "dst", "start_time", "weight"))
        ).alias("out_edges"),
        F.count(F.lit(1)).alias("out_degree"),
    )


def degree_table(edges: DataFrame, trace_contains: DataFrame) -> DataFrame:
    """Undirected degree over action edges + containment (schema.py:119-124)."""
    endpoints = (
        edges.select(F.col("src").alias("node_id"))
        .unionAll(edges.select(F.col("dst").alias("node_id")))
        .unionAll(trace_contains.select("node_id"))
    )
    return endpoints.groupBy("node_id").agg(F.count(F.lit(1)).alias("degree"))


def debris_candidates(
    traces: DataFrame, trace_contains: DataFrame, edges: DataFrame
) -> DataFrame:
    """Debris GC (schema.py:112-125): traces containing exactly one node
    whose total degree is 1 (i.e. only the containment edge). Returns the
    (unit_id, trace_id, node_id) rows to delete."""
    per_trace = trace_contains.groupBy("unit_id", "trace_id").agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    single = per_trace.filter(F.col("n_nodes") == 1).select("unit_id", "trace_id")
    deg = degree_table(edges, trace_contains)
    return (
        trace_contains.join(single, ["unit_id", "trace_id"])
        .join(deg.filter(F.col("degree") == 1), "node_id")
        .select("unit_id", "trace_id", "node_id")
    )


def iocs(nodes: DataFrame, trace_contains: DataFrame, unit_id: str) -> DataFrame:
    """IoC extraction for a unit (schema.py:154-168, element_behavior.py:788-857):
    nodes contained by the unit's traces, excluding PROCESS labels, distinct
    per node, with related_trace_ids intersected against the unit's traces.

    A node's ``related_trace_ids`` are exactly its containment incidences,
    so "related_trace_ids ∩ unit's traces" equals "the unit's containment
    rows for the node" — one equi-join + agg instead of an array intersect
    against a collected trace set (which would serialize the whole unit's
    trace list through a broadcast; this form stays set-oriented and the
    unit filter pushes into the containment scan)."""
    unit_contains = trace_contains.filter(F.col("unit_id") == unit_id)
    return (
        nodes.filter(F.col("label") != "PROCESS")
        .join(unit_contains.select("node_id", "trace_id"), "node_id")
        .groupBy("node_id", "label", "image")
        .agg(F.array_sort(F.collect_set("trace_id")).alias("related_trace_ids"))
        .select(
            F.col("image"),
            F.col("node_id").alias("artifact"),
            F.col("label").alias("artifact_type"),
            "related_trace_ids",
        )
    )


def unit_flush(table: DataFrame, unit_id: str) -> DataFrame:
    """Unit flush (schema.py:182-193) as a relational delete. With the
    production Iceberg tables partitioned by bucket(unit_id) this is a
    metadata-only ``DELETE FROM t WHERE unit_id = ?``."""
    return table.filter(F.col("unit_id") != unit_id)


def apply_debris(tables: GraphTables, debris: DataFrame) -> tuple[GraphTables, dict]:
    """Apply debris GC deletions across the graph tables (the relational
    ``DETACH DELETE t, n`` of reference FLUSH_SINGLE_ENTITIES_WITH_TRACE,
    schema.py:119-125): drop the debris traces, their containment rows,
    the contained nodes (degree 1 == containment-only, so no action edges
    exist by construction — asserted via anti-join all the same), and any
    rule-match rows on those nodes. Returns (new tables, A13 summary
    counters: rows deleted per table)."""
    d = debris.select("unit_id", "trace_id", "node_id").localCheckpoint(eager=True)
    d_traces = d.select("unit_id", "trace_id").distinct()
    d_nodes = d.select("node_id").distinct()
    new = GraphTables(
        nodes=tables.nodes.join(d_nodes, "node_id", "left_anti"),
        edges=tables.edges
        .join(d_nodes.withColumnRenamed("node_id", "src"), "src", "left_anti")
        .join(d_nodes.withColumnRenamed("node_id", "dst"), "dst", "left_anti"),
        traces=tables.traces.join(d_traces, ["unit_id", "trace_id"], "left_anti"),
        trace_contains=tables.trace_contains.join(
            d_traces, ["unit_id", "trace_id"], "left_anti"
        ),
        trace_spans=tables.trace_spans.join(
            d_traces, ["unit_id", "trace_id"], "left_anti"
        ),
        rule_matches=tables.rule_matches.join(d_nodes, "node_id", "left_anti"),
        errors=tables.errors,
    )
    counters = _deletion_counters(tables, new)
    return new, counters


def apply_unit_flush(tables: GraphTables, unit_id: str) -> tuple[GraphTables, dict]:
    """Flush one unit across the graph tables (reference FLUSH_UNIT_DATA,
    ``DETACH DELETE n WHERE n.unit_id = $unit_id``): only Trace nodes carry
    unit_id, so the delete removes the unit's traces and their containment
    edges; artifact nodes / action edges / rule matches persist (they may
    be shared with other units). Returns (new tables, A13 counters)."""
    new = GraphTables(
        nodes=tables.nodes,
        edges=tables.edges,
        traces=unit_flush(tables.traces, unit_id),
        trace_contains=unit_flush(tables.trace_contains, unit_id),
        trace_spans=unit_flush(tables.trace_spans, unit_id),
        rule_matches=tables.rule_matches,
        errors=tables.errors,
    )
    counters = _deletion_counters(tables, new)
    return new, counters


def _deletion_counters(before: GraphTables, after: GraphTables) -> dict:
    """A13 summary-counter deltas (reference keeps created/deleted counts
    per entity type): rows deleted per table — one cheap count job each."""
    return {
        name: getattr(before, name).count() - getattr(after, name).count()
        for name in (
            "nodes", "edges", "traces", "trace_contains", "trace_spans",
            "rule_matches",
        )
    }
