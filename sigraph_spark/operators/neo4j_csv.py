"""Neo4j bulk-import CSV sink (``neo4j-admin database import`` format).

The reference's graph lives in Neo4j and is written one element at a time:
``MERGE (n:...) SET n += $props`` per node and a three-way MERGE per
relationship (``/root/reference/src/graph/graph_client/client.py:160-169,
215-224``) — one driver round-trip per element. At web scale the sanctioned
path into Neo4j is the OFFLINE bulk importer ``neo4j-admin database import
full``, which consumes typed-header CSVs (nodes with ``:ID``/``:LABEL``,
relationships with ``:START_ID``/``:END_ID``/``:TYPE``) and builds the store
directly, no transactions. This module renders the KG's node/edge tables
into exactly that format.

Scale design (the part that must survive 100 TB):
* rendering is a pure NARROW map — quoted/escaped ``concat`` projections,
  zero shuffle, zero UDF (whole-stage codegen; each rule restated in ANSI
  SQL by the gate oracle);
* every task writes its own CSV shard — the importer accepts many data
  files per header (``--nodes=header.csv,shard-.*``), so ten thousand
  writers need no coordination and no merge step;
* the one-line header files are written driver-side (constant size).

Format rules implemented (Neo4j operations manual, CSV header format):
* every field is double-quoted; embedded ``"`` doubles to ``""``
  (RFC 4180) — newlines/commas inside values are then legal;
* array properties use the default ``;`` array delimiter with a
  ``:string[]`` header type. The importer has NO escape for the array
  delimiter inside an element, so ``array_delim_conflicts`` surfaces
  offending rows for the caller to reject loudly (importer would silently
  split them);
* NULL renders as the empty string (importer treats empty as absent);
* timestamps render ISO-8601 for ``:datetime`` columns, integers ``:long``.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"

NODES_HEADER = (
    "node_id:ID,:LABEL,image,"
    "related_span_ids:string[],related_trace_ids:string[]"
)
RELS_HEADER = ":START_ID,:END_ID,:TYPE,weight:long,start_time:datetime"


def _q(col: Column) -> Column:
    """RFC-4180 field: escape embedded quotes, wrap in quotes; NULL -> ``""``."""
    return F.concat(
        F.lit('"'),
        F.replace(F.coalesce(col, F.lit("")), F.lit('"'), F.lit('""')),
        F.lit('"'),
    )


def _q_arr(col: Column) -> Column:
    """Array field: per-element quote escaping, ``;``-joined, quoted."""
    return _q(F.array_join(F.transform(col, lambda x: F.replace(x, F.lit('"'), F.lit('""'))), ";"))


def nodes_csv(nodes: DataFrame) -> DataFrame:
    """Node table (``graph.build_nodes`` shape) -> one-column ``line``
    DataFrame of import-ready CSV rows matching ``NODES_HEADER``.

    ``label`` doubles as the Neo4j ``:LABEL`` — the same label taxonomy the
    reference sets via ``MERGE (n:\\`PROCESS\\`...)``
    (client.py:160, primary label = first extracted label)."""
    return nodes.select(
        F.concat_ws(
            ",",
            _q(F.col("node_id")),
            _q(F.col("label")),
            _q(F.col("image")),
            _q_arr(F.col("related_span_ids")),
            _q_arr(F.col("related_trace_ids")),
        ).alias("line")
    )


def rels_csv(edges: DataFrame) -> DataFrame:
    """Edge table (``graph.build_edges`` shape: src, predicate, dst,
    start_time, weight) -> ``line`` DataFrame matching ``RELS_HEADER``.

    ``predicate`` becomes the relationship ``:TYPE`` — the reference's
    ``MERGE (s)-[r:\\`ACTION\\`]->(e) SET r += $rprops``
    (client.py:221-224) collapsed to one importer row."""
    return edges.select(
        F.concat_ws(
            ",",
            _q(F.col("src")),
            _q(F.col("dst")),
            _q(F.col("predicate")),
            _q(F.col("weight").cast("string")),
            _q(F.date_format(F.col("start_time"), _TS_FMT)),
        ).alias("line")
    )


def array_delim_conflicts(
    nodes: DataFrame, array_cols: tuple[str, ...] = ("related_span_ids", "related_trace_ids")
) -> DataFrame:
    """Rows whose array elements contain the ``;`` array delimiter — the one
    value class the importer format cannot carry. Callers assert this is
    empty (or route the rows to the error channel) BEFORE writing."""
    bad = None
    for c in array_cols:
        hit = F.exists(F.col(c), lambda x: x.contains(";"))
        bad = hit if bad is None else (bad | hit)
    return nodes.filter(bad)


def write_neo4j_import(
    nodes: DataFrame, edges: DataFrame, outdir: str, database: str = "kg"
) -> str:
    """Write the full bulk-import layout and return the import command.

    Layout::

        <outdir>/nodes.header.csv      (one line, driver-side)
        <outdir>/nodes/part-*.txt      (data shards, one per task)
        <outdir>/rels.header.csv
        <outdir>/rels/part-*.txt

    Shards are plain text sinks — append-only, per-task, no shuffle. The
    returned ``neo4j-admin`` invocation uses header+regex file groups, the
    importer's native multi-file form.
    """
    if not array_delim_conflicts(nodes).isEmpty():
        raise ValueError(
            "node array property contains the ';' array delimiter; "
            "route offenders via array_delim_conflicts() before export"
        )
    os.makedirs(outdir, exist_ok=True)
    for name, line in (("nodes", NODES_HEADER), ("rels", RELS_HEADER)):
        with open(os.path.join(outdir, f"{name}.header.csv"), "w") as fh:
            fh.write(line + "\n")
    nodes_csv(nodes).write.mode("overwrite").text(os.path.join(outdir, "nodes"))
    rels_csv(edges).write.mode("overwrite").text(os.path.join(outdir, "rels"))
    return import_command(outdir, database)


def import_command(outdir: str, database: str = "kg") -> str:
    """The ``neo4j-admin database import full`` invocation for a layout
    produced by ``write_neo4j_import`` (header file + shard regex per
    group; ``--array-delimiter`` pinned to the format this module emits)."""
    return (
        "neo4j-admin database import full"
        f" --nodes={outdir}/nodes.header.csv,{outdir}/nodes/part-.*"
        f" --relationships={outdir}/rels.header.csv,{outdir}/rels/part-.*"
        ' --delimiter="," --array-delimiter=";" --quote="\\""'
        # RFC-4180 quoting legally carries embedded newlines; the importer
        # rejects them unless multiline fields are enabled
        " --multiline-fields=true"
        f" {database}"
    )
