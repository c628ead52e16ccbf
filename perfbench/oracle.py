"""Independent DuckDB formulations of the ingest_query investigation.

Each method restates one query of ``operators.queries`` over the stored
graph tables, in the recursive-CTE form of the frozen ``oracle_sql()``
texts for ``related_traces``, ``provenance_export`` and
``neighborhood``, and returns the result in the shape the benchmark
collects from Spark.
"""

from __future__ import annotations

import os

import duckdb


class GraphOracle:
    def __init__(self, graph_dir: str, max_hop: int):
        self.max_hop = max_hop
        self.con = duckdb.connect()
        for t in ("nodes", "edges", "trace_contains"):
            path = os.path.join(graph_dir, t, "*.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.con.close()

    def related_traces(self, unit: str) -> list[tuple]:
        rows = self.con.execute(
            """
            WITH RECURSIVE
            und AS (SELECT src AS x, dst AS y FROM edges
                    UNION SELECT dst AS x, src AS y FROM edges),
            seed AS (SELECT DISTINCT trace_id, node_id AS x FROM trace_contains
                     WHERE unit_id = $unit),
            reach(trace_id, x, hops) AS (
              SELECT trace_id, x, 0 FROM seed
              UNION
              SELECT r.trace_id, e.y, r.hops + 1
              FROM reach r JOIN und e ON r.x = e.x WHERE r.hops < $max_hop),
            minreach AS (SELECT trace_id, x, min(hops) AS hops FROM reach GROUP BY 1, 2)
            SELECT t1, t2, min(plen) AS hops FROM (
              SELECT a.trace_id AS t1, b.trace_id AS t2, a.hops + b.hops AS plen
              FROM minreach a JOIN minreach b ON a.x = b.x AND a.trace_id < b.trace_id)
            WHERE plen <= $max_hop GROUP BY t1, t2
            """,
            {"unit": unit, "max_hop": self.max_hop},
        ).fetchall()
        return sorted((t1, t2, int(h)) for t1, t2, h in rows)

    def envelope(self, unit: str) -> dict:
        params = {"unit": unit, "last_hop": self.max_hop - 1}
        self.con.execute(
            """
            CREATE OR REPLACE TEMP TABLE sub_edges AS
            WITH RECURSIVE
            fe AS (
              SELECT e.src, e.predicate, e.dst, e.start_time, e.weight
              FROM edges e
              JOIN nodes ns ON ns.node_id = e.src
              JOIN nodes nd ON nd.node_id = e.dst
              WHERE ns.label <> 'MODULE'
                AND NOT (ns.label = 'PROCESS' AND nd.label = 'PROCESS')),
            anchor AS (SELECT DISTINCT node_id AS x FROM trace_contains WHERE unit_id = $unit),
            reach(x, hops) AS (
              SELECT x, 0 FROM anchor
              UNION
              SELECT fe.dst, r.hops + 1 FROM reach r JOIN fe ON fe.src = r.x
              WHERE r.hops < $last_hop),
            minreach AS (SELECT DISTINCT x FROM reach)
            SELECT DISTINCT fe.* FROM fe JOIN minreach m ON fe.src = m.x
            """,
            params,
        )
        nodes = self.con.execute(
            """
            SELECT DISTINCT n.node_id, n.label, n.image, n.related_span_ids, n.related_trace_ids
            FROM nodes n WHERE n.node_id IN (
              SELECT src FROM sub_edges UNION SELECT dst FROM sub_edges
              UNION SELECT node_id FROM trace_contains WHERE unit_id = $unit)
            ORDER BY n.node_id
            """,
            {"unit": unit},
        ).fetchall()
        rels = self.con.execute(
            "SELECT src, predicate, dst, start_time, weight FROM sub_edges "
            "ORDER BY src, predicate, dst"
        ).fetchall()
        return {
            "nodes": [
                {"elementId": nid, "labels": [label],
                 "properties": {"name": nid, "image": image,
                                "related_span_ids": list(spans),
                                "related_trace_ids": list(traces)}}
                for nid, label, image, spans, traces in nodes
            ],
            "rels": [
                {"elementId": f"{s}|{p}|{d}", "startNodeElementId": s,
                 "endNodeElementId": d, "type": p,
                 "properties": {"start_time": ts.isoformat(), "weight": w}}
                for s, p, d, ts, w in rels
            ],
        }

    def neighborhood(self, prefix: str, limit_entities: int = 2, limit_rows: int = 50) -> list[str]:
        rows = self.con.execute(
            """
            WITH targets AS (
              SELECT node_id FROM (
                SELECT src AS node_id FROM edges UNION SELECT dst FROM edges)
              WHERE starts_with(node_id, $prefix) ORDER BY node_id LIMIT $le)
            SELECT rendering FROM (
              SELECT DISTINCT src || ' - ' || predicate || ' -> ' || dst AS rendering
              FROM edges
              WHERE predicate <> 'MENTIONS'
                AND (src IN (SELECT node_id FROM targets) OR dst IN (SELECT node_id FROM targets)))
            ORDER BY rendering LIMIT $lr
            """,
            {"prefix": prefix, "le": limit_entities, "lr": limit_rows},
        ).fetchall()
        return [r[0] for r in rows]
