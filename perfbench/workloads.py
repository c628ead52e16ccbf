"""The workloads: one closed-loop client each, one Spark session.

Every workload has the same shape: ``setup`` builds the inputs from the
seed (and any prebuilt state the ops start from), ``op(k)`` runs one
measured operation and returns what the harness counts, and ``check``
verifies the outputs of the listed ops after the measured window, so
checking never sits inside an op's time. Inputs reach the program only
as generated rows (parquet files or DataFrames); the seed itself never
does.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Input sizes. Ops on this pipeline are bound by Spark job latency rather
# than rows, so sizes are chosen for the code path they force, not for
# volume (see README.md).
SIZES = {
    "full": {
        # crawl_build: ~4000 pages per rebuild; 30% hot pages each add a
        # page-unique entity, so the vocabulary passes link_entities'
        # 1024-entity driver fast path and the LSH + components path runs
        "pool_pages": 8000, "op_pages": 4000,
        # ingest_query: native sigraph events + a generic telemetry
        # stream mapped through events_map
        "native_sf": 0.002, "generic_events": 2000,
        "batches": 64, "base_share": 0.5, "max_hop": 2,
    },
    # tiny inputs for the benchmark's own smoke tests
    "smoke": {
        "pool_pages": 200, "op_pages": 100,
        "native_sf": 0.0004, "generic_events": 200,
        "batches": 8, "base_share": 0.5, "max_hop": 2,
    },
}

GRAPH_TABLES = ("nodes", "edges", "traces", "trace_contains", "trace_spans",
                "rule_matches", "errors")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return total


def _rng(seed: int, *salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, *salt])


class Workload:
    name = ""
    item = ""

    def __init__(self, spark: SparkSession, seed: int, work: str, sizes: dict, tracer=None):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.sizes = sizes
        self.tracer = tracer
        self.timings: dict[str, float] = {}

    def count(self, name: str, value: float) -> None:
        if self.tracer is not None:
            self.tracer.count(name, value)


# ---------------------------------------------------------------------------
# crawl_build
# ---------------------------------------------------------------------------

class CrawlBuild(Workload):
    """Each op is one full checkpointed KG rebuild (``run_pipeline``, as
    ``jobs/run_pipeline.py`` calls it) of a seeded snapshot of zipf pages
    into a fresh workdir."""

    name = "crawl_build"
    item = "pages"

    def setup(self) -> None:
        from sigraph_spark.corpus import gen_pages_zipf, portable_hash
        from sigraph_spark.operators.extract import extract_pages
        from sigraph_spark.operators.scoring import expected_triples
        from sigraph_spark.operators.triples import triples_from_docs

        t0 = time.perf_counter()
        sf = self.sizes["pool_pages"] / 1_000_000
        pool_dir = os.path.join(self.work, "pages")
        gen_pages_zipf(self.spark, sf=sf, obj_pool=None).write.parquet(pool_dir)
        self.pool = self.spark.read.parquet(pool_dir)
        self.timings["input_s"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        # goldens: the generator-derived triples plus the planted hot
        # sentence, whose page choice and object mirror gen_pages_zipf
        i = F.col("id")
        hot = (
            self.spark.range(0, self.sizes["pool_pages"])
            .filter((portable_hash(i, 97) % 1000) < 300)
            .select(
                F.concat(F.lit("https://example.org/report/"), i.cast("string")).alias("url"),
                F.lit("HotBot").alias("actor"),
                F.lit("launch").alias("verb"),
                F.concat(F.lit("C:\\hot\\payload_"), i.cast("string"), F.lit(".exe")).alias("object"),
            )
        )
        self.goldens: dict[str, set] = {}
        for r in expected_triples(self.spark, sf).unionByName(hot).toPandas().itertuples():
            self.goldens.setdefault(r.url, set()).add((r.url, r.actor, r.verb, r.object))
        pool = pq.read_table(pool_dir, columns=["url", "html"])
        self.html_bytes = dict(zip(pool["url"].to_pylist(),
                                   pc.binary_length(pool["html"]).to_pylist()))
        # start the Python workers both Arrow UDF stages reuse on every
        # core, so a rebuild does not pay their spawn and imports
        sample = self.pool.filter(F.substring_index("url", "/", -1).cast("long") % 500 == 0)
        triples_from_docs(extract_pages(sample)).collect()
        self.timings["prebuilt_s"] = time.perf_counter() - t0
        self.op_dirs: dict[int, str] = {}

    def _select(self, k: int) -> F.Column:
        """A seeded window of ``op_pages`` consecutive pool pages."""
        n, m = self.sizes["pool_pages"], self.sizes["op_pages"]
        start = int(_rng(self.seed, k).integers(n - m + 1))
        i = F.substring_index(F.col("url"), "/", -1).cast("long")
        return (i >= start) & (i < start + m)

    def op(self, k: int) -> dict:
        from sigraph_spark.plans.pipeline import read_manifest, run_pipeline

        wd = os.path.join(self.work, f"op-{k}")
        self.op_dirs[k] = wd
        run_pipeline(self.spark, self.pool.filter(self._select(k)), wd)
        stored = dir_bytes(wd)
        self.count("pipeline.bytes_written_mb", stored / (1 << 20))
        return {"items": read_manifest(os.path.join(wd, "s1_docs"))["rows"],
                "stored_bytes": stored}

    def _urls(self, k: int) -> list[str]:
        return pq.read_table(os.path.join(self.op_dirs[k], "s1_docs", "data"),
                             columns=["url"])["url"].to_pylist()

    def check(self, ops: list[int]) -> set[int]:
        """Each rebuild's triples must equal the goldens of its pages."""
        failed = set()
        for k in ops:
            got = pq.read_table(os.path.join(self.op_dirs[k], "s2_triples", "data"),
                                columns=["url", "actor", "verb", "object"])
            want = set().union(*(self.goldens.get(u, set()) for u in self._urls(k)))
            if set(zip(*(got[c].to_pylist() for c in got.column_names))) != want or not want:
                failed.add(k)
        return failed

    def stored_per_input(self, results: list[tuple[int, dict]]) -> float:
        return float(np.median([
            r["stored_bytes"] / sum(self.html_bytes[u] for u in self._urls(k))
            for k, r in results]))

    def cleanup(self, k: int) -> None:
        shutil.rmtree(self.op_dirs.pop(k), ignore_errors=True)


# ---------------------------------------------------------------------------
# event inputs
# ---------------------------------------------------------------------------

EVENT_TYPES = np.array(["click", "view", "signup", "purchase", "error"])


def generic_events(seed: int, n: int) -> pd.DataFrame:
    """A generic telemetry stream in the schema of the test-data
    ``events`` table (TESTDATA.md), the shape ``events_map.sigraph_events``
    maps into the graph."""
    rng = _rng(seed, 7)
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(
            rng.integers(0, 86_400, n), unit="s"),
        "user_id": rng.integers(0, 200, n).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": rng.random(n).round(4),
        "props": [f"k={v}" for v in rng.integers(0, 1000, n)],
    })


class _Events:
    """Writes the seed's event inputs: the native ``gen_events`` table and
    the generic stream, each split by the seed into a base share (batch
    ``-1``) and numbered batches, one parquet file per source and batch."""

    SOURCES = ("native", "generic")

    def __init__(self, spark: SparkSession, seed: int, work: str, sizes: dict):
        from sigraph_spark.corpus import gen_events

        self.spark = spark
        self.dir = os.path.join(work, "events")
        os.makedirs(self.dir)
        tables = {"native": gen_events(spark, sf=sizes["native_sf"]).toPandas(),
                  "generic": generic_events(seed, sizes["generic_events"])}
        self.batches = list(range(sizes["batches"]))
        for i, (src, df) in enumerate(tables.items()):
            # a seeded permutation: the base share first, then equal batches
            order = _rng(seed, 11, i).permutation(len(df))
            n_base = int(sizes["base_share"] * len(df))
            part = np.empty(len(df), dtype=np.int64)
            part[order[:n_base]] = -1
            part[order[n_base:]] = np.arange(len(df) - n_base) % len(self.batches)
            ts = "timestamp" if src == "native" else "ts"
            df[ts] = df[ts].dt.tz_localize("UTC")
            for b in [-1] + self.batches:
                pq.write_table(pa.Table.from_pandas(df[part == b], preserve_index=False),
                               self._path(src, b), coerce_timestamps="us")

    def _path(self, source: str, b: int) -> str:
        return os.path.join(self.dir, f"{source}-{b}.parquet")

    def events(self, batches: list[int]) -> DataFrame:
        """The given batches (``-1`` is the base share) as GraphNode events."""
        from sigraph_spark.sources import events_map

        read = self.spark.read.parquet
        native = read(*[self._path("native", b) for b in batches])
        generic = read(*[self._path("generic", b) for b in batches])
        return native.unionByName(events_map.sigraph_events(generic))

    def rows(self, b: int) -> int:
        return sum(pq.read_metadata(self._path(src, b)).num_rows for src in self.SOURCES)

    def bytes(self, b: int) -> int:
        return sum(os.path.getsize(self._path(src, b)) for src in self.SOURCES)


def rows_of(df) -> list[tuple]:
    """A pandas frame as a sorted list of plain-Python row tuples, so two
    tables compare as multisets whatever their partitioning."""
    def plain(v):
        if isinstance(v, (list, tuple, np.ndarray)):
            return tuple(plain(x) for x in v)
        if pd.isna(v):
            return None
        if hasattr(v, "to_pydatetime"):
            return v.to_pydatetime()
        return v.item() if isinstance(v, np.generic) else v

    cols = sorted(df.columns)
    return sorted((tuple(plain(v) for v in row) for row in df[cols].itertuples(index=False)),
                  key=repr)


def read_table(path: str):
    """A stored table as pandas, read without Spark."""
    return pq.read_table(path).to_pandas()


def read_rows(path: str) -> list[tuple]:
    return rows_of(read_table(path))


def write_graph(g, path: str) -> None:
    for t in GRAPH_TABLES:
        getattr(g, t).write.parquet(os.path.join(path, t))


def read_graph(spark: SparkSession, path: str):
    from sigraph_spark.operators.graph import GraphTables

    return GraphTables(**{t: spark.read.parquet(os.path.join(path, t)) for t in GRAPH_TABLES})


# ---------------------------------------------------------------------------
# ingest_query
# ---------------------------------------------------------------------------

class IngestQuery(Workload):
    """Set-up builds the graph from the base share of the event inputs and
    stores it as version 0. Each op is the write path followed by the read
    path on the graph it produced: ``merge_graph_tables`` merges the next
    batch and the merged tables are stored as the next version, then one
    analyst investigation of a seeded unit runs on that version
    (``related_traces``, ``provenance_subgraph`` + ``export_envelope``,
    ``neighborhood`` on one of the unit's processes)."""

    name = "ingest_query"
    item = "events"

    def setup(self) -> None:
        from sigraph_spark.operators import graph

        t0 = time.perf_counter()
        self.ev = _Events(self.spark, self.seed, self.work, self.sizes)
        self.timings["input_s"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        self.version = 0
        write_graph(graph.build_graph(self.ev.events([-1])), self._vdir(0))
        self.current = read_graph(self.spark, self._vdir(0))
        self.applied: list[int] = [-1]
        self.input_bytes = self.ev.bytes(-1)
        # investigation targets: each unit's PROCESS nodes, read from the
        # stored base graph without a Spark job
        contains = read_table(os.path.join(self._vdir(0), "trace_contains"))
        nodes = read_table(os.path.join(self._vdir(0), "nodes"))
        procs = set(nodes.node_id[nodes.label == "PROCESS"])
        self.units: dict[str, list[str]] = {}
        for unit, node in set(zip(contains.unit_id, contains.node_id)):
            if node in procs:
                self.units.setdefault(unit, []).append(node)
        self.unit_ids = sorted(self.units)
        self.timings["prebuilt_s"] = time.perf_counter() - t0
        self.results: dict[int, dict] = {}

    def _vdir(self, v: int) -> str:
        return os.path.join(self.work, "graph", f"v{v}")

    def target(self, k: int) -> tuple[str, str]:
        rng = _rng(self.seed, k)
        unit = self.unit_ids[int(rng.integers(len(self.unit_ids)))]
        procs = sorted(self.units[unit])
        return unit, procs[int(rng.integers(len(procs)))]

    def op(self, k: int) -> dict:
        from sigraph_spark.operators import graph, queries

        if k >= len(self.ev.batches):
            raise RuntimeError("event batches exhausted")
        b = self.ev.batches[k]
        if self.tracer is not None:
            self.count("graph.merge_rows_existing", self.table_rows())
        merged = graph.merge_graph_tables(self.current, self.ev.events([b]))
        write_graph(merged, self._vdir(self.version + 1))
        self.version += 1
        g = self.current = read_graph(self.spark, self._vdir(self.version))
        self.applied.append(b)
        self.input_bytes += self.ev.bytes(b)

        unit, proc = self.target(k)
        hop = self.sizes["max_hop"]
        related = [tuple(r) for r in queries.related_traces(
            g.traces, g.trace_contains, g.edges, unit, max_hop=hop).collect()]
        sub_nodes, sub_edges = queries.provenance_subgraph(
            g.trace_contains, g.edges, g.nodes, unit, max_hop=hop)
        envelope = queries.export_envelope(sub_nodes, sub_edges)
        near = [r[0] for r in queries.neighborhood(g.edges, proc).collect()]
        self.results[k] = {"version": self.version, "unit": unit, "proc": proc,
                           "related": related, "envelope": envelope, "neighborhood": near}
        return {"items": self.ev.rows(b),
                "stored_bytes": dir_bytes(self._vdir(self.version)),
                "input_bytes": self.input_bytes}

    def stored_per_input(self, results: list[tuple[int, dict]]) -> float:
        return float(np.median([r["stored_bytes"] / r["input_bytes"] for _, r in results]))

    def table_rows(self) -> int:
        """Rows of the stored merge inputs, for the merge's rows-in/out."""
        return sum(getattr(self.current, t).count() for t in GRAPH_TABLES if t != "errors")

    def check(self, ops: list[int]) -> set[int]:
        """Each investigation must equal the DuckDB formulation over the
        version it ran on. The final merged graph must equal a from-scratch
        ``build_graph`` over the union of base and every applied batch (the
        graph_merge_* contract); a mismatch there fails every op."""
        from perfbench import oracle
        from sigraph_spark.operators import graph

        want = graph.build_graph(self.ev.events(self.applied))
        for t in GRAPH_TABLES:
            got = read_rows(os.path.join(self._vdir(self.version), t))
            if rows_of(getattr(want, t).toPandas()) != got:
                return set(ops)
        failed = set()
        for k in ops:
            r = self.results[k]
            with oracle.GraphOracle(self._vdir(r["version"]), self.sizes["max_hop"]) as o:
                if (sorted(r["related"]) != o.related_traces(r["unit"])
                        or r["envelope"] != o.envelope(r["unit"])
                        or r["neighborhood"] != o.neighborhood(r["proc"])):
                    failed.add(k)
        return failed


WORKLOADS = {w.name: w for w in (CrawlBuild, IngestQuery)}
