"""Spans around calls into the program's layers, taken from outside.

A traced run replaces chosen module attributes of ``sigraph_spark`` with
wrappers. Each wrapper opens a span (name, start, end, parent span, op
id), runs the call under a Spark job group named after the span, and —
because Spark is lazy — forces the call's output at the boundary with an
eager local checkpoint, so the work the layer describes is done inside
its span and the rows it returned are counted there. Spans stay in
memory; the run writes them out when it ends.

Layer functions are looked up through their module at call time by the
program (``run_pipeline`` imports its operators inside the function,
``build_graph`` calls ``parse_events`` through its module globals), so
patching the module attribute also catches the calls one layer makes
into another. An untraced run installs nothing.
"""

from __future__ import annotations

import dataclasses
import importlib
import inspect
import json
import os
import time
from collections import defaultdict

from pyspark.sql import DataFrame

# (module, function, metric prefix): each prefix is the module's own name
# inside sigraph_spark.
LAYER_FUNCTIONS = [
    ("sigraph_spark.corpus", "gen_pages_zipf", "corpus"),
    ("sigraph_spark.corpus", "gen_events", "corpus"),
    ("sigraph_spark.operators.extract", "extract_pages", "extract"),
    ("sigraph_spark.operators.triples", "triples_from_docs", "triples"),
    ("sigraph_spark.operators.linking", "link_entities", "linking"),
    ("sigraph_spark.operators.linking", "canonicalize_triples", "linking"),
    ("sigraph_spark.operators.skew", "salted_adjacency", "skew"),
    ("sigraph_spark.plans.pipeline", "run_stage", "pipeline"),
    ("sigraph_spark.sources.events_map", "sigraph_events", "events_map"),
    ("sigraph_spark.operators.graph", "parse_events", "graph"),
    ("sigraph_spark.operators.graph", "build_graph", "graph"),
    ("sigraph_spark.operators.graph", "merge_graph_tables", "graph"),
    ("sigraph_spark.operators.queries", "related_traces", "queries"),
    ("sigraph_spark.operators.queries", "provenance_subgraph", "queries"),
    ("sigraph_spark.operators.queries", "export_envelope", "queries"),
    ("sigraph_spark.operators.queries", "neighborhood", "queries"),
]


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """``end - start`` minus the part of that interval covered by the
    union of the child intervals."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


@dataclasses.dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: str
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    rows_out: int = 0
    extra: dict = dataclasses.field(default_factory=dict)


class Tracer:
    """Owns the spans of one run. ``op`` is the id the harness sets
    before each phase: ``setup``, ``op-<k>`` for measured op k, ``check``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.counters: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.op = "setup"
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- job groups ---------------------------------------------------
    def _set_group(self) -> None:
        group = f"span-{self._stack[-1].id}" if self._stack else self.op
        self.sc.setJobGroup(group, group)

    def begin_op(self, op: str) -> None:
        self.op = op
        self._set_group()

    def count(self, name: str, value: float) -> None:
        """An op-level counter measured by the workload itself."""
        self.counters[self.op][name] += value

    # -- patching -----------------------------------------------------
    def install(self) -> None:
        from sigraph_spark.operators import linking

        for mod_name, fn_name, layer in LAYER_FUNCTIONS:
            mod = importlib.import_module(mod_name)
            self._patch(mod, fn_name, self._span_wrapper(
                getattr(mod, fn_name), f"{layer}.{fn_name}"))
        # link_entities' useful-work ratio: candidate pairs are counted
        # where LSH blocking returns them and verified pairs where the
        # cosine scores come back, both inside the link_entities span
        threshold = inspect.signature(linking.link_entities).parameters[
            "cosine_threshold"].default
        self._patch(linking, "candidate_pairs", self._counter_wrapper(
            linking.candidate_pairs, "candidate_pairs", None))
        self._patch(linking, "tfidf_cosine_scores", self._counter_wrapper(
            linking.tfidf_cosine_scores, "verified_pairs", threshold))

    def uninstall(self) -> None:
        for mod, name, orig in reversed(self._patched):
            setattr(mod, name, orig)
        self._patched.clear()

    def _patch(self, mod, name: str, wrapper) -> None:
        self._patched.append((mod, name, getattr(mod, name)))
        setattr(mod, name, wrapper)

    def _span_wrapper(self, fn, name: str):
        def wrapper(*args, **kwargs):
            parent = self._stack[-1].id if self._stack else None
            span = Span(len(self.spans), name, parent, self.op, time.perf_counter())
            self.spans.append(span)
            self._stack.append(span)
            self._set_group()
            try:
                out = force(fn(*args, **kwargs), span)
            finally:
                span.end = time.perf_counter()
                self._stack.pop()
                self._count_jobs(span)
                self._set_group()
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def _counter_wrapper(self, fn, key: str, threshold: float | None):
        def wrapper(*args, **kwargs):
            from pyspark.sql import functions as F

            out = fn(*args, **kwargs).localCheckpoint(eager=True)
            n = out.count() if threshold is None else out.filter(
                F.col("cosine") >= threshold).count()
            if self._stack:
                extra = self._stack[-1].extra
                extra[key] = extra.get(key, 0) + n
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def _count_jobs(self, span: Span) -> None:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(f"span-{span.id}")
        span.jobs = len(jobs)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                tasks += si.numCompletedTasks if si else 0
        span.tasks = tasks

    def dump(self, path: str, metrics: dict) -> None:
        with open(path, "w") as f:
            json.dump({
                "spans": [dataclasses.asdict(s) for s in self.spans],
                "counters": {k: dict(v) for k, v in self.counters.items()},
                "metrics": metrics,
            }, f)


def _force_df(df: DataFrame) -> tuple[DataFrame, int]:
    cp = df.localCheckpoint(eager=True)
    return cp, cp.count()


def force(out, span: Span):
    """Materialize a layer call's output; record its row count on the span."""
    if isinstance(out, DataFrame):
        out, span.rows_out = _force_df(out)
        return out
    if isinstance(out, tuple):
        forced, rows = [], []
        for x in out:
            if isinstance(x, DataFrame):
                x, n = _force_df(x)
                rows.append(n)
            forced.append(x)
        span.rows_out = sum(rows)
        span.extra["rows_by_output"] = rows
        return tuple(forced)
    if dataclasses.is_dataclass(out):
        fields, rows = {}, {}
        for f in dataclasses.fields(out):
            x = getattr(out, f.name)
            if isinstance(x, DataFrame):
                x, rows[f.name] = _force_df(x)
            fields[f.name] = x
        span.rows_out = sum(rows.values())
        span.extra["rows_by_table"] = rows
        return type(out)(**fields)
    if isinstance(out, dict):  # export_envelope's document
        span.rows_out = sum(len(v) for v in out.values() if isinstance(v, list))
    return out


# ---------------------------------------------------------------------------
# Spark event log: per-job-group CPU, Python-worker, shuffle and spill
# ---------------------------------------------------------------------------

# ArrowEvalPython's SQL timing metric (milliseconds) for the time tasks
# spend running Python workers, start-up and initialization excluded
PYTHON_RUN_METRIC = "time to run Python workers"


def event_log_by_group(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group over every uncompressed event log
    file under ``log_dir``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    files = []
    for root, _, names in os.walk(log_dir):
        files += [os.path.join(root, n) for n in names if not n.startswith(".")]
    for path in sorted(files):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    g = out[stage_group.get(ev.get("Stage ID"), "")]
                    m = ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_mb"] += (
                        sw.get("Shuffle Bytes Written", 0)
                        + sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)
                    ) / (1 << 20)
                    g["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / (1 << 20)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") == PYTHON_RUN_METRIC and acc.get("Update") is not None:
                            g["py_s"] += float(acc["Update"]) / 1e3
    return {k: dict(v) for k, v in out.items()}
