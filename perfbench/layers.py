"""Per-layer metrics of a traced run, from its spans, counters and event log."""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from statistics import median

from perfbench.tracer import LAYER_FUNCTIONS, event_log_by_group, self_time

SPAN_FIELDS = {"s": "s", "jobs": "count", "tasks": "count", "rows_out": "count",
               "cpu_s": "s", "py_s": "s", "shuffle_mb": "MB", "spill_mb": "MB"}
EVENT_LOG_FIELDS = ("cpu_s", "py_s", "shuffle_mb", "spill_mb")
SPARK_FIELDS = {"jobs": "count", "tasks": "count", "cpu_s": "s", "gc_s": "s",
                "shuffle_mb": "MB", "spill_mb": "MB"}


def _per_op_totals(tracer, by_group: dict) -> dict[str, dict[str, float]]:
    """For every measured op, each span name's self time and self counts."""
    children = defaultdict(list)
    for s in tracer.spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in tracer.spans:
        if not s.op.startswith("op-"):
            continue
        t = totals[s.op]
        t[f"{s.name}.s"] += self_time(s.start, s.end, children[s.id])
        t[f"{s.name}.jobs"] += s.jobs
        t[f"{s.name}.tasks"] += s.tasks
        t[f"{s.name}.rows_out"] += s.rows_out
        g = by_group.get(f"span-{s.id}", {})
        for f in EVENT_LOG_FIELDS:
            t[f"{s.name}.{f}"] += g.get(f, 0.0)
    return totals


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _untraced_p50(out_dir: str, workload: str, seed: int) -> float | None:
    same = os.path.join(out_dir, f"untraced-{workload}-seed{seed}.json")
    paths = [same] if os.path.exists(same) else sorted(
        glob.glob(os.path.join(out_dir, f"untraced-{workload}-seed*.json")), key=os.path.getmtime)
    if not paths:
        return None
    with open(paths[-1]) as f:
        return json.load(f)["op_p50_s"]


def per_layer_metrics(tracer, log_dir: str, setup: dict, storage: list[float],
                      times: list[float], out_dir: str, workload: str,
                      seed: int) -> dict[str, tuple[float, str]]:
    by_group = event_log_by_group(log_dir)
    totals = _per_op_totals(tracer, by_group)
    ops = [f"op-{k}" for k in sorted(int(o[3:]) for o in totals)] or ["op-none"]
    n_ops = len(times)
    out: dict[str, tuple[float, str]] = {}

    def med(key: str) -> float:
        return median([totals[o].get(key, 0.0) for o in ops])

    for _, fn, layer in LAYER_FUNCTIONS:
        if layer == "corpus":
            continue
        for f, unit in SPAN_FIELDS.items():
            out[f"{layer}.{fn}.{f}"] = (med(f"{layer}.{fn}.{f}"), unit)

    measured = [s for s in tracer.spans if s.op.startswith("op-")]
    by_name = defaultdict(list)
    for s in measured:
        by_name[s.name].append(s)
    link = by_name["linking.link_entities"]
    out["linking.match_ratio"] = (_ratio(
        sum(s.extra.get("verified_pairs", 0) for s in link),
        sum(s.extra.get("candidate_pairs", 0) for s in link)), "ratio")
    # the parse error sentinel counts every parse of the run, set-up's
    # base graph included: one ingest batch holds too few rows for it
    parse = [s.extra["rows_by_output"] for s in tracer.spans if s.name == "graph.parse_events"]
    out["graph.parse_events.error_ratio"] = (_ratio(
        sum(r[1] for r in parse), sum(r[0] + r[1] for r in parse)), "ratio")

    def rows_no_errors(span) -> int:
        return sum(v for k, v in span.extra.get("rows_by_table", {}).items() if k != "errors")

    merge_in = merge_out = 0
    for s in by_name["graph.merge_graph_tables"]:
        delta = [c for c in measured if c.parent == s.id and c.name == "graph.build_graph"]
        merge_in += tracer.counters[s.op].get("graph.merge_rows_existing", 0)
        merge_in += sum(rows_no_errors(c) for c in delta)
        merge_out += rows_no_errors(s)
    out["graph.merge_rows_in_per_out"] = (_ratio(merge_in, merge_out), "ratio")
    out["pipeline.bytes_written_mb"] = (median(
        [tracer.counters[o].get("pipeline.bytes_written_mb", 0.0) for o in ops]), "MB")

    # workload-wide Spark counters: every job group a measured op owns
    op_of_group = {f"span-{s.id}": s.op for s in measured}
    op_of_group.update({o: o for o in ops})
    spark_tot = defaultdict(float)
    for group, m in by_group.items():
        if group in op_of_group:
            for f in SPARK_FIELDS:
                spark_tot[f] += m.get(f, 0.0)
    for f, unit in SPARK_FIELDS.items():
        out[f"spark.{f}_per_op"] = (spark_tot[f] / n_ops, unit)
    out["spark.storage_mb"] = (max(storage), "MB")

    setup_spans = [s for s in tracer.spans if s.op == "setup"]
    for name in ("corpus.gen_pages_zipf", "corpus.gen_events"):
        out[f"{name}.s"] = (sum(s.end - s.start for s in setup_spans if s.name == name), "s")
    out["session.build_session.s"] = (setup["session_s"], "s")
    for f in ("session_s", "input_s", "prebuilt_s"):
        out[f"setup.{f}"] = (setup[f], "s")

    traced_p50 = median(times)
    untraced = _untraced_p50(out_dir, workload, seed)
    out["trace.op_p50_s"] = (traced_p50, "s")
    out["trace.overhead_ratio"] = (_ratio(traced_p50, untraced or 0.0), "ratio")
    return out
