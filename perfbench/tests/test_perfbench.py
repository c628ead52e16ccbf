"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The order statistics and the self-time arithmetic are pure; the smoke
tests run every workload end to end at tiny scale, correctness checks
included, and show that each check rejects a wrong output.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.tracer import self_time  # noqa: E402


# -- the ">= 10 beyond" tail rule ---------------------------------------------

def test_tail_takes_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 26)]  # 25 samples, shuffled below
    t = stats.tail(list(reversed(xs)))
    assert t["rule_met"] and t["n_beyond"] == 10
    assert t["value"] == 15.0 and t["percentile"] == 60.0
    assert sum(x > t["value"] for x in xs) == 10


def test_tail_with_eleven_samples_is_the_minimum():
    t = stats.tail([5.0, 1.0, 2, 3, 4, 6, 7, 8, 9, 10, 11])
    assert t["value"] == 1.0 and t["rule_met"]


def test_tail_without_enough_samples_reports_max_and_says_so():
    t = stats.tail([3.0, 1.0, 2.0])
    assert t == {"value": 3.0, "percentile": 100.0, "n": 3, "n_beyond": 0, "rule_met": False}


# -- self time -------------------------------------------------------------------

def test_self_time_subtracts_union_of_children():
    # overlapping children count once; the part of a child outside its
    # parent does not count
    children = [(1.0, 3.0), (2.0, 4.0), (5.0, 6.0), (9.0, 12.0)]
    assert self_time(0.0, 10.0, children) == pytest.approx(10 - 3 - 1 - 1)


def test_self_time_leaf_and_nested():
    assert self_time(2.0, 5.0, []) == 3.0
    # a grandchild inside a child is already covered by the child
    assert self_time(0.0, 10.0, [(2.0, 8.0), (3.0, 4.0)]) == pytest.approx(4.0)


# -- BENCHMARK.json and the metrics the runs print ------------------------------

def test_layer_metrics_cover_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = {m["name"] for m in spec["per_layer"]}
    for layer in ("session", "corpus", "extract", "triples", "linking", "skew",
                  "pipeline", "events_map", "graph", "queries"):
        assert any(n.startswith(layer + ".") for n in names), layer


# -- tiny-scale smoke of every workload --------------------------------------------

@pytest.fixture(scope="module")
def out_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("perfbench"))


@pytest.mark.parametrize("workload", ["crawl_build", "ingest_query"])
def test_workload_smoke(workload, out_dir):
    from perfbench.run import run

    res = run(workload, seed=3, seconds=0.1, trace=False, sizes="smoke", out_dir=out_dir)
    assert res["attempted"] >= 1 and res["failed"] == 0
    for name, (value, _) in res["e2e"].items():
        assert value > 0, name
    assert res["e2e"]["ok_op_ratio"][0] == 1.0


@pytest.mark.parametrize("workload,spans", [
    ("crawl_build", ["pipeline.run_stage", "extract.extract_pages",
                     "triples.triples_from_docs", "linking.link_entities",
                     "linking.canonicalize_triples", "skew.salted_adjacency"]),
    ("ingest_query", ["events_map.sigraph_events", "graph.merge_graph_tables",
                      "graph.build_graph", "graph.parse_events", "queries.related_traces",
                      "queries.provenance_subgraph", "queries.export_envelope",
                      "queries.neighborhood"]),
])
def test_traced_smoke_writes_spans_and_layers(workload, spans, out_dir):
    from perfbench.run import run

    res = run(workload, seed=3, seconds=0.1, trace=True, sizes="smoke", out_dir=out_dir)
    assert res["failed"] == 0
    layers = res["layers"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert {m["name"] for m in json.load(f)["per_layer"]} <= set(layers)
    for name in spans:
        assert layers[f"{name}.jobs"][0] > 0, name
        assert layers[f"{name}.s"][0] > 0, name
    assert layers["spark.jobs_per_op"][0] >= sum(layers[f"{n}.jobs"][0] for n in spans)
    assert layers["trace.overhead_ratio"][0] > 0  # the untraced smoke ran first
    with open(os.path.join(out_dir, f"trace-{workload}-seed3.json")) as f:
        recorded = json.load(f)["spans"]
    assert {s["name"] for s in recorded if s["op"] == "op-0"} == set(spans)
    if workload == "crawl_build":
        assert layers["extract.extract_pages.py_s"][0] > 0
        op = [s for s in recorded if s["op"] == "op-0"]
        stage = [s for s in op if s["name"] == "pipeline.run_stage"]
        assert all(s["parent"] is None for s in stage)
        assert {c["parent"] for c in op if c["name"] == "extract.extract_pages"} <= {
            s["id"] for s in stage}
    else:
        assert 0 < layers["graph.parse_events.error_ratio"][0] < 0.05
        assert layers["graph.merge_rows_in_per_out"][0] >= 1.0
        merge = [s for s in recorded if s["name"] == "graph.merge_graph_tables"]
        child = [s["name"] for s in recorded if s["parent"] == merge[0]["id"]]
        assert child == ["graph.build_graph"]


# -- each correctness check rejects a wrong output ---------------------------------

@pytest.fixture
def session(tmp_path):
    from perfbench.run import _environment, _session_conf
    from sigraph_spark.session import build_session

    work = str(tmp_path)
    _environment(work)
    spark = build_session(app_name="perfbench-test", master="local[2]", shuffle_partitions=2,
                          extra_conf=_session_conf(work, False))
    yield spark, work
    spark.stop()


def _one_op(name, session):
    from perfbench.workloads import SIZES, WORKLOADS

    spark, work = session
    wl = WORKLOADS[name](spark, 5, work, SIZES["smoke"])
    wl.setup()
    wl.op(0)
    assert wl.check([0]) == set()
    return wl


def test_crawl_build_check_rejects_missing_triple(session):
    wl = _one_op("crawl_build", session)
    url = next(u for u in wl._urls(0) if wl.goldens.get(u))
    wl.goldens[url] = set(list(wl.goldens[url])[1:]) | {(url, "X", "launch", "y")}
    assert wl.check([0]) == {0}


def test_ingest_query_checks_reject_wrong_results(session):
    wl = _one_op("ingest_query", session)
    wl.results[0]["related"].append(("t-a", "t-b", 1))
    assert wl.check([0]) == {0}
    wl.results[0]["related"].pop()
    wl.applied.pop()  # the merged graph no longer matches the rebuilt one
    assert wl.check([0]) == {0}
