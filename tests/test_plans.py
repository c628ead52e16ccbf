"""Checkpointed stages: manifests, resume-on-match, recompute-on-change,
plus physical-plan hygiene checks (pushdown / no per-row Python)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from sigraph_spark.plans.pipeline import (
    read_manifest,
    run_pipeline,
    run_stage,
    table_fingerprint,
)


def test_run_stage_writes_manifest_and_resumes(spark, tmp_path):
    out = str(tmp_path / "stage1")
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("x"))

    df1 = run_stage(spark, "s", out, build, input_fingerprint="fp-A")
    assert df1.count() == 10
    assert calls["n"] == 1
    m = read_manifest(out)
    assert m["stage"] == "s" and m["rows"] == 10
    assert len(m["partitions"]) >= 1
    assert m["output_fingerprint"] == table_fingerprint(df1)
    # matching fingerprint -> resumed, no recompute
    df2 = run_stage(spark, "s", out, build, input_fingerprint="fp-A")
    assert calls["n"] == 1
    assert df2.count() == 10
    # changed input -> recompute
    run_stage(spark, "s", out, build, input_fingerprint="fp-B")
    assert calls["n"] == 2


def test_table_fingerprint_order_insensitive(spark):
    a = spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("k"))
    fp1 = table_fingerprint(a.repartition(1))
    fp2 = table_fingerprint(a.repartition(13).sortWithinPartitions(F.col("k")))
    assert fp1 == fp2
    b = spark.range(101).select(F.col("id"), (F.col("id") % 7).alias("k"))
    assert table_fingerprint(b) != fp1


def test_full_pipeline_runs_and_resumes(spark, tmp_path):
    from sigraph_spark.corpus import gen_pages

    pages = gen_pages(spark, sf=0.001)
    wd = str(tmp_path / "wd")
    out1 = run_pipeline(spark, pages, wd, input_fingerprint="run-1")
    n_edges = out1["edges"].count()
    assert n_edges > 0
    assert out1["triples"].count() > 0
    # resume: all manifests match -> same results, instant
    out2 = run_pipeline(spark, pages, wd, input_fingerprint="run-1")
    assert out2["edges"].count() == n_edges
    # fingerprints CHAIN: each stage is keyed on its upstreams' outputs
    m1 = read_manifest(os.path.join(wd, "s1_docs"))
    m2 = read_manifest(os.path.join(wd, "s2_triples"))
    m3 = read_manifest(os.path.join(wd, "s3_mapping"))
    m4 = read_manifest(os.path.join(wd, "s4_edges"))
    assert m1["input_fingerprint"] == "run-1:s1v1"
    assert m2["input_fingerprint"] == m1["output_fingerprint"] + ":s2v1"
    assert m4["input_fingerprint"] == ":".join(
        [m1["output_fingerprint"], m2["output_fingerprint"], m3["output_fingerprint"]]
    ) + ":s4v1"
    # the adjacency stage records its data-driven salting decision
    madj = read_manifest(os.path.join(wd, "s4_adjacency"))
    s = madj["salting"]
    assert s["total_rows"] == n_edges
    assert s["salt_buckets"] >= 1 and s["threshold_rows"] >= 1
    assert len(s["top_degrees"]) >= 1 and "degree" in s["top_degrees"][0]


def test_changed_upstream_output_invalidates_downstream(spark, tmp_path):
    """A rebuilt s1 output (same pipeline input) must recompute s2-s4 —
    the chained-fingerprint guarantee (ADVICE r1)."""
    import json

    from sigraph_spark.corpus import gen_pages

    pages = gen_pages(spark, sf=0.001)
    wd = str(tmp_path / "wd")
    run_pipeline(spark, pages, wd, input_fingerprint="run-1")
    m2_before = read_manifest(os.path.join(wd, "s2_triples"))
    # simulate an out-of-band s1 rebuild: its output fingerprint changes
    m1_path = os.path.join(wd, "s1_docs", "_manifest.json")
    m1 = json.load(open(m1_path))
    m1["output_fingerprint"] = "tampered:123"
    json.dump(m1, open(m1_path, "w"))
    run_pipeline(spark, pages, wd, input_fingerprint="run-1")
    m2_after = read_manifest(os.path.join(wd, "s2_triples"))
    assert m2_after["input_fingerprint"] == "tampered:123:s2v1"
    assert m2_after["input_fingerprint"] != m2_before["input_fingerprint"]


def test_no_python_row_udfs_in_hot_paths(spark):
    """BASELINE.md hot-path constraint: graph construction plans contain no
    BatchEvalPython (row-at-a-time Python); only ArrowEvalPython stages from
    the two sanctioned pandas UDFs may appear anywhere."""
    from sigraph_spark.operators.graph import build_edges, parse_events
    from sigraph_spark.sources.events_map import sigraph_events

    ev = spark.createDataFrame(
        [(0, "2024-01-01 00:00:00", 1, "click", 1.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    good, _ = parse_events(sigraph_events(ev))
    plan = build_edges(good)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_single_udf_evaluation_in_composed_extraction(spark):
    """triples_from_docs composed over an unmaterialized strip_html upstream
    must evaluate each pandas UDF exactly ONCE: the plain-explode form let
    the optimizer infer a size()>0 filter that duplicated the whole
    strip+extract chain into a second ArrowEvalPython (VERDICT r1 item 3)."""
    from sigraph_spark.corpus import gen_pages
    from sigraph_spark.operators.extract import extract_pages
    from sigraph_spark.operators.triples import triples_from_docs

    pages = gen_pages(spark, sf=0.001)
    docs = extract_pages(pages).select("url", "text")
    plan = triples_from_docs(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("_strip_html_batch") == 1
    assert plan.count("_extract_triples_batch") == 1


def test_parquet_column_pruning(spark, tmp_path):
    """A projection over two columns must scan only those columns."""
    p = str(tmp_path / "t.parquet")
    spark.range(100).select(
        F.col("id"), (F.col("id") * 2).alias("a"), (F.col("id") * 3).alias("b"),
        F.repeat(F.lit("x"), 100).alias("fat"),
    ).write.parquet(p)
    df = spark.read.parquet(p).select("id", "a").filter(F.col("a") > 10)
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "fat" not in physical  # pruned
    assert "PushedFilters: [" in physical or "PushedFilters" in physical


def test_crash_mid_stage_recovers(spark, tmp_path):
    """A stale .tmp dir from a killed run must not poison the next run,
    and a missing/mismatched manifest always recomputes."""
    import os

    from pyspark.sql import functions as F

    out = str(tmp_path / "stage")
    # simulate a crash: partial tmp dir left behind, no final output
    os.makedirs(out + ".tmp/data", exist_ok=True)
    with open(out + ".tmp/data/garbage", "w") as f:
        f.write("partial write from a killed attempt")

    df = run_stage(
        spark, "s", out,
        lambda: spark.range(7).select(F.col("id")),
        input_fingerprint="fp",
    )
    assert df.count() == 7
    m = read_manifest(out)
    assert m["rows"] == 7
    # a second crash AFTER output exists: tmp dir reappears; resume path
    # must still serve the committed output untouched
    os.makedirs(out + ".tmp", exist_ok=True)
    df2 = run_stage(
        spark, "s", out,
        lambda: (_ for _ in ()).throw(AssertionError("must not recompute")),
        input_fingerprint="fp",
    )
    assert df2.count() == 7


def test_run_stage_crash_injection_resumes_identically(spark, tmp_path, monkeypatch):
    """A build that raises leaves the previous complete output resumable;
    a crash at the data rename leaves the new complete output, which the
    rerun promotes and resumes from without rebuilding; a partitioned
    stage's returned frame equals a fresh read of it."""
    import pytest

    from sigraph_spark.plans import pipeline

    calls = {"n": 0}

    def builder(scale):
        def build():
            calls["n"] += 1
            return spark.range(12).select(
                (F.col("id") * scale).alias("id"), (F.col("id") % 3).alias("k"))
        return build

    build_a, build_b = builder(1), builder(2)
    # an uninterrupted fp-B run's output_fingerprint (pinned equal to
    # table_fingerprint by test_run_stage_writes_manifest_and_resumes)
    want = table_fingerprint(build_b())

    out = str(tmp_path / "stage")
    run_stage(spark, "s", out, build_a, input_fingerprint="fp-A")
    fp_a = read_manifest(out)["output_fingerprint"]
    assert fp_a != want

    # 1) a build that raises leaves the committed fp-A output in place
    def broken():
        raise RuntimeError("injected build failure")

    with pytest.raises(RuntimeError, match="injected"):
        run_stage(spark, "s", out, broken, input_fingerprint="fp-B")
    n = calls["n"]
    df = run_stage(spark, "s", out, build_a, input_fingerprint="fp-A")
    assert calls["n"] == n
    assert read_manifest(out)["output_fingerprint"] == fp_a
    assert table_fingerprint(df) == fp_a

    # 2) crash at the rename of the fp-B output: the rerun promotes the
    # complete temp output and resumes from it
    real_replace = pipeline.os.replace
    crashes = {"left": 1}

    def replace_once(src, dst):
        if crashes["left"]:
            crashes["left"] -= 1
            raise OSError("injected crash at rename")
        return real_replace(src, dst)

    monkeypatch.setattr(pipeline.os, "replace", replace_once)
    with pytest.raises(OSError, match="injected"):
        run_stage(spark, "s", out, build_b, input_fingerprint="fp-B")
    n = calls["n"]
    df = run_stage(spark, "s", out, build_b, input_fingerprint="fp-B")
    monkeypatch.undo()
    assert calls["n"] == n
    assert read_manifest(out)["output_fingerprint"] == want
    assert table_fingerprint(df) == want

    # 3) partitionBy: the schema-given read equals a fresh inferred read
    out_k = str(tmp_path / "stage_k")
    got = run_stage(spark, "s", out_k, build_a, input_fingerprint="fp-A",
                    partition_by=["k"])
    fresh = spark.read.parquet(os.path.join(out_k, "data"))
    assert got.schema == fresh.schema
    assert sorted(got.collect()) == sorted(fresh.collect())


def test_run_curation_stages_and_resume(spark, tmp_path):
    import pyspark.sql.functions as F

    from sigraph_spark.plans.pipeline import read_manifest, run_curation

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and the dog sat on the rug it was calm", "en"),
            (2, "the cat sat on the mat and the dog sat on the rug it was calm", "en"),  # exact dup
            (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en"),  # und -> wrong_lang
            (4, "the quick brown fox jumps over the lazy dog and naps in the warm sun", "en"),
            (5, "tiny", "en"),  # too_short
        ],
        "doc_id long, text string, lang string",
    )
    wd = str(tmp_path / "curate")
    out = run_curation(spark, docs, wd)
    verdicts = {r["doc_id"]: r["verdict"] for r in out["funnel"].collect()}
    assert verdicts[3] == "wrong_lang" and verdicts[5] == "too_short"
    kept = {r["doc_id"] for r in out["clean"].collect()}
    assert 1 in kept and 4 in kept
    assert 2 not in kept  # exact dup of 1 dropped
    # funnel is monotone: clean subset of funnel-pass subset of input
    assert kept <= {d for d, v in verdicts.items() if v == "pass"}

    # resume: manifests unchanged -> stages skipped, same results
    m1 = read_manifest(str(tmp_path / "curate" / "c4_neardup"))
    out2 = run_curation(spark, docs, wd)
    m2 = read_manifest(str(tmp_path / "curate" / "c4_neardup"))
    assert m1 == m2
    assert {r["doc_id"] for r in out2["clean"].collect()} == kept
