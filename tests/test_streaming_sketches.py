"""Streaming HLL register intake (streaming/sketches.py)."""

import os

from conftest import spark  # noqa: F401

from sigraph_spark.streaming.sketches import (
    fold_sketch_batch, stream_sketches,
)

SCHEMA = "k string, v string"

B1 = [("a", f"x{i}") for i in range(50)] + [("b", "y0")]
B2 = [("a", f"x{i}") for i in range(25, 75)] + [("b", "y1")]


def _registers(spark, wd):
    from sigraph_spark.plans.ledger import load

    sd = os.path.join(wd, "hll_state")
    return spark.read.parquet(os.path.join(sd, f"v{load(sd)['version']}", "data"))


def test_fold_replay_noop_and_merge_equals_full(spark, tmp_path):
    from sigraph_spark.operators.sketches import hll_registers

    wd = str(tmp_path / "hll")
    r1 = fold_sketch_batch(
        spark.createDataFrame(B1, SCHEMA), 0, wd, ["k"], "v")
    assert r1 is not None and r1["keys"] == 2
    r2 = fold_sketch_batch(
        spark.createDataFrame(B2, SCHEMA), 1, wd, ["k"], "v")
    assert r2 is not None
    # replayed batch id -> None, state untouched
    before = sorted(map(tuple, _registers(spark, wd).collect()))
    assert fold_sketch_batch(
        spark.createDataFrame(B2, SCHEMA), 1, wd, ["k"], "v") is None
    assert sorted(map(tuple, _registers(spark, wd).collect())) == before
    # state == sketch over the union (the semilattice property e2e)
    full = hll_registers(
        spark.createDataFrame(B1 + B2, SCHEMA), ["k"], "v")
    assert before == sorted(map(tuple, full.collect()))


def test_idempotent_even_without_ledger(spark, tmp_path):
    # fold the SAME data under a NEW batch id: registers must not move
    # (max is idempotent) — the at-least-once safety the docstring claims
    wd = str(tmp_path / "hll2")
    fold_sketch_batch(spark.createDataFrame(B1, SCHEMA), 0, wd, ["k"], "v")
    before = sorted(map(tuple, _registers(spark, wd).collect()))
    fold_sketch_batch(spark.createDataFrame(B1, SCHEMA), 7, wd, ["k"], "v")
    assert sorted(map(tuple, _registers(spark, wd).collect())) == before


def test_stream_equals_batch_estimates(spark, tmp_path):
    from sigraph_spark.operators.sketches import hll_distinct

    src = str(tmp_path / "drops")
    wd = str(tmp_path / "hll3")
    os.makedirs(src, exist_ok=True)
    spark.createDataFrame(B1 + B2, SCHEMA).coalesce(1).write.mode(
        "append").parquet(src)
    q = stream_sketches(spark, src, wd, ["k"], "v", SCHEMA)
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.read.parquet(
        os.path.join(wd, "estimates")).collect()))
    expect = sorted(map(tuple, hll_distinct(
        spark.createDataFrame(B1 + B2, SCHEMA), ["k"], "v").collect()))
    assert got == expect
