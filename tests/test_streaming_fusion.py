"""Streaming claims intake (streaming/fusion.py)."""

import os

from conftest import spark  # noqa: F401

from sigraph_spark.plans.ledger import load
from sigraph_spark.streaming.fusion import fold_claims_batch, stream_claims

SCHEMA = "subject string, predicate string, object string, source string"

B1 = [("s", "p", "x", "A"), ("s", "p", "x", "B"), ("t", "q", "z", "A")]
B2 = [("s", "p", "y", "C"), ("s", "p", "x", "A")]  # one dup claim across batches


def test_fold_replay_noop_and_semilattice(spark, tmp_path):
    wd = str(tmp_path / "claims")
    r1 = fold_claims_batch(spark.createDataFrame(B1, SCHEMA), 0, wd)
    assert r1 == {"claims_state": 3, "fused": 2}
    r2 = fold_claims_batch(spark.createDataFrame(B2, SCHEMA), 1, wd)
    assert r2 == {"claims_state": 4, "fused": 2}  # dup claim deduped
    # replayed batch id -> None, state untouched
    assert fold_claims_batch(spark.createDataFrame(B2, SCHEMA), 1, wd) is None
    sd = os.path.join(wd, "claims_state")
    state = spark.read.parquet(os.path.join(sd, f"v{load(sd)['version']}", "data"))
    assert state.count() == 4
    # fused equals a from-scratch fuse over all claims
    from sigraph_spark.operators.fusion import fuse_triples

    full = spark.createDataFrame(B1 + B2, SCHEMA)
    expect = fuse_triples(full, "subject", "predicate", "object", "source")
    got = spark.read.parquet(os.path.join(wd, "fused"))
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0


def test_stream_claims_equals_batch(spark, tmp_path):
    src = str(tmp_path / "drops")
    wd = str(tmp_path / "claims")
    os.makedirs(src, exist_ok=True)
    spark.createDataFrame(B1 + B2, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = stream_claims(spark, src, wd)
    q.awaitTermination(120)
    got = spark.read.parquet(os.path.join(wd, "fused"))
    from sigraph_spark.operators.fusion import fuse_triples

    expect = fuse_triples(
        spark.createDataFrame(B1 + B2, SCHEMA),
        "subject", "predicate", "object", "source",
    )
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0
