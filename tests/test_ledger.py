"""The exactly-once state ledger (plans/ledger.py): GC of every directory
the state does not name, and kill-and-resume of the delta appliers that
commit through it — a crash at the commit leaves the old state, the retry
applies exactly once, and a crash between the commit and the GC leaves
orphans that the replay collects."""

from __future__ import annotations

import os
import shutil
import sys

import pytest
from pyspark.sql import functions as F

from sigraph_spark.plans import ledger

sys.path.insert(0, "jobs")


def test_gc_keeps_live_paths_and_their_ancestors(tmp_path):
    root = str(tmp_path)
    for d in ("v1/a", "v1/b", "v2/edges/_bucket=0", "v2/edges/_bucket=1",
              "v3/x", "v4/edges/_bucket=0", "other", "vx"):
        os.makedirs(os.path.join(root, d))
    open(os.path.join(root, "v2", "edges", "_SUCCESS"), "w").close()
    ledger.gc(root, ["v1/a", "v2/edges/_bucket=1"])
    left = sorted(
        os.path.relpath(os.path.join(d, n), root)
        for d, dirs, files in os.walk(root) for n in dirs + files
    )
    assert left == ["other", "v1", "v1/a", "v2", "v2/edges",
                    "v2/edges/_SUCCESS", "v2/edges/_bucket=1", "vx"]


def test_load_commit_round_trip(tmp_path):
    wd = str(tmp_path / "s")
    empty = {"applied": [], "parts": {"a": []}}
    st = ledger.load(wd, empty)
    st["parts"]["a"].append("v1/a")
    assert empty == {"applied": [], "parts": {"a": []}}  # a copy
    ledger.commit(wd, st)
    assert ledger.load(wd, empty) == st
    assert os.listdir(wd) == [ledger.STATE]


class Crash(Exception):
    pass


PAGES = "url string, warc_ts timestamp, html binary, text string, lang string"


def _crawl(spark):
    from sigraph_spark.plans.incremental import (
        apply_crawl_delta, crawl_state_tables,
    )

    html = "<html><body><p>Emotet dropped C:\\x\\f.dll on the host.</p></body></html>"
    page = spark.createDataFrame(
        [("https://h.example/1", None, bytearray(html.encode()), None, "en")], PAGES,
    ).withColumn("warc_ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))

    return (
        lambda wd, d, i: apply_crawl_delta(spark, d, wd, f"d{i}"),
        ([], page),
        lambda wd: wd,
        lambda wd: crawl_state_tables(spark, wd),
    )


def _media(spark):
    from run_media_curate import _synthetic_media

    from sigraph_spark.plans.media_delta import (
        apply_media_delta, media_state_tables,
    )

    media = _synthetic_media(spark, 12).localCheckpoint(eager=True)
    odd = F.expr("CAST(substring(media_id, 3) AS INT) % 2 = 1")
    return (
        lambda wd, d, i: apply_media_delta(spark, d, wd, f"d{i}"),
        ([], media.filter(odd)),
        lambda wd: wd,
        lambda wd: media_state_tables(spark, wd),
    )


def _claims(spark):
    from sigraph_spark.streaming.fusion import fold_claims_batch

    schema = "subject string, predicate string, object string, source string"

    def tables(wd):
        sd = os.path.join(wd, "claims_state")
        return {
            "claims": spark.read.parquet(
                os.path.join(sd, f"v{ledger.load(sd)['version']}", "data")),
            "fused": spark.read.parquet(os.path.join(wd, "fused")),
        }

    return (
        lambda wd, d, i: fold_claims_batch(d, i, wd),
        ([spark.createDataFrame([("s", "p", "x", "A"), ("t", "q", "z", "A")], schema)],
         spark.createDataFrame([("s", "p", "y", "B"), ("s", "p", "x", "A")], schema)),
        lambda wd: os.path.join(wd, "claims_state"),
        tables,
    )


def _tree(root: str) -> list[str]:
    return sorted(
        os.path.relpath(d, root) for d, _, _ in os.walk(root)
        if os.path.relpath(d, root).split(os.sep)[0][:1] == "v"
    )


def _rows(tables: dict) -> dict:
    return {k: sorted(map(tuple, df.collect()), key=repr)
            for k, df in tables.items() if df is not None}


# Each case is (apply(workdir, delta, i), (prior deltas, the delta that
# crashes), ledger dir of a workdir, state tables of a workdir). The crawl
# and media deltas crash on their first apply, the claims fold on top of a
# committed batch.
@pytest.mark.parametrize("case", [_crawl, _media, _claims],
                         ids=["crawl", "media", "claims"])
def test_crash_at_commit_then_resume(spark, tmp_path, monkeypatch, case):
    # compacting every appended part makes each apply supersede part dirs
    # (the claims fold supersedes its prior version), so every applier
    # leaves orphans when it dies between its commit and its GC
    monkeypatch.setattr(ledger, "COMPACT_PARTS", 0)
    apply, (priors, delta), state_dir, tables = case(spark)
    wd, ref = str(tmp_path / "wd"), str(tmp_path / "ref")
    for i, d in enumerate(priors):
        apply(wd, d, i)
    n = len(priors)
    before = ledger.load(state_dir(wd))
    commit = ledger.commit

    def crash_before(workdir, st):
        # the uninterrupted run is this attempt committing: a copy of the
        # workdir gets the commit, the workdir itself does not
        shutil.copytree(wd, ref)
        commit(os.path.join(ref, os.path.relpath(workdir, wd)), st)
        raise Crash

    def crash_after(workdir, st):
        commit(workdir, st)
        raise Crash

    # 1) crash at the commit, after the data dirs are written: the state
    #    reads exactly as before the apply
    monkeypatch.setattr(ledger, "commit", crash_before)
    with pytest.raises(Crash):
        apply(wd, delta, n)
    assert ledger.load(state_dir(wd)) == before
    assert os.path.isdir(
        os.path.join(state_dir(wd), f"v{before.get('version', 0) + 1}"))

    # 2) the retry commits once, then dies before its GC
    monkeypatch.setattr(ledger, "commit", crash_after)
    with pytest.raises(Crash):
        apply(wd, delta, n)
    monkeypatch.setattr(ledger, "commit", commit)
    assert ledger.load(state_dir(wd)) == ledger.load(state_dir(ref))
    assert apply(ref, delta, n) is None  # the GC an uninterrupted apply ends with
    assert set(_tree(state_dir(wd))) > set(_tree(state_dir(ref)))

    # 3) the replay is a ledger no-op that collects the orphans; the
    #    tables equal the uninterrupted run's
    assert apply(wd, delta, n) is None
    assert _tree(state_dir(wd)) == _tree(state_dir(ref))
    assert _rows(tables(wd)) == _rows(tables(ref))
