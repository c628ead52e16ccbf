from __future__ import annotations

from sigraph_spark.operators.textreuse import kgram_index, reuse_graph, reuse_spans
from sigraph_spark.signals import collect


def _docs(spark, rows):
    return spark.createDataFrame(rows, "url string, text string")


def _toks(prefix, n):
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_single_shared_run(spark):
    shared = "q0 q1 q2 q3 q4 q5 q6"  # 7 tokens -> 3 matching 5-grams
    docs = _docs(
        spark,
        [
            ("a", _toks("x", 3) + " " + shared + " " + _toks("y", 2)),
            ("b", _toks("z", 5) + " " + shared),
        ],
    )
    [r] = reuse_spans(docs, k=5, min_run=3).collect()
    assert (r["doc_a"], r["doc_b"]) == ("a", "b")
    assert (r["start_a"], r["start_b"]) == (3, 5)
    assert (r["n_grams"], r["len_tokens"]) == (3, 7)


def test_below_min_run_dropped_and_split_runs(spark):
    # two separate shared runs in the same pair, different diagonals
    r1, r2 = "p0 p1 p2 p3 p4", "m0 m1 m2 m3 m4 m5 m6 m7"
    docs = _docs(
        spark,
        [
            ("a", r1 + " " + _toks("u", 4) + " " + r2),
            ("b", r2 + " " + _toks("v", 6) + " " + r1),
        ],
    )
    out = {(r["start_a"], r["start_b"], r["n_grams"]) for r in
           reuse_spans(docs, k=5, min_run=1).collect()}
    # r1: doc a pos 0, doc b pos 14 (8 + 6); 1 gram. r2: a pos 9, b pos 0; 4 grams
    assert out == {(0, 14, 1), (9, 0, 4)}
    strict = reuse_spans(docs, k=5, min_run=3).collect()
    assert len(strict) == 1 and strict[0]["n_grams"] == 4


def test_boilerplate_df_cut(spark):
    boiler = "c0 c1 c2 c3 c4"
    rows = [(f"d{i:02d}", boiler + " " + _toks(f"f{i}_", 3)) for i in range(6)]
    with collect() as rec:
        out = reuse_spans(
            _docs(spark, rows), k=5, min_run=1, max_gram_df=4
        ).collect()
    assert out == []  # the only shared gram exceeded the df ceiling
    assert rec["reuse_spans"]["hot_grams_dropped"] == 1
    # with a looser ceiling every pair matches
    loose = reuse_spans(_docs(spark, rows), k=5, min_run=1, max_gram_df=6)
    assert loose.count() == 15  # C(6,2)


def test_short_docs_skipped(spark):
    docs = _docs(spark, [("a", "one two three"), ("b", "one two three")])
    assert kgram_index(docs, k=5).count() == 0
    assert reuse_spans(docs, k=5).count() == 0


def test_reuse_graph_rollup(spark):
    shared1, shared2 = _toks("q", 7), _toks("r", 9)
    docs = _docs(
        spark,
        [
            ("a", shared1 + " " + _toks("x", 4) + " " + shared2),
            ("b", shared2 + " " + _toks("y", 6) + " " + shared1),
        ],
    )
    [g] = reuse_graph(reuse_spans(docs, k=5, min_run=3)).collect()
    assert g["n_spans"] == 2 and g["shared_tokens"] == 16


def test_no_python_udf(spark):
    docs = _docs(spark, [("a", _toks("q", 9)), ("b", _toks("q", 9))])
    plan = reuse_spans(docs)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
