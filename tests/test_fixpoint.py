"""The shared round loops (functions/fixpoint.py).

Pins semi_naive's stopping and counting contract in set mode (cap vs
fixpoint) and min mode (equal values are no improvement, cheaper later
paths replace stored ones), and pointer_double's cycle, cap and
max_steps rules.
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sigraph_spark.functions.fixpoint import pointer_double, semi_naive


def _bfs(spark, edges, seed, max_rounds):
    e = spark.createDataFrame(edges, "u string, v string")
    start = spark.createDataFrame([(seed, 0)], "node string, d int")

    def step(frontier: DataFrame, _reach: DataFrame) -> DataFrame:
        return (
            frontier.join(e, frontier.node == e.u)
            .groupBy(F.col("v").alias("node"))
            .agg(F.min(F.col("d") + 1).alias("d"))
        )

    return semi_naive(start, step, ["node"], max_rounds)


def _relax(spark, edges, seed, max_rounds):
    e = spark.createDataFrame(edges, "u string, v string, w long")
    start = spark.createDataFrame([(seed, 0)], "node string, cost long")

    def step(frontier: DataFrame, _reach: DataFrame) -> DataFrame:
        return (
            frontier.join(e, frontier.node == e.u)
            .groupBy(F.col("v").alias("node"))
            .agg(F.min(F.col("cost") + F.col("w")).alias("cost"))
        )

    return semi_naive(start, step, ["node"], max_rounds, minimize="cost")


CHAIN = [(f"a{i}", f"a{i + 1}") for i in range(9)]


def test_set_mode_stops_at_cap(spark):
    reach, rounds, converged = _bfs(spark, CHAIN, "a0", 3)
    assert rounds == 3
    assert converged is False
    assert {(r["node"], r["d"]) for r in reach.collect()} == {
        ("a0", 0), ("a1", 1), ("a2", 2), ("a3", 3)}


def test_set_mode_counts_the_final_empty_round(spark):
    reach, rounds, converged = _bfs(spark, CHAIN, "a0", 40)
    assert rounds == 10  # 9 productive rounds + the empty one
    assert converged is True
    assert reach.count() == 10


def test_min_mode_zero_weight_cycle_terminates(spark):
    edges = [("a", "b", 0), ("b", "a", 0), ("a", "c", 1)]
    reach, rounds, converged = _relax(spark, edges, "a", 50)
    # round 2 proposes a at cost 0 again: equal, not an improvement
    assert (rounds, converged) == (2, True)
    assert {(r["node"], r["cost"]) for r in reach.collect()} == {
        ("a", 0), ("b", 0), ("c", 1)}


def test_min_mode_later_cheaper_path_replaces(spark):
    edges = [("a", "b", 10), ("a", "c", 1), ("c", "b", 1)]
    reach, rounds, converged = _relax(spark, edges, "a", 50)
    # round 1 stores b at 10; round 2 improves it to 2 via c
    assert (rounds, converged) == (3, True)
    assert sorted((r["node"], r["cost"]) for r in reach.collect()) == [
        ("a", 0), ("b", 2), ("c", 1)]
    reach, rounds, converged = _relax(spark, edges, "a", 1)
    assert (rounds, converged) == (1, False)
    assert sorted((r["node"], r["cost"]) for r in reach.collect()) == [
        ("a", 0), ("b", 10), ("c", 1)]


def _ptr(spark, rows):
    return spark.createDataFrame(rows, "x string, y string")


def test_pointer_double_cycle_stays_open_with_cycle_min(spark):
    rows = [("p", "q"), ("q", "r"), ("r", "p"), ("t", "p")]
    out = pointer_double(_ptr(spark, rows), F.col("y"), F.least, 16)
    got = {r["x"]: (r["acc"], r["done"]) for r in out.collect()}
    assert got == {u: ("p", False) for u in ("p", "q", "r", "t")}


def test_pointer_double_max_steps_one_runs_no_round(spark):
    rows = [("a", "b"), ("b", "c"), ("c", "d")]
    out = pointer_double(_ptr(spark, rows), F.lit(1), lambda a, b: a + b, 1)
    got = {r["x"]: (r["y"], r["acc"], r["done"]) for r in out.collect()}
    # one step each: only c reaches the terminal d
    assert got == {"a": ("b", 1, False), "b": ("c", 1, False),
                   "c": ("d", 1, True)}


@pytest.mark.parametrize("bad", [0, 3, 6, -4])
def test_pointer_double_rejects_non_power_of_two(spark, bad):
    with pytest.raises(ValueError, match="power of two"):
        pointer_double(_ptr(spark, [("a", "b")]), F.col("y"), F.least, bad)
