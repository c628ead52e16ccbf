"""The two round loops of the frontier-style graph operators:
:func:`semi_naive` expansion, whose rounds join only the rows new or
improved last round (O(frontier out-edges) per round), and Wyllie
:func:`pointer_double` (log2(max_steps) self-joins, not O(chain)
rounds). Both checkpoint every round, so round r's plan never
re-derives rounds 0..r-1, and stop at the first round that changes
nothing. New frontiers are checkpointed eagerly; the seed and min
mode's merged ``reach`` lazily, as the next round's checkpoint job
materializes them anyway.

A :func:`semi_naive` step may read all of ``reach``, not only the
frontier. The peels use this: k-core, k-truss and the SCC trim grow a
set of deleted keys from an empty seed, and each round's step tests the
survivors (the input minus ``reach``), ignoring the frontier; the rule
chase joins the frontier against older rounds of ``reach``."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["semi_naive", "pointer_double"]


def semi_naive(
    seed: DataFrame,
    step: Callable[[DataFrame, DataFrame], DataFrame],
    keys: list[str],
    max_rounds: int | None,
    minimize: str | None = None,
) -> tuple[DataFrame, int, bool]:
    """Expand ``seed`` to a fixpoint: ``(reach, rounds, converged)``.

    Each round ``step(frontier, reach)`` proposes rows with the seed's
    columns (round 1's frontier is the seed); the survivors become the
    next frontier and are merged into ``reach``. ``step`` proposes each
    key at most once per round (``distinct`` or a per-key aggregate) and
    may read all of ``reach`` (a peel's step reads only ``reach``, its
    deleted set, and ignores the frontier).

    - set mode (``minimize=None``): keys not yet in ``reach`` survive.
    - min mode (``minimize="<col>"``): new keys and rows whose non-NULL
      ``<col>`` is STRICTLY below the stored one survive and replace it;
      an equal value is no improvement, so zero-weight cycles terminate.

    ``rounds`` counts rounds attempted, the final empty one included;
    ``converged`` is True only when a round proposed nothing, i.e. not
    a ``max_rounds`` truncation. ``max_rounds=None`` runs to fixpoint.

    ``reach`` is built from ``localCheckpoint`` parts: executor-local
    blocks with no lineage, lost with their executor, holding
    block-manager storage while the caller keeps a reference to
    ``reach`` or anything derived from it. The seed's checkpoint and min
    mode's merged ``reach`` are lazy: round 1's frontier checkpoint (the
    next round's, for the merged ``reach``), or the caller's first
    action, materializes them, with the same caveat; every round's new
    frontier is eager.
    """
    reach = seed.localCheckpoint(eager=False)
    frontier = reach
    rounds = 0
    while max_rounds is None or rounds < max_rounds:
        rounds += 1
        proposed = step(frontier, reach)
        if minimize is None:
            new = proposed.join(reach.select(*keys), keys, "left_anti")
        else:
            old = reach.select(*keys, F.col(minimize).alias("_fp_old"))
            new = (
                proposed.join(old, keys, "left")
                .filter(F.col("_fp_old").isNull()
                        | (F.col(minimize) < F.col("_fp_old")))
                .drop("_fp_old")
            )
        new = new.localCheckpoint(eager=True)
        if new.isEmpty():
            return reach, rounds, True
        if minimize is None:
            # plain union of already-materialized frontiers: every child
            # is a LogicalRDD, so nothing recomputes, the plan stays
            # <= rounds unions wide, and we avoid checkpointing a raw
            # union (Spark's LogicalRDD constraint rewrite loses
            # second-child attrs when a filter constraint — e.g. GRAPH's
            # g IS NOT NULL — survives to the union output: "key not
            # found" in rewriteStatsAndConstraints)
            reach = reach.unionByName(new)
        else:
            reach = (
                reach.join(new.select(*keys), keys, "left_anti")
                .unionByName(new)
                .localCheckpoint(eager=False)
            )
        frontier = new
    return reach, rounds, False


def pointer_double(
    ptr: DataFrame,
    acc: Column,
    combine: Callable[[Column, Column], Column],
    max_steps: int,
) -> DataFrame:
    """Follow every pointer of ``ptr`` (``x`` -> ``y``, one row per
    ``x``) for up to ``max_steps`` steps: ``(x, y, acc, done)``.

    ``acc`` is the one-step accumulator over ``ptr`` (``F.col("y")``,
    ``F.lit(1)``); ``combine(a, b)`` folds two consecutive segments
    (``F.least``, ``+``). A ``done`` walk reached a terminal (a ``y``
    without a pointer): ``y`` is it and ``acc`` folds every step to it.
    An open walk (cycle, over-long chain) ends ``max_steps`` steps ahead
    with ``acc`` folding exactly those steps.

    ``max_steps`` must be a power of two >= 1 (``ValueError``), since
    doubling covers exactly 2^rounds steps. Rounds stop early once every
    walk is done. The result is an eager ``localCheckpoint`` with the
    storage and executor-loss caveats of :func:`semi_naive`.
    """
    if max_steps < 1 or max_steps & (max_steps - 1):
        raise ValueError(
            f"pointer_double: max_steps must be a power of two >= 1, "
            f"got {max_steps}")
    # ptr feeds BOTH legs of the terminal-detection join (itself and
    # dom); without a boundary each leg re-runs the caller's pointer
    # aggregation. One lazy materialization serves both.
    ptr = ptr.localCheckpoint(eager=False)
    dom = ptr.select(F.col("x").alias("_d"))
    ptr = (
        ptr.join(dom, ptr["y"] == dom["_d"], "left")
        .select("x", "y", acc.alias("acc"), F.col("_d").isNull().alias("done"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_steps.bit_length() - 1):
        if ptr.filter(~F.col("done")).isEmpty():
            break
        # done walks pass through, so an all-done round would be a no-op
        b = ptr.select(*(F.col(c).alias("_b" + c) for c in ptr.columns))
        done = F.col("a.done")
        ptr = (
            ptr.alias("a").join(b, F.col("a.y") == F.col("_bx"), "left")
            .select(
                F.col("a.x").alias("x"),
                F.when(done, F.col("a.y")).otherwise(F.col("_by")).alias("y"),
                F.when(done, F.col("a.acc"))
                .otherwise(combine(F.col("a.acc"), F.col("_bacc"))).alias("acc"),
                (done | F.col("_bdone")).alias("done"),
            )
            .localCheckpoint(eager=True)
        )
    return ptr
