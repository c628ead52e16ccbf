"""AMIE-style Horn rule mining + forward-chaining inference over the KG.

Chain rules of length 2 — ``p1(x, z) AND p2(z, y) => h(x, y)`` — mined
with the AMIE quality measures (Galarraga et al., "AMIE: Association
Rule Mining under Incomplete Evidence in Ontological Knowledge Bases",
WWW 2013):

* ``support``   = ``|{(x, y) : EXISTS z body(x, z, y) AND h(x, y)}|``
* ``n_body``    = ``|{(x, y) : EXISTS z body(x, z, y)}|``
  (standard-confidence denominator)
* ``n_pca``     = ``|{(x, y) : EXISTS z body AND EXISTS y' h(x, y')}|``
  (PCA-confidence denominator — the Partial Completeness Assumption
  only penalizes a prediction when the KG knows SOME object for the
  subject under the head predicate, so missing facts don't count as
  counter-examples)
* ``n_head``    = ``|h|`` (head-coverage denominator)

All four are exact BIGINT counts over DISTINCT groundings, so rule
quality is engine-exact; the float confidences are one final division
each on top of those integers.

Reference framing: sigraph's behavior-pattern detectors
(/root/reference/src/rule/session.py) match FIXED, hand-written
patterns against the graph; this operator LEARNS composition patterns
from the materialized KG itself and completes it by forward chaining —
the knowledge-base-completion step of a web-scale KG pipeline,
complementing the length-1 forms already induced by
``fusion.inverse_predicates`` (mirror rules) and
``fusion.predicate_subsumption`` (implication rules).

Scale design (the 100 TB story):

* everything starts from one ``distinct (s, p, o)`` signature pass;
* the chain grounding is a single self-equi-join on the mid entity
  ``z`` — never a predicate or fact cross product;
* a hot mid entity (in- OR out-degree above ``max_mid_degree``) would
  make that join fan out quadratically, so hot mids are excluded
  LOUDLY (count + sample into a signal) — the same guard device as
  ``distant.distant_supervision``'s stop-anchor cap, keeping per-key
  fan-out bounded by ``max_mid_degree**2``;
* candidate rules are gated on support/confidence BEFORE the PCA
  denominator join, and the surviving rule vocabulary (bounded by the
  predicate vocabulary cubed, in practice tiny) is broadcast — the
  grounding table never shuffles for it;
* the distinct fact signature feeds several join branches (degree
  guard, both hops, head/PCA denominators) — the branches share one
  shuffle via Spark's exchange reuse, but when the fact LINEAGE is
  expensive (a full extraction) callers should persist/checkpoint the
  fact table first, as the gates and CLIs here do.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sigraph_spark import signals
from sigraph_spark.functions.fixpoint import semi_naive


def _signature(
    facts: DataFrame, subj_col: str, pred_col: str, obj_col: str
) -> DataFrame:
    return facts.select(
        F.col(subj_col).alias("s"),
        F.col(pred_col).alias("p"),
        F.col(obj_col).alias("o"),
    ).distinct()


def _hot_mids(sig: DataFrame, max_mid_degree: int) -> DataFrame:
    """Entities ``z`` of ``sig`` that are both an object and a subject,
    with in- or out-degree above ``max_mid_degree``."""
    out_deg = sig.groupBy(F.col("s").alias("z")).agg(
        F.count(F.lit(1)).cast("long").alias("n_out")
    )
    in_deg = sig.groupBy(F.col("o").alias("z")).agg(
        F.count(F.lit(1)).cast("long").alias("n_in")
    )
    return (
        in_deg.join(out_deg, "z")
        .filter(
            (F.col("n_in") > max_mid_degree) | (F.col("n_out") > max_mid_degree)
        )
        .select("z")
    )


def _chains(left: DataFrame, right: DataFrame, hot: DataFrame) -> DataFrame:
    """Chain groundings ``(p1, p2, x, y)`` of a ``left`` fact
    ``p1(x, z)`` into a ``right`` fact ``p2(z, y)`` through a mid ``z``
    not in ``hot`` (not deduplicated)."""
    hop_l = left.select(
        F.col("s").alias("x"), F.col("p").alias("p1"), F.col("o").alias("z")
    ).join(hot, "z", "left_anti")
    hop_r = right.select(
        F.col("s").alias("z"), F.col("p").alias("p2"), F.col("o").alias("y")
    )
    return hop_l.join(hop_r, "z").select("p1", "p2", "x", "y")


def _chain_bodies(sig: DataFrame, max_mid_degree: int) -> DataFrame:
    """Distinct chain groundings ``(p1, p2, x, y)`` with the hot-mid
    guard applied. A mid entity is any ``z`` that occurs both as an
    object (left hop lands on it) and as a subject (right hop leaves
    it); one with in- or out-degree above the cap is dropped from
    grounding and counted in the ``_chain_bodies`` signal.
    """
    hot = _hot_mids(sig, max_mid_degree)
    if signals.active():
        sample = [r["z"] for r in hot.orderBy("z").limit(20).collect()]
        n_hot = len(sample) if len(sample) < 20 else hot.count()
        signals.emit("_chain_bodies", hot_mids=n_hot, hot_mid_sample=sample)
    return _chains(sig, sig, hot).distinct()


def mine_chain_rules(
    facts: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "predicate",
    obj_col: str = "obj",
    min_support: int = 2,
    min_conf_pct: int = 25,
    max_mid_degree: int = 10_000,
) -> DataFrame:
    """Mine length-2 chain rules ``p1(x,z) AND p2(z,y) => head(x,y)``.

    Returns one row per rule passing BOTH gates (integer-exact, no
    float compare): ``support >= min_support`` and
    ``100*support >= min_conf_pct * n_body``, with columns
    ``(p1, p2, head, support, n_body, n_pca, n_head,
    std_conf, pca_conf, head_coverage)`` — the three ``*conf*``/
    coverage columns are DOUBLE ratios derived from the integers.
    """
    sig = _signature(facts, subj_col, pred_col, obj_col)
    bodies = _chain_bodies(sig, max_mid_degree)

    n_body = bodies.groupBy("p1", "p2").agg(
        F.count(F.lit(1)).cast("long").alias("n_body")
    )
    heads = sig.select(
        F.col("p").alias("head"), F.col("s").alias("x"), F.col("o").alias("y")
    )
    support = (
        bodies.join(heads, ["x", "y"])
        .groupBy("p1", "p2", "head")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )
    cand = (
        support.join(n_body, ["p1", "p2"])
        .filter(
            (F.col("support") >= min_support)
            & (100 * F.col("support") >= min_conf_pct * F.col("n_body"))
        )
    )
    # PCA denominator only for surviving candidates: rule vocabulary is
    # tiny — broadcast it so `bodies` never reshuffles.
    head_subj = sig.select(
        F.col("p").alias("head"), F.col("s").alias("x")
    ).distinct()
    n_pca = (
        bodies.join(F.broadcast(cand.select("p1", "p2", "head")), ["p1", "p2"])
        .join(head_subj, ["head", "x"])
        .groupBy("p1", "p2", "head")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pca"))
    )
    n_head = sig.groupBy(F.col("p").alias("head")).agg(
        F.count(F.lit(1)).cast("long").alias("n_head")
    )
    return (
        cand.join(n_pca, ["p1", "p2", "head"])
        .join(n_head, "head")
        .select(
            "p1",
            "p2",
            "head",
            "support",
            "n_body",
            "n_pca",
            "n_head",
            (F.col("support") / F.col("n_body")).alias("std_conf"),
            (F.col("support") / F.col("n_pca")).alias("pca_conf"),
            (F.col("support") / F.col("n_head")).alias("head_coverage"),
        )
    )


def chase(
    facts: DataFrame,
    rules: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "predicate",
    obj_col: str = "obj",
    min_pca_conf_pct: int = 50,
    max_mid_degree: int = 10_000,
    max_rounds: int = 5,
) -> DataFrame:
    """Datalog-style materialization: forward-chain the mined rules to
    fixpoint (or ``max_rounds``), returning the saturated KG as
    ``(subj, predicate, obj, round)`` where ``round`` is the iteration
    the fact FIRST appeared (0 = asserted in the input).

    Rules stay FIXED (mined once on the asserted KG — the standard
    materialization contract); only the fact set grows. Evaluation is
    SEMI-NAIVE, on ``functions/fixpoint.py``'s :func:`semi_naive` in set
    mode keyed on the triple: round r grounds bodies only where a hop
    comes from round r-1's delta Δ (``Δ x all  UNION  old x Δ``, old =
    the facts of rounds < r-1, so Δ x Δ is grounded once; round 1's Δ is
    the whole input and old is empty), so per-round work is
    O(delta-adjacent chains), never a full re-derivation — the same
    delta-driven shape as ``plans/incremental.py``'s crawl appends.
    :func:`semi_naive` dedups each round's derivations against
    everything known with one anti-join on the triple key and
    checkpoints them, keeping lineage flat; the returned frame reads
    those ``localCheckpoint`` parts (its storage caveat: no lineage,
    lost with their executor).

    The hot-mid degree guard is re-evaluated on the CURRENT fact set
    each round (degrees only grow, so the hot set only grows — the
    semi-naive and naive groundings stay equivalent under it).

    The ``chase`` signal holds ``rounds`` (per-round new-fact counts,
    the final empty round of a fixpoint included; derived from the
    output's ``round`` column, one extra Spark job) and ``converged`` —
    mirroring the ``graphalgo`` loop contract, so
    callers can distinguish a fixpoint from a ``max_rounds``
    truncation.
    """
    keep = (
        rules.filter(
            100 * F.col("support") >= min_pca_conf_pct * F.col("n_pca")
        )
        .select("p1", "p2", "head")
        .distinct()
    )
    sig = _signature(facts, subj_col, pred_col, obj_col)
    round_no = itertools.count(1)

    def step(delta: DataFrame, known: DataFrame) -> DataFrame:
        r = next(round_no)
        hot = _hot_mids(known, max_mid_degree)
        old = known.filter(F.col("round") < r - 1)
        bodies = _chains(delta, known, hot).unionByName(_chains(old, delta, hot))
        return (
            bodies.join(F.broadcast(keep), ["p1", "p2"])
            .select(
                F.col("x").alias("s"),
                F.col("head").alias("p"),
                F.col("y").alias("o"),
            )
            .distinct()
            .withColumn("round", F.lit(r))
        )

    seed = sig.withColumn("round", F.lit(0))
    known, rounds, converged = semi_naive(seed, step, ["s", "p", "o"], max_rounds)
    if signals.active():
        per_round = dict(
            known.filter(F.col("round") >= 1).groupBy("round").count().collect()
        )
        new = [per_round.get(r, 0) for r in range(1, rounds + 1)]
        signals.emit("chase", rounds=new, converged=converged)
    return known.select(
        F.col("s").alias(subj_col),
        F.col("p").alias(pred_col),
        F.col("o").alias(obj_col),
        "round",
    )


def infer_chain(
    facts: DataFrame,
    rules: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "predicate",
    obj_col: str = "obj",
    min_pca_conf_pct: int = 50,
    max_mid_degree: int = 10_000,
) -> DataFrame:
    """Forward-chain one step: ground every rule body and emit the head
    triples the KG does NOT already assert.

    ``rules`` is :func:`mine_chain_rules` output (or any table with
    ``p1, p2, head, support, n_pca``); only rules with
    ``100*support >= min_pca_conf_pct * n_pca`` fire (PCA confidence —
    the right completion gate under open-world semantics).

    Output: ``(subj, predicate, obj, n_rules, rule_p1, rule_p2,
    conf_pct)`` — one row per NEW triple, ``n_rules`` = how many
    distinct rules derived it, ``rule_*``/``conf_pct`` = the single
    best deriving rule (highest integer PCA percent, ties broken
    lexicographically — deterministic on any partitioning).

    Scale: the firing-rule table is broadcast onto the grounding join;
    the best-rule pick is a bounded window (partition = the inferred
    triple, fan-in = #rules); novelty is one anti-join against the
    fact signature on the full triple key.
    """
    keep = rules.filter(
        100 * F.col("support") >= min_pca_conf_pct * F.col("n_pca")
    ).select("p1", "p2", "head", F.expr("(100*support) div n_pca").alias("conf_pct"))
    sig = _signature(facts, subj_col, pred_col, obj_col)
    bodies = _chain_bodies(sig, max_mid_degree)
    derived = bodies.join(F.broadcast(keep), ["p1", "p2"])
    w = Window.partitionBy("x", "head", "y")
    best = (
        derived.withColumn(
            "rn",
            F.row_number().over(
                w.orderBy(F.desc("conf_pct"), "p1", "p2")
            ),
        )
        .withColumn("n_rules", F.count(F.lit(1)).over(w))
        .filter(F.col("rn") == 1)
    )
    known = sig.select(
        F.col("s").alias("x"), F.col("p").alias("head"), F.col("o").alias("y")
    )
    return best.join(known, ["x", "head", "y"], "left_anti").select(
        F.col("x").alias(subj_col),
        F.col("head").alias(pred_col),
        F.col("y").alias(obj_col),
        "n_rules",
        F.col("p1").alias("rule_p1"),
        F.col("p2").alias("rule_p2"),
        "conf_pct",
    )
