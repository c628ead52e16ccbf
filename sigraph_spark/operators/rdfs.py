"""RDFS entailment closure (round 5) — the ρDF fragment.

Completes the standards-shaped triple-store stack (SPARQL query in
``bgp.py``, SPARQL Update in ``sparql_update.py``, this = inference):
materializes the RDFS closure of a triple store under the minimal-RDFS
(ρDF) rule set (Muñoz, Pérez & Gutiérrez, "Simple and Efficient
Minimal RDFS", JWS 2009 — the fragment every production reasoner
actually runs):

- rdfs5/11: ``subPropertyOf`` / ``subClassOf`` transitivity
- rdfs7:   ``(p subPropertyOf q), (x p y) -> (x q y)``
- rdfs2/3: ``(p domain c), (x p y) -> (x type c)`` / range -> object
- rdfs9:   ``(c subClassOf d), (x type c) -> (x type d)``

Scale design (the WebPIE insight — Urbani et al., "OWL Reasoning with
WebPIE", ESWC 2010, the published MapReduce/Spark-family result this
mirrors): SCHEMA triples are vocabulary-sized while INSTANCE triples
are the corpus, and under ρDF the rules stratify, so the closure needs
NO fixpoint over instance data:

1. close ``subPropertyOf`` and ``subClassOf`` transitively over the
   schema alone (iterated small self-joins, each <= vocabulary-sized,
   checkpointed; depth bound loudly enforced);
2. one broadcast join applies rdfs7 to every instance triple;
3. one broadcast join applies rdfs2/3 (domain/range lookups are
   already superproperty-complete because step 2 materialized the
   superproperty triples);
4. one broadcast join applies rdfs9 to the type triples from 1-3.

The corpus is read once and never shuffled — every derivation is a
broadcast hash join; the single wide operation is the final distinct.
Axiomatic triples (rdf:Property typing etc.) are NOT emitted — ρDF
drops them deliberately; container/annotation vocabulary is out of
scope, matching the fragment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sigraph_spark.functions.fixpoint import semi_naive

__all__ = ["rdfs_closure"]

TYPE = "rdf:type"
SUBCLASS = "rdfs:subClassOf"
SUBPROP = "rdfs:subPropertyOf"
DOMAIN = "rdfs:domain"
RANGE = "rdfs:range"


def _transitive_close(pairs: DataFrame, max_depth: int = 32) -> DataFrame:
    """Transitive closure of a vocabulary-sized (a, b) relation by
    iterated join (``functions/fixpoint.py``'s :func:`semi_naive`; the
    delta joins the whole closure so far, so path lengths double).
    Raises when ``max_depth`` rounds don't converge — a hierarchy
    deeper than that is a data bug, not a workload."""

    def step(delta: DataFrame, closed: DataFrame) -> DataFrame:
        return (
            delta.select(F.col("a"), F.col("b").alias("m"))
            .join(closed.select(F.col("a").alias("m"), "b"), "m")
            .select("a", "b")
            .distinct()
        )

    closed, _, converged = semi_naive(pairs.distinct(), step, ["a", "b"],
                                      max_depth)
    if not converged:
        raise ValueError(f"transitive closure did not converge in "
                         f"{max_depth} rounds")
    return closed


def rdfs_closure(
    triples: DataFrame,
    src_col: str = "src",
    pred_col: str = "predicate",
    dst_col: str = "dst",
) -> DataFrame:
    """Materialize the ρDF closure -> distinct ``(src, predicate,
    dst)`` including the asserted triples and the closed schema."""
    t = triples.select(
        F.col(src_col).alias("src"),
        F.col(pred_col).alias("predicate"),
        F.col(dst_col).alias("dst"),
    ).distinct()

    def _schema(pred: str) -> DataFrame:
        return t.filter(F.col("predicate") == pred).select(
            F.col("src").alias("a"), F.col("dst").alias("b"))

    sp = _transitive_close(_schema(SUBPROP))    # rdfs5
    sc = _transitive_close(_schema(SUBCLASS))   # rdfs11
    dom = _schema(DOMAIN)
    rng = _schema(RANGE)

    inst = t.filter(~F.col("predicate").isin(SUBPROP, SUBCLASS,
                                             DOMAIN, RANGE))

    # rdfs7: superproperty triples, one broadcast join over the corpus
    r7 = (
        inst.join(F.broadcast(sp.withColumnRenamed("a", "predicate")),
                  "predicate")
        .select("src", F.col("b").alias("predicate"), "dst")
    )
    inst_all = inst.unionByName(r7)

    # rdfs2/3: domain -> subject typing, range -> object typing
    nontype = inst_all.filter(F.col("predicate") != TYPE)
    r2 = (
        nontype.join(F.broadcast(dom.withColumnRenamed("a", "predicate")),
                     "predicate")
        .select("src", F.lit(TYPE).alias("predicate"),
                F.col("b").alias("dst"))
    )
    r3 = (
        nontype.join(F.broadcast(rng.withColumnRenamed("a", "predicate")),
                     "predicate")
        .select(F.col("dst").alias("src"), F.lit(TYPE).alias("predicate"),
                F.col("b").alias("dst"))
    )

    # rdfs9: superclass typing over every type triple derived so far
    types = (
        inst_all.filter(F.col("predicate") == TYPE)
        .unionByName(r2).unionByName(r3)
    )
    r9 = (
        types.join(F.broadcast(sc.withColumnRenamed("a", "dst")), "dst")
        .select("src", "predicate", F.col("b").alias("dst"))
    )

    closed_schema = (
        sp.select(F.col("a").alias("src"),
                  F.lit(SUBPROP).alias("predicate"),
                  F.col("b").alias("dst"))
        .unionByName(sc.select(F.col("a").alias("src"),
                               F.lit(SUBCLASS).alias("predicate"),
                               F.col("b").alias("dst")))
        .unionByName(t.filter(F.col("predicate").isin(DOMAIN, RANGE)))
    )

    return (
        inst_all.unionByName(r2).unionByName(r3).unionByName(r9)
        .unionByName(closed_schema)
        .distinct()
    )
