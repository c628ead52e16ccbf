"""KG post-processing plan: fusion + ontology audit + literal dictionary.

The fourth pipeline surface (after build / curation / crawl-delta): takes
the extracted triple table and materializes the knowledge-base artifacts
a downstream consumer reads —

  k1 claims      — deduplicated (subject, predicate, object, source)
                   claim set (source = url host by default, or a
                   deterministic crawl-segment for synthetic corpora);
  k2 fused       — two-round source-weighted truth fusion
                   (``operators/fusion.fuse_triples``);
  k3 violations  — functional-constraint violations with the constraint
                   set INDUCED from the data (90% single-object rule);
  k4 literals    — typed-literal dictionary
                   (``operators/literals.typed_literals``);
  k5 summary     — entity cards (top-k rarest facts per subject);
  k6 schema      — per-predicate schema report (cardinality +
                   functional flag + induced range type).

Same checkpoint/manifest machinery as ``run_pipeline``/``run_curation``:
chained fingerprints, atomic rename commits, stage-level resume. k2-k5
all read k1/triples, so a new crawl delta (changed claims fingerprint)
replays exactly the downstream stages.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sigraph_spark.plans.pipeline import (
    run_stage, stage_fingerprint, table_fingerprint,
)


def claim_source(url_col: str = "url", segments: int | None = None):
    """Source attribution column: the url host (production default), or
    ``trailing-integer % segments`` crawl segments for synthetic corpora
    whose urls share one host."""
    if segments is None:
        # hostless/malformed urls attribute to ONE explicit bucket: a NULL
        # source would never match fuse_triples' reliability join (zero
        # round-1 weight) while still counting as a phantom round-0 voter
        return F.coalesce(
            F.lower(F.parse_url(F.col(url_col), F.lit("HOST"))),
            F.lit("(unattributed)"),
        )
    i = F.regexp_extract(url_col, "([0-9]+)$", 1).cast("long")
    return F.concat(F.lit("seg-"), (i % segments).cast("string"))


def run_kg_post(
    spark: SparkSession,
    triples: DataFrame,
    workdir: str,
    segments: int | None = None,
    top_k: int = 3,
    input_fingerprint: str | None = None,
) -> dict[str, DataFrame]:
    from sigraph_spark.operators.fusion import (
        entity_summary, functional_violations, fuse_triples,
        predicate_schema,
    )
    from sigraph_spark.operators.literals import typed_literals

    # full content fingerprint over the columns the stages consume — any
    # in-place edit (actor, verb, or object, even same-length) must
    # invalidate the chain
    fp = input_fingerprint or table_fingerprint(
        triples.select("url", "step", "actor", "verb", "object")
    )
    # stage parameters fold into the stage keys (the k5 pattern): a
    # --segments change must recompute k1 even on identical triples
    fp_k1 = fp + f":seg{segments}"

    def build_claims() -> DataFrame:
        return (
            triples.select(
                F.col("actor").alias("subject"),
                F.col("verb").alias("predicate"),
                F.col("object").alias("object"),
                claim_source("url", segments).alias("source"),
            )
            .distinct()
        )

    claims = run_stage(
        spark, "k1_claims", os.path.join(workdir, "k1_claims"),
        build_claims, fp_k1,
    )
    claims_fp = stage_fingerprint(workdir, "k1_claims")

    fused = run_stage(
        spark, "k2_fused", os.path.join(workdir, "k2_fused"),
        lambda: fuse_triples(claims, "subject", "predicate", "object", "source"),
        claims_fp,
    )
    violations = run_stage(
        spark, "k3_violations", os.path.join(workdir, "k3_violations"),
        lambda: functional_violations(
            claims, subj_col="subject", pred_col="predicate", obj_col="object"
        ),
        claims_fp,
    )
    literals = run_stage(
        spark, "k4_literals", os.path.join(workdir, "k4_literals"),
        lambda: typed_literals(triples),
        fp,
    )
    summary = run_stage(
        spark, "k5_summary", os.path.join(workdir, "k5_summary"),
        lambda: entity_summary(
            claims, subj_col="subject", pred_col="predicate",
            obj_col="object", top_k=top_k,
        ),
        claims_fp + f":k{top_k}",
    )
    schema = run_stage(
        spark, "k6_schema", os.path.join(workdir, "k6_schema"),
        lambda: predicate_schema(
            claims, subj_col="subject", pred_col="predicate", obj_col="object"
        ),
        claims_fp,
    )
    return {
        "claims": claims,
        "fused": fused,
        "violations": violations,
        "literals": literals,
        "summary": summary,
        "schema": schema,
    }
