"""spark-submit entry point: KG embedding training (TransE) with
warm-start resume and completion evaluation.

Usage (cluster):
    spark-submit --py-files dist/sigraph_spark.zip \\
        jobs/run_kg_embed.py --facts <parquet-path> --workdir /data/kgemb \\
        --total-rounds 20 --shuffle-partitions 2000

Local smoke (synthetic corpus):
    python jobs/run_kg_embed.py --synthetic-sf 0.01 --workdir /tmp/kgemb \\
        --total-rounds 4 --master 'local[8]' --shuffle-partitions 8

The embedding table is INCREMENTAL STATE, not a per-run artifact: each
invocation warm-starts from the stored vectors (new entities get the
deterministic init) and trains up to ``--total-rounds`` cumulative
rounds — training is exact-integer, so rerunning on unchanged facts
reproduces the long cold run bit-for-bit, and an invocation that finds
the target already reached prints ``{"resume_noop": true}`` and exits
without touching state (replay-safe, the run_crawl_delta contract).
State commits through the ``plans/ledger.py`` state ledger: the vectors
land in ``embeddings/v{N}/data``, then one atomic ``_state.json`` commit
(carrying rounds_done, dim, lr) makes them live, so a crash at any point
leaves the previous complete vectors and round count in place.

After training, every ~eval-rate'th fact becomes a completion probe
(filtered ranking) and the JSON line reports MRR / Hits@1 / Hits@10.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--facts", help="facts parquet (subj, predicate, obj)")
    ap.add_argument("--synthetic-sf", type=float,
                    help="generate the synthetic corpus and extract triples")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--dim", type=int, default=8)
    ap.add_argument("--total-rounds", type=int, default=6,
                    help="cumulative training-round target across runs")
    ap.add_argument("--lr", type=int, default=20_000)
    ap.add_argument("--eval-rate", type=int, default=10,
                    help="every ~Nth fact becomes a completion probe (0 = skip eval)")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)
    if not args.facts and args.synthetic_sf is None:
        ap.error("one of --facts / --synthetic-sf is required")

    from pyspark.sql import functions as F

    from sigraph_spark import signals
    from sigraph_spark.operators.dedup import hash32_md5_le
    from sigraph_spark.operators.transe import (
        transe_eval_summary, transe_rank_tails, transe_train,
    )
    from sigraph_spark.plans import ledger
    from sigraph_spark.session import build_session

    spark = build_session(
        app_name="sigraph-kg-embed",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.monotonic()

    if args.synthetic_sf is not None:
        from sigraph_spark.corpus import gen_pages
        from sigraph_spark.operators.extract import extract_pages
        from sigraph_spark.operators.triples import triples_from_docs

        pages = gen_pages(spark, sf=args.synthetic_sf)
        facts = triples_from_docs(
            extract_pages(pages).select("url", "text")
        ).select(
            F.col("actor").alias("subj"),
            F.col("verb").alias("predicate"),
            F.col("object").alias("obj"),
        )
    else:
        facts = spark.read.parquet(args.facts).select(
            "subj", "predicate", "obj"
        )
    facts = facts.localCheckpoint(eager=True)

    state_dir = os.path.join(args.workdir, "embeddings")
    st = ledger.load(state_dir, {"version": 0, "rounds_done": 0})
    ledger.gc(state_dir, [os.path.join(f"v{st['version']}", "data")])
    prior, rounds_done = None, st["rounds_done"]
    if st["version"]:
        if st["dim"] != args.dim:
            raise SystemExit(
                f"stored embeddings have dim={st['dim']}, "
                f"requested {args.dim} — pick a new --workdir"
            )
        prior = spark.read.parquet(
            os.path.join(state_dir, f"v{st['version']}", "data"))

    if rounds_done >= args.total_rounds:
        print(json.dumps({
            "resume_noop": True,
            "rounds_done": rounds_done,
            "total_rounds": args.total_rounds,
        }))
        spark.stop()
        return 0

    add = args.total_rounds - rounds_done
    with signals.collect() as rec:
        emb = transe_train(
            facts, dim=args.dim, rounds=add, lr=args.lr,
            init_emb=prior, round_offset=rounds_done,
        ).localCheckpoint(eager=True)
    violations = rec["transe_train"]["violations"]

    rel = os.path.join(f"v{st['version'] + 1}", "data")
    emb.write.mode("overwrite").parquet(os.path.join(state_dir, rel))
    ledger.commit(state_dir, {
        "version": st["version"] + 1,
        "dim": args.dim,
        "rounds_done": args.total_rounds,
        "lr": args.lr,
        "violations_this_run": violations,
    })
    ledger.gc(state_dir, [rel])

    report = {
        "entities": emb.filter(F.col("kind") == "e")
        .select("id").distinct().count(),
        "relations": emb.filter(F.col("kind") == "r")
        .select("id").distinct().count(),
        "rounds_done": args.total_rounds,
        "rounds_this_run": add,
        "violations": violations,
    }
    if args.eval_rate:
        h = hash32_md5_le(F.concat_ws("|", "subj", "predicate", "obj"))
        probes = facts.distinct().filter(h % args.eval_rate == 0)
        ranks = transe_rank_tails(emb, probes, filter_facts=facts)
        [s] = transe_eval_summary(ranks, k=10).collect()
        report.update({
            "n_probes": s["n_queries"], "mrr": s["mrr"],
            "hits1": s["hits1"], "hits10": s["hits10"],
        })
    report["wall_s"] = round(time.monotonic() - t0, 2)
    print(json.dumps(report))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
