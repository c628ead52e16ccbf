"""TransE exact-integer training: python-reference parity, partition
invariance, learning signal, scoring semantics."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from sigraph_spark.operators.transe import (
    SCALE, transe_score, transe_train,
)
from sigraph_spark.signals import collect

FACTS = "subj string, predicate string, obj string"


def _h32(s: str) -> int:
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:4], "little")


def _transe_python(facts, dim, rounds, lr=20_000, margin=SCALE):
    facts = sorted(set(facts))
    ents = sorted({s for s, _, _ in facts} | {o for _, _, o in facts})
    rels = sorted({p for _, p, _ in facts})
    rank = {i: e for i, e in enumerate(ents)}
    e = {(x, k): _h32(f"e|{x}|{k}") % (2 * SCALE + 1) - SCALE
         for x in ents for k in range(dim)}
    r = {(x, k): _h32(f"r|{x}|{k}") % (2 * SCALE + 1) - SCALE
         for x in rels for k in range(dim)}
    sign = lambda v: 1 if v > 0 else (-1 if v < 0 else 0)
    viol_counts = []
    for t in range(1, rounds + 1):
        eu: dict = {}
        ru: dict = {}
        n_viol = 0
        for s, p, o in facts:
            neg = rank[_h32(f"{s}|{p}|{o}|{t}") % len(ents)]
            dp = [e[(s, k)] + r[(p, k)] - e[(o, k)] for k in range(dim)]
            dn = [e[(s, k)] + r[(p, k)] - e[(neg, k)] for k in range(dim)]
            if sum(map(abs, dp)) + margin - sum(map(abs, dn)) > 0:
                n_viol += 1
                for k in range(dim):
                    gp, gn = sign(dp[k]), sign(dn[k])
                    eu[(s, k)] = eu.get((s, k), 0) - lr * (gp - gn)
                    ru[(p, k)] = ru.get((p, k), 0) - lr * (gp - gn)
                    eu[(o, k)] = eu.get((o, k), 0) + lr * gp
                    eu[(neg, k)] = eu.get((neg, k), 0) - lr * gn
        viol_counts.append(n_viol)
        for key, d in eu.items():
            e[key] += d
        for key, d in ru.items():
            r[key] += d
    out = {("e", x, k): v for (x, k), v in e.items()}
    out.update({("r", x, k): v for (x, k), v in r.items()})
    return out, viol_counts


TINY = [
    ("a", "likes", "b"), ("b", "likes", "c"), ("c", "likes", "a"),
    ("a", "hates", "d"), ("d", "likes", "e"), ("e", "hates", "b"),
    ("b", "hates", "e"), ("c", "hates", "d"),
]


def test_train_matches_python_reference(spark):
    with collect() as rec:
        got = {
            (r["kind"], r["id"], r["k"]): r["v"]
            for r in transe_train(
                spark.createDataFrame(TINY, FACTS), dim=4, rounds=3,
            ).collect()
        }
    ref, viols = _transe_python(TINY, dim=4, rounds=3)
    assert got == ref
    assert rec["transe_train"]["violations"] == viols


def test_partition_invariance(spark):
    df1 = spark.createDataFrame(TINY, FACTS).repartition(1)
    df7 = spark.createDataFrame(TINY, FACTS).repartition(7)
    r1 = sorted(map(tuple, transe_train(df1, dim=3, rounds=2).collect()))
    r7 = sorted(map(tuple, transe_train(df7, dim=3, rounds=2).collect()))
    assert r1 == r7


def test_training_learns_true_tails(spark):
    # a clean 1-1 relation: after training, the true tail should score
    # (strictly) better than the average corrupted tail for most heads
    facts = [(f"h{i}", "maps_to", f"t{i}") for i in range(12)]
    df = spark.createDataFrame(facts, FACTS)
    with collect() as rec:
        emb = transe_train(df, dim=8, rounds=8, lr=100_000).cache()
    # the violation curve falls as training converges (not necessarily
    # monotonically — margin violations can transiently rise)
    v = rec["transe_train"]["violations"]
    assert v[-1] < v[0]
    true_d = {
        (r["subj"], r["obj"]): r["dist_fp"]
        for r in transe_score(emb, df).collect()
    }
    # corrupted candidates: every head x every tail
    cands = [(f"h{i}", "maps_to", f"t{j}") for i in range(12) for j in range(12)]
    all_d = {
        (r["subj"], r["obj"]): r["dist_fp"]
        for r in transe_score(
            emb, spark.createDataFrame(cands, FACTS)
        ).collect()
    }
    wins = 0
    for i in range(12):
        mine = all_d[(f"h{i}", f"t{i}")]
        others = [all_d[(f"h{i}", f"t{j}")] for j in range(12) if j != i]
        if mine < sum(others) / len(others):
            wins += 1
    assert wins >= 10  # true tail beats the average corruption


def test_score_drops_unseen_ids(spark):
    emb = transe_train(spark.createDataFrame(TINY, FACTS), dim=3, rounds=1)
    cands = spark.createDataFrame(
        [("a", "likes", "b"), ("zz", "likes", "b"), ("a", "unknown_rel", "b")],
        FACTS,
    )
    got = {(r["subj"], r["predicate"]) for r in transe_score(emb, cands).collect()}
    assert got == {("a", "likes")}


def test_colliding_negative_is_exact_noop(spark):
    # a fact whose drawn negative equals its true tail must leave the
    # embeddings unchanged vs the same fact being skipped entirely:
    # engineered by a single-entity graph (the only draw IS the tail)
    facts = [("x", "self", "x")]
    emb = {
        (r["kind"], r["id"], r["k"]): r["v"]
        for r in transe_train(
            spark.createDataFrame(facts, FACTS), dim=4, rounds=2
        ).collect()
    }
    ref, _ = _transe_python(facts, dim=4, rounds=2)
    assert emb == ref
    # dp == dn -> no violation possible beyond margin cancellation:
    # updates for s/p cancel (gp-gn = 0) and t gets +gp + -gn = 0
    # direct check: all values equal their deterministic init
    for (kind, x, k), v in ref.items():
        h = _h32(f"{kind}|{x}|{k}") % (2 * SCALE + 1) - SCALE
        assert v == h


DELTA = [("d", "likes", "e2"), ("e2", "hates", "b")]


def test_resume_matches_python_reference_with_delta(spark):
    # cold phase on TINY, resume phase on TINY+DELTA with continued draws
    def train_py(facts, dim, rounds, init=None, offset=0, lr=20_000):
        facts = sorted(set(facts))
        ents = sorted({s for s, _, _ in facts} | {o for _, _, o in facts})
        rels = sorted({p for _, p, _ in facts})
        rank = {i: e for i, e in enumerate(ents)}
        e = {(x, k): (init[("e", x, k)] if init and ("e", x, k) in init
                      else _h32(f"e|{x}|{k}") % (2 * SCALE + 1) - SCALE)
             for x in ents for k in range(dim)}
        r = {(x, k): (init[("r", x, k)] if init and ("r", x, k) in init
                      else _h32(f"r|{x}|{k}") % (2 * SCALE + 1) - SCALE)
             for x in rels for k in range(dim)}
        sign = lambda v: 1 if v > 0 else (-1 if v < 0 else 0)
        for t in range(offset + 1, offset + rounds + 1):
            eu, ru = {}, {}
            for s, p, o in facts:
                neg = rank[_h32(f"{s}|{p}|{o}|{t}") % len(ents)]
                dp = [e[(s, k)] + r[(p, k)] - e[(o, k)] for k in range(dim)]
                dn = [e[(s, k)] + r[(p, k)] - e[(neg, k)] for k in range(dim)]
                if sum(map(abs, dp)) + SCALE - sum(map(abs, dn)) > 0:
                    for k in range(dim):
                        gp, gn = sign(dp[k]), sign(dn[k])
                        eu[(s, k)] = eu.get((s, k), 0) - lr * (gp - gn)
                        ru[(p, k)] = ru.get((p, k), 0) - lr * (gp - gn)
                        eu[(o, k)] = eu.get((o, k), 0) + lr * gp
                        eu[(neg, k)] = eu.get((neg, k), 0) - lr * gn
            for key, d in eu.items():
                e[key] += d
            for key, d in ru.items():
                r[key] += d
        out = {("e", x, k): v for (x, k), v in e.items()}
        out.update({("r", x, k): v for (x, k), v in r.items()})
        return out

    base_df = spark.createDataFrame(TINY, FACTS)
    all_df = spark.createDataFrame(TINY + DELTA, FACTS)
    emb1 = transe_train(base_df, dim=3, rounds=2)
    got = {
        (r["kind"], r["id"], r["k"]): r["v"]
        for r in transe_train(
            all_df, dim=3, rounds=2, init_emb=emb1, round_offset=2
        ).collect()
    }
    emb1_py = train_py(TINY, 3, 2)
    assert got == train_py(TINY + DELTA, 3, 2, init=emb1_py, offset=2)


def test_resume_on_unchanged_facts_is_bit_identical_to_cold_run(spark):
    df = spark.createDataFrame(TINY, FACTS)
    cold = sorted(map(tuple, transe_train(df, dim=3, rounds=4).collect()))
    emb1 = transe_train(df, dim=3, rounds=2)
    warm = sorted(map(tuple, transe_train(
        df, dim=3, rounds=2, init_emb=emb1, round_offset=2
    ).collect()))
    assert warm == cold


def test_rank_tails_and_summary(spark):
    from sigraph_spark.operators.transe import (
        transe_eval_summary, transe_rank_tails,
    )

    df = spark.createDataFrame(TINY, FACTS)
    emb = transe_train(df, dim=4, rounds=3).cache()
    ranks = transe_rank_tails(emb, df, filter_facts=df).cache()
    got = {(r["subj"], r["predicate"], r["obj"]): r["rank"]
           for r in ranks.collect()}
    # one rank per distinct fact; ranks within [1, n_entities]
    assert set(got) == set(TINY)
    n_ents = len({s for s, _, _ in TINY} | {o for _, _, o in TINY})
    assert all(1 <= v <= n_ents for v in got.values())
    [s] = transe_eval_summary(ranks, k=3).collect()
    assert s["n_queries"] == len(TINY)
    assert s["hits1"] <= s["hits3"] <= s["n_queries"]
    assert s["mrr"] == round(
        sum(1.0 / v for v in got.values()) / len(got), 6)


def test_filtered_ranking_excludes_known_tails(spark):
    from sigraph_spark.operators.transe import transe_rank_tails

    # s has TWO true tails; in the filtered setting, ranking (s,p,o1)
    # must not count o2 as a competitor (and vice versa)
    facts = [("s", "p", "o1"), ("s", "p", "o2"), ("x", "q", "y")]
    df = spark.createDataFrame(facts, FACTS)
    emb = transe_train(df, dim=4, rounds=2).cache()
    raw = {r["obj"]: r["rank"] for r in transe_rank_tails(
        emb, df.filter(F.col("subj") == "s")).collect()}
    filt = {r["obj"]: r["rank"] for r in transe_rank_tails(
        emb, df.filter(F.col("subj") == "s"), filter_facts=df).collect()}
    # filtering can only improve (or keep) a probe's rank
    assert filt["o1"] <= raw["o1"] and filt["o2"] <= raw["o2"]
    # and the two probes can't both be blocked by each other anymore:
    # total filtered competitors = n_entities - 1 (the other true tail)
    assert max(filt.values()) <= max(raw.values())


def test_banded_ranking_equals_exhaustive(spark):
    from sigraph_spark.operators.transe import (
        transe_rank_tails, transe_train,
    )

    facts = spark.createDataFrame(TINY, FACTS)
    emb = transe_train(facts, dim=4, rounds=3).cache()
    q = facts.limit(8)
    for ff in (None, facts):
        banded = {
            (r["subj"], r["predicate"], r["obj"]): r["rank"]
            for r in transe_rank_tails(emb, q, filter_facts=ff).collect()
        }
        exhaustive = {
            (r["subj"], r["predicate"], r["obj"]): r["rank"]
            for r in transe_rank_tails(
                emb, q, filter_facts=ff, band_dim=None
            ).collect()
        }
        assert banded == exhaustive and len(banded) > 0
    # tiny band_buckets (wide buckets) and a different coordinate must
    # not change ranks either -- the band is a superset guarantee, not
    # a tuning knob correctness depends on
    alt = {
        (r["subj"], r["predicate"], r["obj"]): r["rank"]
        for r in transe_rank_tails(
            emb, q, band_dim=2, band_buckets=2
        ).collect()
    }
    base = {
        (r["subj"], r["predicate"], r["obj"]): r["rank"]
        for r in transe_rank_tails(emb, q, band_dim=None).collect()
    }
    assert alt == base
