"""AMIE chain-rule mining + forward chaining: python-reference parity,
hand-computed counts, PCA vs std confidence, hot-mid guard, inference
novelty/tie-break, partition invariance."""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

from sigraph_spark.operators.rulemine import infer_chain, mine_chain_rules
from sigraph_spark.signals import collect

FIXTURE = [
    # born_in(x, city)
    ("a", "born_in", "rome"),
    ("b", "born_in", "rome"),
    ("c", "born_in", "paris"),
    ("d", "born_in", "paris"),
    ("e", "born_in", "berlin"),
    # city_in(city, country)
    ("rome", "city_in", "italy"),
    ("paris", "city_in", "france"),
    ("berlin", "city_in", "germany"),
    # nationality(x, country) — d is wrong (noise), e is MISSING (PCA case)
    ("a", "nationality", "italy"),
    ("b", "nationality", "italy"),
    ("c", "nationality", "france"),
    ("d", "nationality", "spain"),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "subj string, predicate string, obj string")


def _mine_py(facts, cap=10**9, min_support=1, min_conf_pct=0):
    """Brute-force reference: every (p1, p2, head) combination."""
    sig = set(facts)
    out_deg = Counter(s for s, _, _ in sig)
    in_deg = Counter(o for _, _, o in sig)
    hot = {
        z
        for z in set(out_deg) & set(in_deg)
        if in_deg[z] > cap or out_deg[z] > cap
    }
    right = defaultdict(list)
    for s, p, o in sig:
        right[s].append((p, o))
    bodies = defaultdict(set)
    for x, p1, z in sig:
        if z in hot:
            continue
        for p2, y in right.get(z, []):
            bodies[(p1, p2)].add((x, y))
    head_pairs = defaultdict(set)
    head_subj = defaultdict(set)
    for s, p, o in sig:
        head_pairs[p].add((s, o))
        head_subj[p].add(s)
    rules = {}
    for (p1, p2), bs in bodies.items():
        for h in head_pairs:
            sup = len(bs & head_pairs[h])
            if sup >= min_support and 100 * sup >= min_conf_pct * len(bs):
                pca = sum(1 for (x, _) in bs if x in head_subj[h])
                rules[(p1, p2, h)] = (sup, len(bs), pca, len(head_pairs[h]))
    return rules


def _collect_rules(df):
    return {
        (r["p1"], r["p2"], r["head"]): (
            r["support"],
            r["n_body"],
            r["n_pca"],
            r["n_head"],
        )
        for r in df.collect()
    }


def test_known_rule_counts(spark):
    rules = _collect_rules(
        mine_chain_rules(_df(spark, FIXTURE), min_support=2, min_conf_pct=25)
    )
    # bodies for (born_in, city_in): (a,italy)(b,italy)(c,france)(d,france)
    # (e,germany) = 5; head holds for a,b,c = 3; PCA keeps subjects with
    # SOME nationality (a,b,c,d) = 4; |nationality| = 4.
    assert rules[("born_in", "city_in", "nationality")] == (3, 5, 4, 4)
    row = [
        r
        for r in mine_chain_rules(
            _df(spark, FIXTURE), min_support=2, min_conf_pct=25
        ).collect()
        if r["head"] == "nationality"
    ][0]
    assert row["std_conf"] == 3 / 5
    assert row["pca_conf"] == 3 / 4
    assert row["head_coverage"] == 3 / 4


def test_transitivity_discovered(spark):
    closure = [
        ("a", "anc", "b"),
        ("b", "anc", "c"),
        ("c", "anc", "d"),
        ("a", "anc", "c"),
        ("b", "anc", "d"),
        ("a", "anc", "d"),
    ]
    rules = _collect_rules(
        mine_chain_rules(_df(spark, closure), min_support=1, min_conf_pct=100)
    )
    # chain-closed relation: anc ∘ anc ⇒ anc at 100% confidence
    assert rules[("anc", "anc", "anc")] == (3, 3, 3, 6)


def test_python_reference_parity(spark):
    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest(), 16)

    ents = [f"e{i}" for i in range(12)]
    preds = ["pa", "pb", "pc"]
    facts = sorted(
        {
            (
                ents[h(f"s{i}") % 12],
                preds[h(f"p{i}") % 3],
                ents[h(f"o{i}") % 12],
            )
            for i in range(160)
        }
    )
    got = _collect_rules(
        mine_chain_rules(_df(spark, facts), min_support=1, min_conf_pct=0)
    )
    assert got == _mine_py(facts)


def test_hot_mid_guard(spark):
    hub = [("x%d" % i, "p", "hub") for i in range(30)] + [
        ("hub", "q", "y%d" % i) for i in range(30)
    ]
    with collect() as rec:
        rules = mine_chain_rules(
            _df(spark, FIXTURE + hub),
            min_support=1,
            min_conf_pct=0,
            max_mid_degree=10,
        )
    got = _collect_rules(rules)
    assert ("p", "q") not in {(p1, p2) for (p1, p2, _) in got}
    hot = rec["_chain_bodies"]
    assert hot["hot_mids"] == 1 and hot["hot_mid_sample"] == ["hub"]
    # the cold chain is untouched
    assert got[("born_in", "city_in", "nationality")] == (3, 5, 4, 4)


def test_infer_chain_novelty_and_conf(spark):
    facts = _df(spark, FIXTURE)
    rules = mine_chain_rules(facts, min_support=2, min_conf_pct=25)
    inferred = {
        (r["subj"], r["predicate"], r["obj"]): r
        for r in infer_chain(facts, rules, min_pca_conf_pct=50).collect()
        if r["predicate"] == "nationality"
    }
    # known heads (a,b,c → their countries) are anti-joined away; the
    # new derivations are d→france (d's stored fact says spain) and
    # e→germany (e had no nationality at all).
    assert set(inferred) == {
        ("d", "nationality", "france"),
        ("e", "nationality", "germany"),
    }
    r = inferred[("e", "nationality", "germany")]
    assert r["n_rules"] == 1
    assert (r["rule_p1"], r["rule_p2"]) == ("born_in", "city_in")
    assert r["conf_pct"] == 75  # (100*3) div 4


def test_infer_best_rule_tiebreak(spark):
    # duplicate chain through a second predicate with identical stats:
    # lives_in ∘ city_in derives the same heads — lexicographically
    # smaller p1 ('born_in') must win the tie deterministically.
    extra = [(s, "lives_in", o) for (s, p, o) in FIXTURE if p == "born_in"]
    facts = _df(spark, FIXTURE + extra)
    rules = mine_chain_rules(facts, min_support=2, min_conf_pct=25)
    inferred = {
        (r["subj"], r["obj"]): r
        for r in infer_chain(facts, rules, min_pca_conf_pct=50).collect()
        if r["predicate"] == "nationality"
    }
    r = inferred[("e", "germany")]
    assert r["n_rules"] == 2
    assert (r["rule_p1"], r["rule_p2"]) == ("born_in", "city_in")


def _path_facts(spark):
    return _df(
        spark,
        [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "d"), ("d", "p", "e")],
    )


def _trans_rule(spark):
    return spark.createDataFrame(
        [("p", "p", "p", 1, 1)],
        "p1 string, p2 string, head string, support long, n_pca long",
    )


def test_chase_transitive_closure(spark):
    from sigraph_spark.operators.rulemine import chase

    with collect() as rec:
        out = {
            (r["subj"], r["obj"]): r["round"]
            for r in chase(_path_facts(spark), _trans_rule(spark)).collect()
        }
    # path a->b->c->d->e saturates to the full closure; a pair at
    # distance d lands in round ceil(log2(d)).
    chain = "abcde"
    assert set(out) == {
        (chain[i], chain[j]) for i in range(5) for j in range(i + 1, 5)
    }
    assert out[("a", "b")] == 0 and out[("a", "c")] == 1
    assert out[("a", "d")] == 2 and out[("a", "e")] == 2
    assert rec["chase"]["rounds"] == [3, 3, 0]
    assert rec["chase"]["converged"] is True


def test_chase_truncation_flagged(spark):
    from sigraph_spark.operators.rulemine import chase

    with collect() as rec:
        out = chase(_path_facts(spark), _trans_rule(spark), max_rounds=1)
    assert out.filter("round = 1").count() == 3
    assert rec["chase"]["rounds"] == [3]
    assert rec["chase"]["converged"] is False


def test_chase_pca_gate_blocks_weak_rules(spark):
    from sigraph_spark.operators.rulemine import chase

    weak = spark.createDataFrame(
        [("p", "p", "p", 1, 3)],  # 33% PCA confidence < 50% threshold
        "p1 string, p2 string, head string, support long, n_pca long",
    )
    out = chase(_path_facts(spark), weak)
    assert out.filter("round > 0").count() == 0


def test_partition_invariance(spark):
    facts = _df(spark, FIXTURE)
    base = _collect_rules(mine_chain_rules(facts, min_support=1, min_conf_pct=0))
    shuffled = _collect_rules(
        mine_chain_rules(facts.repartition(7), min_support=1, min_conf_pct=0)
    )
    assert base == shuffled
