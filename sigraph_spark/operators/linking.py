"""S3: entity linking & canonicalization.

Stage layout (north_star):

1. **Normalize** (exact unification, reference ``ai_agent.py:389-403``):
   lowercase + trim + defang ``[.]`` -> ``.`` — pure Column expressions.
2. **Block** candidate near-duplicate pairs with the repo's OWN banded
   MinHash-LSH (``operators.dedup`` machinery) over character 3-gram
   shingles — one shared, already-oracled implementation; no Spark-ML
   fit/transform and no ML-internal hashing.
3. **Score** candidates with TF-IDF cosine computed ENTIRELY JVM-side:
   per-entity L2-normalized shingle-weight maps + ``map_zip_with``
   dot product over the LSH-pruned pair set — zero Python in the path.
4. **Canonicalize** with connected components over the match edges
   (alternating large-star/small-star contraction over DataFrames —
   GraphFrames-free, deterministic: the canonical id is the lexicographic
   minimum of each component; O(log n) rounds regardless of component
   diameter).

Scale notes: LSH banding bounds the candidate-pair explosion to near-linear;
star contraction converges in O(log n) rounds even on giant high-diameter
components (web boilerplate chains); each round localCheckpoints to
truncate lineage. Skewed head entities (one hot URL in 30% of triples)
never blow up: linking runs over the **distinct entity vocabulary**, not
over triple instances.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sigraph_spark import signals
from sigraph_spark.functions.fixpoint import semi_naive


def normalize_entity(c: Column) -> Column:
    """Exact unification (ai_agent.py:389-403): lower, strip, re-fang.

    ``replace`` is literal (not regex) — defanged IoCs like
    ``evil[.]example`` become ``evil.example``.
    """
    return F.replace(F.lower(F.trim(c)), F.lit("[.]"), F.lit("."))


def remove_lucene_chars(c: Column) -> Column:
    """Predicate sanitation (ai_agent.py:378, langchain-neo4j charset):
    ``+ - && || ! ( ) { } [ ] ^ " ~ * ? : \\ /`` -> space."""
    return F.trim(F.regexp_replace(c, r'[+\-&|!(){}\[\]^"~*?:\\/]', " "))


def char_shingles(c: Column, k: int = 3) -> Column:
    """Character k-gram shingle array as a pure Column expression; short
    strings fall back to the whole string as a single shingle.

    Zip-shift construction (arrays_zip of k shifted char slices) rather
    than ``transform(sequence(i), substring(c, i, k))`` — the indexed
    lambda drops to interpreted per-element eval (see dedup._word_grams).
    """
    chars = F.split(c, "")
    cnt = F.size(chars) - (k - 1)
    shifted = [F.slice(chars, j + 1, cnt).alias(f"c{j}") for j in range(k)]
    grams = F.transform(
        F.arrays_zip(*shifted),
        lambda s: F.concat_ws("", *[s[f"c{j}"] for j in range(k)]),
    )
    return F.when(F.length(c) < k, F.array(c)).otherwise(F.array_distinct(grams))


def entity_vocab(triples: DataFrame) -> DataFrame:
    """Distinct normalized entity strings from actor + object columns."""
    ents = (
        triples.select(normalize_entity(F.col("actor")).alias("entity"))
        .unionAll(triples.select(normalize_entity(F.col("object")).alias("entity")))
        .filter(F.col("entity") != "")
        .distinct()
    )
    return ents


def entity_band_index(
    entities: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    rows: int = 4,
    k: int = 3,
) -> DataFrame:
    """(entity, bk) LSH band keys over char-k-gram MinHash signatures —
    the blocking index. Shared by the full path (``candidate_pairs``) and
    the incremental path (the STORED index the crawl delta probes, so the
    corpus is never re-signed). Arrow numpy kernel, deterministic."""
    from sigraph_spark.operators.dedup import (
        lsh_band_keys, minhash_signature_udf,
    )

    assert bands * rows <= num_hashes
    sig = entities.select(
        "entity",
        minhash_signature_udf(k, num_hashes, "crc32", shingle="char")(
            F.col("entity")
        ).alias("sig"),
    )
    return sig.select(
        "entity", F.explode(lsh_band_keys(F.col("sig"), bands, rows)).alias("bk")
    )


def candidate_pairs(
    entities: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    rows: int = 4,
    k: int = 3,
    max_bucket: int = 8,
    banded: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH blocking over char-k-gram shingles -> (a, b) candidate
    pairs with a < b. Pass ``banded`` (an ``entity_band_index`` frame) to
    reuse already-computed signatures — the incremental path signs its
    delta exactly once.

    Built on the repo's own banded machinery (``operators.dedup``:
    ``minhash_signature`` pure-Column aggregate + ``lsh_band_keys``) over
    CHARACTER shingles instead of Spark ML's ``approxSimilarityJoin`` —
    one shared, already-oracled implementation, no ML fit/transform pass,
    fully deterministic hashing (crc32 + fixed coefficients). Banded
    equi-self-join, never all-pairs: the 8x4 banding fires with high
    probability above ~0.6 Jaccard — the TF-IDF cosine stage downstream
    supplies precision.

    HOT-BUCKET GUARD (``max_bucket``): a corpus with one templated entity
    family (e.g. ``payload_<n>.exe`` across 30% of pages — the bench_skew
    head-entity soak) collapses thousands of entities into the SAME band
    buckets, and the all-pairs self-join goes quadratic (measured 11x
    pipeline regression at sf0.05). Buckets larger than ``max_bucket``
    instead emit STAR pairs to the bucket's minimum entity — O(n) per
    bucket, and connected components still merges any genuine cluster
    through its hub (the cosine stage keeps precision per pair). The cap
    defaults tight (8): the bench_skew profile showed the templated family
    also spreading across thousands of MID-size buckets whose within-
    bucket all-pairs summed to millions; genuine near-dups almost always
    co-occur in a small bucket too, and capped buckets keep hub
    connectivity.

    Signatures run through the same Arrow numpy kernel as document dedup
    (``minhash_signature_udf`` with char shingles) — the pure-Column
    aggregate is interpreted (janino width limit) and measured ~5x slower
    at 90k entities."""
    if banded is None:
        # materialize the internally built index ONCE: four branches
        # consume it (sizes/small/big/hubs) and without a boundary each
        # would re-run the Arrow signature UDF and re-shuffle, and the
        # composed plan crosses the codegen cliff (measured 30s first
        # call / 3x steady-state at sf0.1 vs 1.3s with the boundary).
        # O(vocab x bands) rows — the same bound as the stored
        # incremental index. A caller-passed `banded` is already
        # materialized (the incremental path checkpoints its delta
        # index) — re-checkpointing it would double it in block-manager
        # memory.
        banded = entity_band_index(
            entities, num_hashes, bands, rows, k
        ).localCheckpoint(eager=True)
    sizes = banded.groupBy("bk").agg(F.count(F.lit(1)).alias("_n"))
    small = banded.join(
        sizes.filter(F.col("_n") <= max_bucket).select("bk"), "bk"
    )
    pairs_small = (
        small.select("bk", F.col("entity").alias("a"))
        .join(small.select("bk", F.col("entity").alias("b")), "bk")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    big = banded.join(
        sizes.filter(F.col("_n") > max_bucket).select("bk"), "bk"
    )
    hubs = big.groupBy("bk").agg(F.min("entity").alias("a"))
    pairs_big = (
        big.join(hubs, "bk")
        .filter(F.col("entity") > F.col("a"))
        .select("a", F.col("entity").alias("b"))
    )
    return pairs_small.unionAll(pairs_big).distinct()


def tfidf_cosine_scores(
    entities: DataFrame,
    pairs: DataFrame,
    k: int = 3,
    materialize: bool = True,
) -> DataFrame:
    """TF-IDF cosine over char-k-gram shingles for the LSH-pruned pairs,
    computed ENTIRELY JVM-side. Returns (a, b, cosine).

    Each entity becomes an L2-normalized ``map<shingle, weight>`` with
    ``idf = ln((N+1)/(df+1)) + 1`` (smoothed, always positive; shingles
    are distinct per entity so tf = 1); the pair dot product is
    ``map_zip_with`` + ``aggregate`` — no Python UDF, no ML vector types,
    and every step restatable in ANSI SQL for oracles. Entity strings are
    short, so the per-row maps are tiny; the only shuffles are the two
    keyed aggs and the pair join (LSH-pruned small side)."""
    term = entities.select(
        "entity", F.explode(char_shingles(F.col("entity"), k)).alias("sh")
    )
    dfreq = term.groupBy("sh").agg(F.count(F.lit(1)).cast("double").alias("_df"))
    nrow = entities.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    return _cosine_with_df(entities, pairs, dfreq, nrow, k, materialize)


def _cosine_with_df(
    entities: DataFrame,
    pairs: DataFrame,
    dfreq: DataFrame,
    nrow: DataFrame,
    k: int = 3,
    materialize: bool = True,
) -> DataFrame:
    """Cosine core with EXPLICIT document-frequency statistics: ``dfreq``
    is (sh, _df double) and ``nrow`` a one-row (_n double) frame. The
    incremental path feeds the STORED corpus-wide stats here so delta
    scoring uses the same idf space as a full recompute; shingles unseen
    in dfreq default df=0 (maximum idf — correct for brand-new tokens)."""
    term = entities.select(
        "entity", F.explode(char_shingles(F.col("entity"), k)).alias("sh")
    )
    weighted = (
        term.join(dfreq, "sh", "left")
        .crossJoin(F.broadcast(nrow))
        .select(
            "entity", "sh",
            (
                F.log(
                    (F.col("_n") + 1)
                    / (F.coalesce(F.col("_df"), F.lit(0.0)) + 1)
                )
                + 1
            ).alias("w"),
        )
    )
    vecs = (
        weighted.groupBy("entity")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("sh", "w")))
            ).alias("m"),
            F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("_l2"),
        )
        .select(
            "entity",
            F.transform_values("m", lambda _, v: v / F.col("_l2")).alias("vm"),
        )
    )
    # materialize the normalized vectors ONCE: they join as BOTH pair
    # sides, and the unmaterialized form recomputes the idf agg + map
    # build per side (and inflates the composed linking plan past the
    # whole-stage-codegen size cliff). O(vocab) rows of short-string
    # shingle maps. The tiny-vocab caller opts out (materialize=False):
    # there the recompute is cheaper than one more sequential job of
    # scheduling latency.
    if materialize:
        vecs = vecs.localCheckpoint(eager=True)
    lhs = vecs.select(F.col("entity").alias("a"), F.col("vm").alias("va"))
    rhs = vecs.select(F.col("entity").alias("b"), F.col("vm").alias("vb"))
    dot = F.aggregate(
        F.map_values(
            F.map_zip_with(
                "va", "vb",
                lambda _, x, y: F.coalesce(x, F.lit(0.0)) * F.coalesce(y, F.lit(0.0)),
            )
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return pairs.join(lhs, "a").join(rhs, "b").select("a", "b", dot.alias("cosine"))


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star operation (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): every node attaches its strictly-larger
    neighbors to its minimum neighborhood member. One min-agg (algebraic,
    map-side partial) + one equi-join."""
    nbrs = e.select("u", "v").unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        nbrs.groupBy("u")
        .agg(F.min("v").alias("_mv"))
        .select("u", F.least(F.col("_mv"), F.col("u")).alias("m"))
    )
    return (
        nbrs.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star operation: orient edges toward the smaller endpoint, then
    every node attaches itself and its smaller neighbors to the minimum."""
    o = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = o.groupBy("u").agg(F.min("v").alias("m"))
    attached = (
        o.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    selfed = mins.select("u", F.col("m").alias("v"))
    return attached.unionAll(selfed).filter(F.col("u") != F.col("v")).distinct()


def _min_roots(nodes: list, pairs: list) -> dict:
    """Driver-side union-find: ``{node: component minimum}`` over
    ``nodes`` and the endpoints of the ``(u, v)`` ``pairs``. Union by
    min keeps every root its component's minimum (for strings Python
    order == UTF-8 byte order == Spark order); finds compress paths."""
    parent = {x: x for x in nodes}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in pairs:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return {x: find(x) for x in parent}


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 50,
    small_graph_edges: int = 100_000,
) -> DataFrame:
    """Alternating large-star/small-star connected components (SURVEY.md
    §4-custom-1; Kiveris et al. 2014). Deterministic: the canonical id is
    the minimum node id of the component.

    Why not min-label propagation: propagation converges in O(component
    diameter) rounds, and web-scale near-dup graphs grow giant HIGH-diameter
    components (boilerplate chains) — a 10^6-long chain would need 10^6
    shuffles. Star contraction converges in O(log n) rounds regardless of
    diameter, each round two algebraic min-aggregations + joins whose keys
    are spread across the component (no single hub groupBy). One driver job
    per round checks convergence (edge set unchanged). Its signal holds
    {rounds, edges_final} for the stage manifest, at no extra job.

    The min-label propagation routine
    ``connected_components_propagation`` is kept only as the reference
    the tests compare this one against."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_prev = e.count()
    if n_prev <= small_graph_edges:
        # SMALL-GRAPH FAST PATH — the broadcast-join analog for an
        # iterative algorithm: below the (parameterized) threshold the
        # canonical edge set fits the driver trivially, and each star
        # round otherwise costs ~6 shuffle stages of scheduling latency
        # regardless of data size. Union-find with min-id tracking
        # produces the IDENTICAL (entity, canonical_id) relation the
        # contraction converges to (canonical = component minimum);
        # above the threshold nothing changes. ~100k edges is well
        # under a driver heartbeat of memory; a 100 TB near-dup graph
        # takes the distributed path as before.
        mapping = sorted(_min_roots([], e.collect()).items())
        edges_final = sum(1 for x, c in mapping if x != c)
        signals.emit("connected_components", rounds=0, edges_final=edges_final)
        return edges.sparkSession.createDataFrame(
            mapping,
            schema=(
                e.select(
                    F.col("u").alias("entity"),
                    F.col("v").alias("canonical_id"),
                ).schema
            ),
        )
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        e2 = _small_star(_large_star(e)).localCheckpoint(eager=True)
        # converged when the canonical edge set is unchanged. Both sides
        # are distinct sets, so |A| == |B| and A\B == ∅ imply A == B —
        # one count (on checkpointed data) + ONE exceptAll, not two.
        n_new = e2.count()
        changed = n_new != n_prev or not e2.exceptAll(e).isEmpty()
        e, n_prev = e2, n_new
        if not changed:
            break
    # n_prev is the count of the final (converged) edge set
    signals.emit("connected_components", rounds=rounds, edges_final=n_prev)
    # at convergence e is a star forest (child -> component min); roots
    # label themselves
    children = e.select(F.col("u").alias("entity"), F.col("v").alias("canonical_id"))
    roots = e.select(F.col("v").alias("entity"), F.col("v").alias("canonical_id")).distinct()
    return children.unionByName(roots).distinct()


def connected_components_resume(
    prior: DataFrame,
    delta_edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 50,
) -> DataFrame:
    """Incremental connected components for the crawl-delta path: fold
    NEW edges into a stored (entity, canonical_id) mapping without
    re-reading the historical edge set. The stored mapping IS a star
    forest, and star edges preserve the connectivity relation exactly —
    so CC over (star forest ∪ delta) equals CC over (all past edges ∪
    delta), at O(|mapping| + |delta|) instead of O(all edges ever seen).
    Canonical ids stay the component minimum (the global minimum rides
    the star forest), so untouched components keep their ids — the
    frozen-history property the incremental linking state relies on.
    """
    star = (
        prior.filter(F.col("entity") != F.col("canonical_id"))
        .select(F.col("entity").alias("u"), F.col("canonical_id").alias("v"))
    )
    d = delta_edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    return connected_components(star.unionByName(d), "u", "v", max_iter=max_iter)


def connected_components_propagation(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 25,
) -> DataFrame:
    """Min-label propagation: O(component diameter) rounds, the rounds
    being ``functions/fixpoint.py``'s :func:`semi_naive` in min mode.
    Kept only as the test reference for :func:`connected_components`;
    after ``max_iter`` rounds the labels are returned as they stand."""
    und = (
        edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
        .unionAll(edges.select(F.col(dst).alias("x"), F.col(src).alias("y")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    seed = und.select(F.col("x").alias("node")).distinct().withColumn("label", F.col("node"))

    def step(frontier: DataFrame, _labels: DataFrame) -> DataFrame:
        return (
            frontier.join(und, frontier.node == und.y)
            .groupBy(F.col("x").alias("node"))
            .agg(F.min("label").alias("label"))
        )

    labels = semi_naive(seed, step, ["node"], max_iter, minimize="label")[0]
    return labels.select(F.col("node").alias("entity"), F.col("label").alias("canonical_id"))


def link_entities(
    triples: DataFrame,
    cosine_threshold: float = 0.85,
    small_vocab_max: int = 1024,
) -> DataFrame:
    """Full S3: triples -> (entity, canonical_id) mapping.

    Entities with no near-duplicate keep themselves as canonical id (the
    mapping is total over the vocabulary).

    Cost-based blocking choice (the broadcast-threshold pattern): a
    vocabulary of at most ``small_vocab_max`` entities skips the MinHash
    sketch entirely — all pairs (<= ~0.5M at the default cap) go
    straight to the exact cosine, which SUPERSETS LSH recall and saves
    the signature UDF + banding jobs (~4s of fixed cost per run at
    bench scale). The guarded tiny cross join is sanctioned the same
    way as the scorer's one-row broadcast; beyond the cap the banded
    path keeps pair generation near-linear.
    """
    vocab = entity_vocab(triples).localCheckpoint(eager=True)
    head = vocab.limit(small_vocab_max + 1).collect()
    if len(head) <= small_vocab_max:
        # tiny vocabulary: the pair scoring still runs in Spark (same
        # expressions, same floats), but WITHOUT the intermediate
        # checkpoints — on <= ~1k entities each extra sequential job is
        # pure scheduling latency. Matches collect (bounded by the
        # capped pair count), the component labels come from the same
        # min-id union-find the connected_components fast path uses,
        # and the total mapping is assembled driver-side from the
        # already-collected vocabulary — no join, 3 jobs instead of ~8.
        a = vocab.select(F.col("entity").alias("a"))
        b = vocab.select(F.col("entity").alias("b"))
        pairs = a.crossJoin(b).filter(F.col("a") < F.col("b"))
        scored = tfidf_cosine_scores(vocab, pairs, materialize=False)
        match_rows = (
            scored.filter(F.col("cosine") >= cosine_threshold)
            .select("a", "b").collect()
        )
        ents = [r["entity"] for r in head]
        root = _min_roots(ents, match_rows)
        # broadcast hint: a driver-built frame scans as ExistingRDD with
        # unknown stats, which silently demotes the downstream
        # canonicalize joins to sort-merge; the mapping is provably
        # <= small_vocab_max rows, the sanctioned broadcast size
        return F.broadcast(triples.sparkSession.createDataFrame(
            [(e, root[e]) for e in ents],
            schema="entity string, canonical_id string",
        ))
    pairs = candidate_pairs(vocab)
    scored = tfidf_cosine_scores(vocab, pairs)
    matches = (
        scored.filter(F.col("cosine") >= cosine_threshold)
        .select("a", "b")
        .localCheckpoint(eager=True)
    )
    # clean-corpus fast path: no verified near-duplicates means identity
    # mapping — skip the CC round trips (each round is several driver jobs)
    if matches.isEmpty():
        return vocab.select("entity", F.col("entity").alias("canonical_id"))
    cc = connected_components(matches)
    return (
        vocab.join(cc, "entity", "left")
        .select(
            "entity",
            F.coalesce(F.col("canonical_id"), F.col("entity")).alias("canonical_id"),
        )
    )


def canonicalize_triples(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite triples onto canonical entity ids (provenance columns kept).

    Two equi-joins against the mapping. The mapping is the DISTINCT ENTITY
    VOCABULARY — at web scale (10^12 docs) that is billions of rows, so a
    forced ``F.broadcast`` would OOM the driver. Default: NO hint — AQE
    picks broadcast at runtime when the built side is actually small, and
    falls back to a shuffled hash join otherwise (both sides shuffle on the
    same entity key, so the two joins reuse one exchange of the mapping).
    """
    m_actor = mapping.select(
        F.col("entity").alias("_na"), F.col("canonical_id").alias("subj")
    )
    m_obj = mapping.select(
        F.col("entity").alias("_no"), F.col("canonical_id").alias("obj")
    )
    return (
        triples.withColumn("_na", normalize_entity(F.col("actor")))
        .withColumn("_no", normalize_entity(F.col("object")))
        .join(m_actor, "_na", "left")
        .join(m_obj, "_no", "left")
        .withColumn("subj", F.coalesce("subj", "_na"))
        .withColumn("obj", F.coalesce("obj", "_no"))
        .drop("_na", "_no")
    )


def canonical_edges(
    triples: DataFrame, mapping: DataFrame, docs: DataFrame
) -> DataFrame:
    """The canonical edge table of ``triples``: one row per (subj,
    predicate=verb, obj), ``weight`` = its triple count, and provenance
    props last-writer-wins by (warc_ts, url) from ``docs`` —
    deterministic under reshuffle. The batch S4 stage, the crawl-delta
    append and the streaming sink all build edges here."""
    canon = canonicalize_triples(triples, mapping).join(
        docs.select("url", "warc_ts"), "url"
    )
    return (
        canon.groupBy(
            F.col("subj"), F.col("verb").alias("predicate"), F.col("obj")
        )
        .agg(
            F.max(F.struct("warc_ts", "url")).alias("_lw"),
            F.count(F.lit(1)).alias("weight"),
        )
        .select(
            "subj", "predicate", "obj",
            F.col("_lw.warc_ts").alias("start_time"),
            F.col("_lw.url").alias("provenance_url"),
            "weight",
        )
    )


# ---------------------------------------------------------------------------
# Incremental entity linking (crawl-delta vs stored state)
# ---------------------------------------------------------------------------
# At 10^12 documents a recrawl delta must NOT re-link the whole corpus.
# The stored state is three tables + one scalar, all mergeable:
#   mapping    (entity, canonical_id)  — total over every entity seen;
#   band_index (entity, bk)           — the LSH blocking index (bucketed
#                                        on bk in production, like the
#                                        dedup minhash_index);
#   shingle_df (sh, _df)              — corpus-wide document frequencies
#                                        so delta cosine scoring uses the
#                                        SAME idf space as a full run;
#   n_entities                         — seen-vocabulary size.
# A delta signs ONLY its unseen entities, probes the stored index for
# new-vs-corpus candidates, self-blocks for new-vs-new, scores both with
# the stored df stats, and extends the mapping. FROZEN-HISTORY semantics:
# existing canonical assignments never change — a new entity bridging two
# old clusters joins the smaller canonical id but does NOT retro-merge
# them (production runs a periodic full re-link for that; same contract
# as the reference's per-event MERGE which also never rewrites history).

from dataclasses import dataclass as _dataclass


@_dataclass
class LinkState:
    """Persistent incremental-linking state (see module comment above).

    The ``delta_*`` fields are set by :func:`incremental_link_entities` on
    the RETURNED state only: the per-delta appendables an O(delta) sink
    persists instead of rewriting the totals — ``delta_mapping`` /
    ``delta_bands`` are the new entities' rows (mapping and band index
    are append-only under frozen history), ``delta_df`` the df-count
    INCREMENTS (totals = sum of increments per shingle)."""

    mapping: DataFrame
    band_index: DataFrame
    shingle_df: DataFrame
    n_entities: int
    delta_mapping: DataFrame | None = None
    delta_bands: DataFrame | None = None
    delta_df: DataFrame | None = None


def empty_link_state(spark) -> LinkState:
    return LinkState(
        mapping=spark.createDataFrame([], "entity string, canonical_id string"),
        band_index=spark.createDataFrame([], "entity string, bk string"),
        shingle_df=spark.createDataFrame([], "sh string, _df double"),
        n_entities=0,
    )


def incremental_link_entities(
    delta_triples: DataFrame,
    state: LinkState,
    cosine_threshold: float = 0.85,
    k: int = 3,
    max_bucket: int = 8,
) -> tuple[DataFrame, LinkState]:
    """Fold one crawl delta into the linking state.

    Returns ``(mapping_total, new_state)`` where ``mapping_total`` covers
    every entity seen so far (old rows byte-identical — frozen history).
    Cost is O(delta): the corpus is never re-signed, never re-scored; the
    only corpus-side work is the band-index probe join (storage-
    partitioned on bk in production) and the df-stat union."""
    spark = delta_triples.sparkSession
    delta_vocab = entity_vocab(delta_triples).localCheckpoint(eager=True)
    new = delta_vocab.join(
        state.mapping.select("entity"), "entity", "left_anti"
    ).localCheckpoint(eager=True)

    # updated df statistics (union + sum — algebraic, mergeable)
    new_term = new.select(
        "entity", F.explode(char_shingles(F.col("entity"), k)).alias("sh")
    )
    new_df = new_term.groupBy("sh").agg(
        F.count(F.lit(1)).cast("double").alias("_df")
    )
    df_total = (
        state.shingle_df.unionByName(new_df)
        .groupBy("sh")
        .agg(F.sum("_df").alias("_df"))
        .localCheckpoint(eager=True)
    )
    n_total = state.n_entities + new.count()
    nrow = spark.createDataFrame([(float(n_total),)], "_n double")

    # blocking: new-vs-new (guarded self-block) + new-vs-corpus (probe the
    # stored index; oversized corpus buckets are capped to the bucket-min
    # representative, mirroring candidate_pairs' hot-bucket guard)
    new_bands = entity_band_index(new, k=k).localCheckpoint(eager=True)
    # reuse the checkpointed bands: the delta is signed exactly ONCE
    pairs_nn = candidate_pairs(new, k=k, max_bucket=max_bucket, banded=new_bands)
    old_sizes = state.band_index.groupBy("bk").agg(
        F.count(F.lit(1)).alias("_n")
    )
    old_small = state.band_index.join(
        old_sizes.filter(F.col("_n") <= max_bucket).select("bk"), "bk"
    )
    old_hubs = (
        state.band_index.join(
            old_sizes.filter(F.col("_n") > max_bucket).select("bk"), "bk"
        )
        .groupBy("bk")
        .agg(F.min("entity").alias("entity"))
    )
    old_side = old_small.unionByName(old_hubs.select("entity", "bk"))
    pairs_no = (
        new_bands.withColumnRenamed("entity", "n_ent")
        .join(old_side.withColumnRenamed("entity", "o_ent"), "bk")
        .select(
            F.least("n_ent", "o_ent").alias("a"),
            F.greatest("n_ent", "o_ent").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
    )
    pairs = pairs_nn.unionByName(pairs_no).distinct().localCheckpoint(eager=True)

    # score with the GLOBAL df space; endpoints = new ∪ touched old
    endpoints = (
        pairs.select(F.col("a").alias("entity"))
        .unionAll(pairs.select(F.col("b").alias("entity")))
        .distinct()
    )
    scored = _cosine_with_df(endpoints, pairs, df_total, nrow, k)
    matches = (
        scored.filter(F.col("cosine") >= cosine_threshold)
        .select("a", "b")
        .localCheckpoint(eager=True)
    )

    if matches.isEmpty():
        new_mapping = new.select(
            "entity", F.col("entity").alias("canonical_id")
        )
    else:
        # rewrite OLD endpoints onto their frozen canonicals, then CC over
        # the delta's match graph; old canonicals act as anchor labels
        m = state.mapping
        ca = m.select(
            F.col("entity").alias("a"), F.col("canonical_id").alias("_ca")
        )
        cb = m.select(
            F.col("entity").alias("b"), F.col("canonical_id").alias("_cb")
        )
        edges = (
            matches.join(ca, "a", "left")
            .join(cb, "b", "left")
            .select(
                F.coalesce("_ca", F.col("a")).alias("a"),
                F.coalesce("_cb", F.col("b")).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
        )
        cc = connected_components(edges)
        # frozen history: a component containing an EXISTING canonical is
        # labeled by the minimum such anchor, never by a lexicographically
        # smaller NEW entity — otherwise the old cluster and its new
        # member would end up under different canonicals
        anchors = state.mapping.select(
            F.col("canonical_id").alias("entity")
        ).distinct()
        anchor_min = (
            cc.join(anchors, "entity")
            .groupBy("canonical_id")
            .agg(F.min("entity").alias("_anchor"))
        )
        cc_resolved = cc.join(anchor_min, "canonical_id", "left").select(
            "entity",
            F.coalesce("_anchor", F.col("canonical_id")).alias("canonical_id"),
        )
        new_mapping = (
            new.join(cc_resolved, "entity", "left")
            .select(
                "entity",
                F.coalesce(F.col("canonical_id"), F.col("entity")).alias(
                    "canonical_id"
                ),
            )
        )

    new_mapping = new_mapping.localCheckpoint(eager=True)
    mapping_total = state.mapping.unionByName(new_mapping).localCheckpoint(
        eager=True
    )
    new_state = LinkState(
        mapping=mapping_total,
        band_index=state.band_index.unionByName(new_bands).localCheckpoint(
            eager=True
        ),
        shingle_df=df_total,
        n_entities=n_total,
        delta_mapping=new_mapping,
        delta_bands=new_bands,
        delta_df=new_df.localCheckpoint(eager=True),
    )
    return mapping_total, new_state


def predicate_clusters(
    triples: DataFrame,
    pred_col: str = "verb",
    obj_col: str = "object",
    min_jaccard_pct: int = 20,
) -> DataFrame:
    """Distributional predicate canonicalization: cluster predicates whose
    *object sets* overlap (Jaccard >= ``min_jaccard_pct``/100) and map each
    to its cluster minimum — the relation-synonym step of KG construction
    (OpenIE verbs like ``http_request``/``fetch`` that hit the same
    object vocabulary collapse to one canonical relation), the predicate
    counterpart of the entity canonicalization above.

    Mechanics: distinct (predicate, object) signatures; pair overlap via a
    self-join on the object (inverted-index style — never all predicate
    pairs, only pairs sharing >= 1 object); the Jaccard gate in EXACT
    integer arithmetic (``100*|A∩B| >= pct*|A∪B|``, bit-identical across
    engines); similar-pair edges closed into clusters with the large-star/
    small-star :func:`connected_components`; singletons map to themselves.

    Scale: the object self-join is the only superlinear step and its key
    is the object — a hot object (stopword-ish argument) fans out
    |preds-with-that-object|^2, which is bounded by the predicate
    vocabulary, not the corpus. Signature dedup and the intersection
    count are algebraic aggs with map-side combine.
    """
    # sig feeds THREE consumers (sz and both legs of the object
    # self-join); without a boundary each consumer re-runs the distinct
    # — and the whole upstream triple derivation — from scratch. One
    # lazy materialization of the deduped signature serves them all.
    sig = triples.select(
        F.col(pred_col).alias("p"), F.col(obj_col).alias("o")
    ).distinct().localCheckpoint(eager=False)
    sz = sig.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("n_objects"))
    inter = (
        sig.select(F.col("p").alias("p1"), "o")
        .join(sig.select(F.col("p").alias("p2"), "o"), "o")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("long").alias("_i"))
    )
    sim = (
        inter.join(sz.select(F.col("p").alias("p1"), F.col("n_objects").alias("_s1")), "p1")
        .join(sz.select(F.col("p").alias("p2"), F.col("n_objects").alias("_s2")), "p2")
        .filter(
            100 * F.col("_i")
            >= min_jaccard_pct * (F.col("_s1") + F.col("_s2") - F.col("_i"))
        )
        .select("p1", "p2")
    )
    cc = connected_components(sim, "p1", "p2")
    return (
        sz.join(cc, sz["p"] == cc["entity"], "left")
        .select(
            F.col("p").alias("predicate"),
            F.coalesce("canonical_id", F.col("p")).alias("canonical"),
            "n_objects",
        )
    )


def canonicalize_predicates(
    edges: DataFrame, mapping: DataFrame, pred_col: str = "predicate"
) -> DataFrame:
    """Apply a predicate-cluster mapping to an edge table (broadcast join —
    the mapping is bounded by the predicate vocabulary; the edge table
    never shuffles). Unmapped predicates pass through unchanged."""
    m = F.broadcast(
        mapping.select(
            F.col("predicate").alias("_pc_p"), F.col("canonical").alias("_pc_c")
        )
    )
    return (
        edges.join(m, edges[pred_col] == F.col("_pc_p"), "left")
        .withColumn(pred_col, F.coalesce("_pc_c", F.col(pred_col)))
        .drop("_pc_p", "_pc_c")
    )
