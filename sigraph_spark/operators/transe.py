"""Distributed KG-embedding training: TransE with exact integer SGD.

Bordes et al. 2013: score(s, p, o) = ||h_s + r_p - t_o||_1 — facts are
translations in embedding space. This is the learned counterpart to the
structural link prediction in ``graphalgo.link_prediction`` and the
model KG-completion pipelines train over the edge tables this repo
builds; the full-batch variant here is to embeddings what
``operators/classifier.py`` is to classification: distributed ML whose
every arithmetic step is BIGINT-exact, so the result is
partition-order invariant, bit-identical across engines, and
hash-verifiable by an unrolled-CTE DuckDB oracle (the fixed-point
PageRank device applied to representation learning).

Deviations from the paper, all forced by exactness and all documented:

* **Full-batch deterministic subgradient descent**, not minibatch SGD —
  each round aggregates every violated fact's L1 subgradient per
  (entity, dim) with an integer sum (exactly associative).
* **No L2 entity renormalization** (it needs sqrt). With the small
  fixed learning rate and bounded rounds, magnitudes stay bounded;
  the embedding layout is pinned by tests (margin-violation count
  falls, true tails outrank corrupted ones).
* **Deterministic corruption**: each fact's negative tail per round is
  the entity at index md5(s|p|o|round) mod |E| in the lexicographic
  entity vocabulary (the banded two-stage rank of
  ``walks.negative_samples`` — no single-task global window). A draw
  colliding with the true tail makes the positive and negative
  subgradients cancel exactly (a no-op, not a bias), so no rejection
  step is needed — keeping the oracle branch-free.

Scale notes (10^12-triple KG): embeddings live in LONG format
(kind, id, k, v) — k < dim, v BIGINT fixed-point (SCALE micro-units).
Per round: four hash joins keyed on entity/relation ids (uniform keys;
the relation table is vocabulary-sized and broadcastable), one
per-fact distance agg, one per-(entity, dim) gradient agg — all
algebraic, so map-side combine absorbs hub entities; no step is
superlinear. ANSI-mode overflow headroom: |v| grows by at most
lr * violations_touching(id) per round — with lr = 2e4 micro-units an
entity would need ~10^14 violated facts PER ROUND to overflow BIGINT.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sigraph_spark import signals
from sigraph_spark.operators.dedup import hash32_md5_le

SCALE = 10**6


def _sign(c: Column) -> Column:
    """Integer sign as an explicit CASE (mirrored verbatim in SQL)."""
    return (
        F.when(c > 0, F.lit(1)).when(c < 0, F.lit(-1)).otherwise(F.lit(0))
    ).cast("long")


def _init_v(kind: str, id_col: Column, k_col: Column) -> Column:
    """Deterministic init in [-SCALE, SCALE]: portable md5 of
    kind|id|dim. Non-negative hash, so ``%`` agrees across engines."""
    h = hash32_md5_le(
        F.concat_ws("|", F.lit(kind), id_col, k_col.cast("string"))
    )
    return (h % F.lit(2 * SCALE + 1) - F.lit(SCALE)).cast("long")


def _banded_rank(ids: DataFrame, col: str) -> DataFrame:
    """Exact lexicographic dense rank without a global single-task
    window (the negative_samples device): per-band row_number + the
    broadcast running band base."""
    vocab = ids.withColumn("_b", F.substring(F.col(col), 1, 3))
    w_in = Window.partitionBy("_b").orderBy(col)
    local = vocab.withColumn("_local", F.row_number().over(w_in) - 1)
    w_band = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    bases = (
        vocab.groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn("_base", F.coalesce(F.sum("_cnt").over(w_band), F.lit(0)))
        .select("_b", "_base")
    )
    return local.join(F.broadcast(bases), "_b").select(
        col, (F.col("_local") + F.col("_base")).alias("rank")
    )


def transe_train(
    facts: DataFrame,
    dim: int = 8,
    rounds: int = 3,
    lr: int = 20_000,
    margin: int = SCALE,
    subj_col: str = "subj",
    pred_col: str = "predicate",
    obj_col: str = "obj",
    init_emb: DataFrame | None = None,
    round_offset: int = 0,
) -> DataFrame:
    """Train TransE over distinct (subj, predicate, obj) facts; returns
    the embedding table ``(kind, id, k, v)`` with kind 'e' (entities)
    or 'r' (relations), k in [0, dim), v in SCALE micro-units.

    ``lr`` and ``margin`` are in micro-units (defaults: 0.02 and 1.0).
    The signal's ``violations`` are the per-round violated-fact counts
    (the training curve) — one extra count action per round.

    **Warm start** (the continuous-crawl path): pass the STORED
    embedding table as ``init_emb`` and the number of rounds it was
    trained for as ``round_offset`` — ids present in it resume from
    their stored vectors, ids new to the graph (the delta's entities)
    get the deterministic md5 init, and negative draws continue the
    round sequence at ``round_offset + 1``. On an UNCHANGED fact set,
    resume(k more rounds) is BIT-IDENTICAL to the longer cold run
    (test-pinned, the :func:`pagerank_resume` contract) — so embeddings
    are incremental state, not a per-snapshot recompute.
    """
    f = facts.select(
        F.col(subj_col).alias("s"),
        F.col(pred_col).alias("p"),
        F.col(obj_col).alias("o"),
    ).distinct().localCheckpoint(eager=False)
    ents = (
        f.select(F.col("s").alias("id"))
        .unionByName(f.select(F.col("o").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    rels = f.select(F.col("p").alias("id")).distinct()
    ranked = _banded_rank(ents, "id").withColumnRenamed("id", "_neg_id")
    n_ent = ents.count()
    ks = F.explode(F.sequence(F.lit(0), F.lit(dim - 1))).alias("k")
    ent = ents.select("id", ks).select(
        "id", "k", _init_v("e", F.col("id"), F.col("k")).alias("v")
    )
    rel = rels.select("id", ks).select(
        "id", "k", _init_v("r", F.col("id"), F.col("k")).alias("v")
    )
    if init_emb is not None:
        prior_e = init_emb.filter(F.col("kind") == "e").select(
            "id", "k", F.col("v").alias("_pv")
        )
        prior_r = init_emb.filter(F.col("kind") == "r").select(
            "id", "k", F.col("v").alias("_pv")
        )
        ent = ent.join(prior_e, ["id", "k"], "left").select(
            "id", "k", F.coalesce("_pv", "v").alias("v")
        )
        rel = rel.join(prior_r, ["id", "k"], "left").select(
            "id", "k", F.coalesce("_pv", "v").alias("v")
        )
    violations: list[int] = []
    for rnd in range(round_offset + 1, round_offset + rounds + 1):
        neg_rank = hash32_md5_le(
            F.concat_ws("|", F.col("s"), F.col("p"), F.col("o"),
                        F.lit(str(rnd)))
        ) % F.lit(n_ent)
        fr = f.withColumn("rank", neg_rank).join(ranked, "rank").select(
            "s", "p", "o", F.col("_neg_id").alias("neg")
        )
        j = (
            fr.join(
                ent.select(F.col("id").alias("s"), "k", F.col("v").alias("hs")),
                "s",
            )
            .join(
                rel.select(F.col("id").alias("p"), "k", F.col("v").alias("vr")),
                ["p", "k"],
            )
            .join(
                ent.select(F.col("id").alias("o"), "k", F.col("v").alias("vt")),
                ["o", "k"],
            )
            .join(
                ent.select(F.col("id").alias("neg"), "k", F.col("v").alias("vn")),
                ["neg", "k"],
            )
            .select(
                "s", "p", "o", "neg", "k",
                (F.col("hs") + F.col("vr") - F.col("vt")).alias("dp"),
                (F.col("hs") + F.col("vr") - F.col("vn")).alias("dn"),
            )
        )
        # per-fact L1 distances as SUM OVER the fact's k-rows computed
        # in place (one window keyed by the fact) instead of a groupBy
        # plus a re-join of the k-rows against the violation set — the
        # same exact BIGINT sums, one shuffle fewer per round, and j
        # becomes single-consumer so its checkpoint is gone too
        wv = Window.partitionBy("s", "p", "o", "neg")
        g = (
            j.withColumn("_Dp", F.sum(F.abs(F.col("dp"))).over(wv))
            .withColumn("_Dn", F.sum(F.abs(F.col("dn"))).over(wv))
            .filter(F.col("_Dp") + F.lit(margin) - F.col("_Dn") > 0)
            .select(
                "s", "p", "o", "neg", "k",
                _sign(F.col("dp")).alias("gp"),
                _sign(F.col("dn")).alias("gn"),
            )
            .localCheckpoint(eager=False)
        )
        if signals.active():
            violations.append(
                g.select("s", "p", "o", "neg").distinct().count()
            )
        ent_upd = (
            g.select(F.col("s").alias("id"), "k",
                     (F.lit(-lr) * (F.col("gp") - F.col("gn"))).alias("d"))
            .unionByName(g.select(F.col("o").alias("id"), "k",
                                  (F.lit(lr) * F.col("gp")).alias("d")))
            .unionByName(g.select(F.col("neg").alias("id"), "k",
                                  (F.lit(-lr) * F.col("gn")).alias("d")))
            .groupBy("id", "k")
            .agg(F.sum("d").alias("d"))
        )
        rel_upd = (
            g.select(F.col("p").alias("id"), "k",
                     (F.lit(-lr) * (F.col("gp") - F.col("gn"))).alias("d"))
            .groupBy("id", "k")
            .agg(F.sum("d").alias("d"))
        )
        ent = (
            ent.join(ent_upd, ["id", "k"], "left")
            .select("id", "k",
                    (F.col("v") + F.coalesce("d", F.lit(0))).alias("v"))
            .localCheckpoint(eager=False)
        )
        rel = (
            rel.join(rel_upd, ["id", "k"], "left")
            .select("id", "k",
                    (F.col("v") + F.coalesce("d", F.lit(0))).alias("v"))
            .localCheckpoint(eager=False)
        )
    signals.emit("transe_train", violations=violations)
    return ent.select(F.lit("e").alias("kind"), "id", "k", "v").unionByName(
        rel.select(F.lit("r").alias("kind"), "id", "k", "v")
    )


def transe_score(
    emb: DataFrame,
    cands: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "predicate",
    obj_col: str = "obj",
) -> DataFrame:
    """L1 TransE distance for candidate triples (lower = more
    plausible): ``(subj, predicate, obj, dist_fp)``. Three hash joins
    + one per-candidate agg; candidates whose entities/relations were
    unseen in training drop out (inner joins — scoring an open-world
    id has no defined embedding)."""
    e = emb.filter(F.col("kind") == "e").select("id", "k", "v")
    r = emb.filter(F.col("kind") == "r").select("id", "k", "v")
    c = cands.select(
        F.col(subj_col).alias("s"),
        F.col(pred_col).alias("p"),
        F.col(obj_col).alias("o"),
    ).distinct()
    j = (
        c.join(e.select(F.col("id").alias("s"), "k", F.col("v").alias("hs")), "s")
        .join(r.select(F.col("id").alias("p"), "k", F.col("v").alias("vr")),
              ["p", "k"])
        .join(e.select(F.col("id").alias("o"), "k", F.col("v").alias("vt")),
              ["o", "k"])
    )
    return j.groupBy("s", "p", "o").agg(
        F.sum(F.abs(F.col("hs") + F.col("vr") - F.col("vt"))).alias("dist_fp")
    ).select(
        F.col("s").alias(subj_col),
        F.col("p").alias(pred_col),
        F.col("o").alias(obj_col),
        "dist_fp",
    )


def transe_oracle_sql(
    facts_rel: str,
    dim: int,
    rounds: int,
    lr: int = 20_000,
    margin: int = SCALE,
    prefix: str = "te_",
    init_rel: str | None = None,
    round_offset: int = 0,
    final_select: bool = True,
) -> str:
    """Unrolled-round DuckDB restatement of :func:`transe_train` over a
    relation (s, p, o): identical md5 init, identical lexicographic
    negative draw, identical integer subgradient arithmetic — the match
    is bit-exact. Rounds are MATERIALIZED (the classifier-oracle
    device) so DuckDB doesn't re-derive round t for every reference.

    ``prefix`` namespaces the CTEs so two instances compose into one
    WITH-list (the warm-start oracle chains a cold phase into a resumed
    phase); ``init_rel`` (kind, id, k, v) seeds round 0 — ids absent
    from it fall back to the md5 init, mirroring ``init_emb``;
    ``round_offset`` shifts the negative-draw round numbers; with
    ``final_select=False`` the block ends after the last embedding CTEs
    ``{prefix}e{rounds}`` / ``{prefix}r{rounds}`` so a caller keeps
    composing."""
    P = prefix
    init_e = f"""SELECT id, CAST(k AS INT) AS k,
                 CAST(md5_number_upper('e' || '|' || id || '|' || CAST(k AS VARCHAR))
                       & 4294967295 AS BIGINT) % {2 * SCALE + 1} - {SCALE} AS v
          FROM {P}ents CROSS JOIN {P}ks"""
    init_r = f"""SELECT id, CAST(k AS INT) AS k,
                 CAST(md5_number_upper('r' || '|' || id || '|' || CAST(k AS VARCHAR))
                       & 4294967295 AS BIGINT) % {2 * SCALE + 1} - {SCALE} AS v
          FROM {P}rels CROSS JOIN {P}ks"""
    if init_rel is not None:
        init_e = f"""SELECT d.id, d.k, CAST(coalesce(i.v, d.v) AS BIGINT) AS v
          FROM ({init_e}) d
          LEFT JOIN {init_rel} i ON i.kind = 'e' AND i.id = d.id AND i.k = d.k"""
        init_r = f"""SELECT d.id, d.k, CAST(coalesce(i.v, d.v) AS BIGINT) AS v
          FROM ({init_r}) d
          LEFT JOIN {init_rel} i ON i.kind = 'r' AND i.id = d.id AND i.k = d.k"""
    parts = [f"""{P}f AS MATERIALIZED (
          SELECT DISTINCT s, p, o FROM {facts_rel}),
        {P}ents AS MATERIALIZED (
          SELECT DISTINCT id FROM (
            SELECT s AS id FROM {P}f UNION ALL SELECT o FROM {P}f)),
        {P}rank AS MATERIALIZED (
          SELECT id AS neg_id, row_number() OVER (ORDER BY id) - 1 AS rank
          FROM {P}ents),
        {P}nent AS (SELECT count(*) AS n FROM {P}ents),
        {P}ks AS (SELECT unnest(range(0, {dim})) AS k),
        {P}rels AS (SELECT DISTINCT p AS id FROM {P}f),
        {P}e0 AS MATERIALIZED ({init_e}),
        {P}r0 AS MATERIALIZED ({init_r})"""]
    for t in range(1, rounds + 1):
        prev_e, prev_r = f"{P}e{t - 1}", f"{P}r{t - 1}"
        draw = round_offset + t
        parts.append(f"""{P}fr{t} AS MATERIALIZED (
          SELECT f.s, f.p, f.o, rk.neg_id AS neg
          FROM {P}f f CROSS JOIN {P}nent
          JOIN {P}rank rk ON rk.rank =
            CAST(md5_number_upper(f.s || '|' || f.p || '|' || f.o || '|' || '{draw}')
                 & 4294967295 AS BIGINT) % {P}nent.n),
        {P}j{t} AS MATERIALIZED (
          SELECT fr.s, fr.p, fr.o, fr.neg, es.k,
                 es.v + rp.v - et.v AS dp,
                 es.v + rp.v - en.v AS dn
          FROM {P}fr{t} fr
          JOIN {prev_e} es ON es.id = fr.s
          JOIN {prev_r} rp ON rp.id = fr.p AND rp.k = es.k
          JOIN {prev_e} et ON et.id = fr.o AND et.k = es.k
          JOIN {prev_e} en ON en.id = fr.neg AND en.k = es.k),
        {P}v{t} AS MATERIALIZED (
          SELECT s, p, o, neg FROM (
            SELECT s, p, o, neg, sum(abs(dp)) AS Dp, sum(abs(dn)) AS Dn
            FROM {P}j{t} GROUP BY s, p, o, neg)
          WHERE Dp + {margin} - Dn > 0),
        {P}g{t} AS MATERIALIZED (
          SELECT j.s, j.p, j.o, j.neg, j.k,
                 CASE WHEN j.dp > 0 THEN 1 WHEN j.dp < 0 THEN -1 ELSE 0 END AS gp,
                 CASE WHEN j.dn > 0 THEN 1 WHEN j.dn < 0 THEN -1 ELSE 0 END AS gn
          FROM {P}j{t} j JOIN {P}v{t} v
            ON j.s = v.s AND j.p = v.p AND j.o = v.o AND j.neg = v.neg),
        {P}eu{t} AS MATERIALIZED (
          SELECT id, k, sum(d) AS d FROM (
            SELECT s AS id, k, CAST(-{lr} * (gp - gn) AS BIGINT) AS d FROM {P}g{t}
            UNION ALL
            SELECT o, k, CAST({lr} * gp AS BIGINT) FROM {P}g{t}
            UNION ALL
            SELECT neg, k, CAST(-{lr} * gn AS BIGINT) FROM {P}g{t})
          GROUP BY id, k),
        {P}e{t} AS MATERIALIZED (
          SELECT e.id, e.k, CAST(e.v + coalesce(u.d, 0) AS BIGINT) AS v
          FROM {prev_e} e LEFT JOIN {P}eu{t} u ON e.id = u.id AND e.k = u.k),
        {P}ru{t} AS MATERIALIZED (
          SELECT p AS id, k, sum(CAST(-{lr} * (gp - gn) AS BIGINT)) AS d
          FROM {P}g{t} GROUP BY p, k),
        {P}r{t} AS MATERIALIZED (
          SELECT r.id, r.k, CAST(r.v + coalesce(u.d, 0) AS BIGINT) AS v
          FROM {prev_r} r LEFT JOIN {P}ru{t} u ON r.id = u.id AND r.k = u.k)""")
    sql = ",\n".join(parts)
    if final_select:
        sql += f"""
        SELECT 'e' AS kind, id, k, v FROM {P}e{rounds}
        UNION ALL
        SELECT 'r' AS kind, id, k, v FROM {P}r{rounds}"""
    return sql


def _floor_div(c: Column, w: int) -> Column:
    """Exact floor division of a BIGINT column by a positive int — the
    numerator is made divisible first, and the division runs in DECIMAL
    so values beyond 2^53 can't lose precision in a double."""
    num = (c - F.pmod(c, F.lit(w))).cast("decimal(38,0)")
    return (num / F.lit(w)).cast("long")


def transe_rank_tails(
    emb: DataFrame,
    queries: DataFrame,
    filter_facts: DataFrame | None = None,
    subj_col: str = "subj",
    pred_col: str = "predicate",
    obj_col: str = "obj",
    band_dim: int | None = 0,
    band_buckets: int = 64,
) -> DataFrame:
    """KG-completion evaluation (the Bordes et al. protocol): for each
    query fact, rank its TRUE tail among all trained entities by TransE
    distance — ``(subj, predicate, obj, rank)``, rank 1 = best.
    ``filter_facts`` enables the standard FILTERED setting: candidate
    tails that form a known true fact (other than the query itself) are
    excluded, so a model isn't penalized for ranking another correct
    answer above the probe.

    Deterministic: distances are exact BIGINT; ties break by candidate
    id, so rank = 1 + #candidates strictly closer + #equal-and-smaller.

    **Candidate blocking** (``band_dim``, default on): the naive eval
    cross-joins |queries| x |entities| — at a 10^8-entity vocabulary
    that relation explodes. But the rank only needs candidates that
    could TIE OR BEAT the true tail, and L1 distance gives an exact
    one-coordinate prune: ``d(cand) <= d_true`` implies
    ``|u[k0] - t_cand[k0]| <= d_true`` for ANY single coordinate k0
    (u = h_s + v_r, the translated query point). So the eval first
    computes each query's exact ``d_true`` (one |queries| x dim join),
    then joins only entities whose ``band_dim`` coordinate falls in
    ``[u0 - d_true, u0 + d_true]`` — a bucketed equi-join (bucket width
    sized so the widest query spans ~2 x ``band_buckets`` buckets;
    every in-radius candidate is in-band, so the count of closer /
    tied-and-smaller candidates — and hence the rank — is EXACT; rank
    parity with the exhaustive path is test-pinned). A trained model
    puts d_true far below the embedding spread, so the band prunes
    most of the vocabulary; an untrained one degrades gracefully
    toward the exhaustive join. ``band_dim=None`` keeps the exhaustive
    cross join (the reference path). Keep the query set eval-sized,
    this is not the bulk-inference path (:func:`transe_score` is).
    """
    e = emb.filter(F.col("kind") == "e").select("id", "k", "v")
    r = emb.filter(F.col("kind") == "r").select("id", "k", "v")
    q = queries.select(
        F.col(subj_col).alias("s"),
        F.col(pred_col).alias("p"),
        F.col(obj_col).alias("o"),
    ).distinct()
    ents = e.select(F.col("id").alias("cand")).distinct()
    if band_dim is None:
        cands = q.crossJoin(ents)
    else:
        u = (
            q.join(
                e.select(F.col("id").alias("s"), "k", F.col("v").alias("hs")),
                "s",
            )
            .join(
                r.select(F.col("id").alias("p"), "k", F.col("v").alias("vr")),
                ["p", "k"],
            )
            .select(
                "s", "p", "o", "k", (F.col("hs") + F.col("vr")).alias("u")
            )
        )
        d_true = (
            u.join(
                e.select(F.col("id").alias("o"), "k", F.col("v").alias("vt")),
                ["o", "k"],
            )
            .groupBy("s", "p", "o")
            .agg(F.sum(F.abs(F.col("u") - F.col("vt"))).alias("d_true"))
        )
        qb = u.filter(F.col("k") == band_dim).select(
            "s", "p", "o", F.col("u").alias("u0")
        ).join(d_true, ["s", "p", "o"])
        row = qb.agg(F.max("d_true").alias("m")).collect()[0]
        w = int(row["m"] or 0) // max(1, band_buckets) + 1
        ent0 = e.filter(F.col("k") == band_dim).select(
            F.col("id").alias("cand"), _floor_div(F.col("v"), w).alias("b")
        )
        ranges = qb.select(
            "s", "p", "o",
            F.explode(
                F.sequence(
                    _floor_div(F.col("u0") - F.col("d_true"), w),
                    _floor_div(F.col("u0") + F.col("d_true"), w),
                )
            ).alias("b"),
        )
        cands = ranges.join(ent0, "b").select("s", "p", "o", "cand")
    if filter_facts is not None:
        ff = filter_facts.select(
            F.col(subj_col).alias("s"),
            F.col(pred_col).alias("p"),
            F.col(obj_col).alias("cand"),
        ).distinct()
        known = cands.join(ff, ["s", "p", "cand"], "left_semi").filter(
            F.col("cand") != F.col("o")
        )
        cands = cands.exceptAll(known)
    dists = (
        cands.join(
            e.select(F.col("id").alias("s"), "k", F.col("v").alias("hs")), "s"
        )
        .join(r.select(F.col("id").alias("p"), "k", F.col("v").alias("vr")),
              ["p", "k"])
        .join(
            e.select(F.col("id").alias("cand"), "k", F.col("v").alias("vt")),
            ["cand", "k"],
        )
        .groupBy("s", "p", "o", "cand")
        .agg(F.sum(F.abs(F.col("hs") + F.col("vr") - F.col("vt"))).alias("d"))
    )
    true_d = dists.filter(F.col("cand") == F.col("o")).select(
        "s", "p", "o", F.col("d").alias("d_true")
    )
    return (
        dists.join(true_d, ["s", "p", "o"])
        .groupBy("s", "p", "o")
        .agg(
            (
                F.lit(1)
                + F.sum(
                    F.when(
                        (F.col("d") < F.col("d_true"))
                        | (
                            (F.col("d") == F.col("d_true"))
                            & (F.col("cand") < F.col("o"))
                        ),
                        1,
                    ).otherwise(0)
                )
            ).cast("long").alias("rank")
        )
        .select(
            F.col("s").alias(subj_col),
            F.col("p").alias(pred_col),
            F.col("o").alias(obj_col),
            "rank",
        )
    )


def transe_eval_summary(ranks: DataFrame, k: int = 10) -> DataFrame:
    """One-row MRR / Hits@1 / Hits@k panel over a rank table. MRR is
    the only float (sum of 1/rank, rounded 6dp); hit counts are exact."""
    return ranks.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(F.avg(F.lit(1.0) / F.col("rank")), 6).alias("mrr"),
        F.sum(F.when(F.col("rank") == 1, 1).otherwise(0))
        .cast("long")
        .alias("hits1"),
        F.sum(F.when(F.col("rank") <= k, 1).otherwise(0))
        .cast("long")
        .alias(f"hits{k}"),
    )
