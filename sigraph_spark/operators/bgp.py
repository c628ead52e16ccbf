"""SPARQL-style basic graph pattern (BGP) matching over the KG edge table.

The reference answers fixed multi-hop provenance questions with one
hand-written Cypher statement per endpoint (``MATCH (a)-[:LAUNCH]->(b)...``
shapes in src/db/query/*.py, surfaced by app/backend routes). This operator
generalizes that family: any conjunctive triple pattern over the
``(src, predicate, dst)`` table compiles to a DataFrame, so a single
operator covers the ad-hoc KG query surface instead of one endpoint per
shape.

Pattern language: each pattern is a ``(subject, predicate, object)`` triple
of terms; a term starting with ``?`` is a variable, anything else is a
constant. The result has one column per variable (name without the ``?``).
``optional`` patterns attach with left-join (SPARQL OPTIONAL) semantics;
``where`` adds post-filters (SQL strings or Columns) over variable columns.

100 TB design: each triple pattern is a *filtered scan* of the edge table —
constant terms become pushed-down parquet/Iceberg predicates, so a
constant-predicate pattern partition-prunes on the predicate/bucket layout
(plans/iceberg_sql.py) and never reads the rest of the table. Patterns then
hash-join on their shared variable columns. Join order is chosen greedily:
start at the most-bound pattern (most constants), then repeatedly attach
the pattern sharing the most already-bound variables — a disconnected BGP
(no shared variable) is the only case that degrades to a Cartesian product,
and that is inherent to the query, not the plan. The greedy order is just
the *initial* tree; AQE re-plans joins with runtime statistics and handles
skewed variable bindings (a hub entity bound to ``?x``) with skew-join
splitting.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sigraph_spark.functions.fixpoint import semi_naive

Pattern = tuple[str, str, str]

_POSITIONS = ("src", "predicate", "dst")


def _is_var(term: str) -> bool:
    return isinstance(term, str) and term.startswith("?")


def _compile_pattern(edges: DataFrame, pattern: Pattern) -> tuple[DataFrame, set[str]]:
    """One triple pattern -> (DataFrame with variable-named columns, vars).

    Constants become filters on the scan (pushed down by Catalyst); a
    variable repeated inside one pattern (e.g. ``(?x, LOOP, ?x)``) becomes
    an intra-pattern equality filter. A 4-term pattern is a QUAD — the
    fourth position matches the ``g`` (named graph) column; the shared
    graph variable then equates graphs across a GRAPH block's triples
    through the ordinary natural-join machinery.
    """
    positions = _POSITIONS if len(pattern) == 3 else _POSITIONS + ("g",)
    df = edges.select(*positions)
    bound: dict[str, str] = {}
    out_cols: list[Column] = []
    for col, term in zip(positions, pattern):
        if _is_var(term):
            name = term[1:]
            if not name:
                raise ValueError(f"empty variable name in pattern {pattern!r}")
            if name in bound:
                df = df.filter(F.col(col) == F.col(bound[name]))
            else:
                bound[name] = col
                out_cols.append(F.col(col).alias(name))
        else:
            df = df.filter(F.col(col) == F.lit(term))
    if not out_cols:
        # fully-constant pattern: existence test; keep a marker column so
        # the join below degenerates to a semi-ish cross with 0/1 rows.
        return df.select(F.lit(1).alias("_const")).limit(1), set()
    return df.select(*out_cols), set(bound)


def _order_patterns(patterns: Sequence[Pattern]) -> list[int]:
    """Greedy bound-ness order: most constants first, then max shared
    variables with the already-chosen set (ties: more constants, then
    original index — fully deterministic)."""

    def n_const(p: Pattern) -> int:
        return sum(0 if _is_var(t) else 1 for t in p)

    def pvars(p: Pattern) -> set[str]:
        return {t[1:] for t in p if _is_var(t)}

    remaining = list(range(len(patterns)))
    order: list[int] = []
    bound: set[str] = set()
    while remaining:
        if not order:
            pick = max(remaining, key=lambda i: (n_const(patterns[i]), -i))
        else:
            pick = max(
                remaining,
                key=lambda i: (
                    len(pvars(patterns[i]) & bound),
                    n_const(patterns[i]),
                    -i,
                ),
            )
        order.append(pick)
        bound |= pvars(patterns[pick])
        remaining.remove(pick)
    return order


def match_bgp(
    edges: DataFrame,
    patterns: Sequence[Pattern],
    *,
    optional: Sequence[Pattern] = (),
    where: Sequence[Column | str] = (),
    distinct: bool = False,
) -> DataFrame:
    """Match a conjunctive triple pattern against an edge table.

    ``edges`` needs columns ``src, predicate, dst`` (extra columns are
    pruned). Returns one column per distinct variable across ``patterns``
    and ``optional``; optional-only variables are NULL where the optional
    pattern found no match (SPARQL OPTIONAL).
    """
    if not patterns:
        raise ValueError("match_bgp needs at least one required pattern")
    compiled = [_compile_pattern(edges, p) for p in patterns]
    order = _order_patterns(patterns)

    out, bound = compiled[order[0]]
    for idx in order[1:]:
        df, pv = compiled[idx]
        shared = sorted(bound & pv)
        if shared:
            out = out.join(df, on=shared, how="inner")
        elif not pv:
            # constant-only existence pattern: empty scan -> empty result
            out = out.crossJoin(df).drop("_const")
        else:
            # disconnected BGP component — inherent Cartesian product
            out = out.crossJoin(df)
        bound |= pv

    for pat in optional:
        df, pv = _compile_pattern(edges, pat)
        shared = sorted(bound & pv)
        if not shared:
            raise ValueError(
                f"optional pattern {pat!r} shares no variable with the "
                "required patterns — unbounded OPTIONAL is not supported"
            )
        # SPARQL OPTIONAL keeps at most the matching bindings; collapse
        # duplicate optional rows only for exact duplicates (left join
        # multiplies rows per match, which is OPTIONAL semantics too).
        out = out.join(df, on=shared, how="left")
        bound |= pv

    for cond in where:
        out = out.filter(F.expr(cond) if isinstance(cond, str) else cond)
    return out.distinct() if distinct else out


# --- SPARQL property paths -------------------------------------------------
#
# Grammar (SPARQL 1.1 §9):   alt  := seq ('|' seq)*
#                            seq  := post ('/' post)*
#                            post := atom ('+' | '*' | '?')*
#                            atom := '^' atom | '!' npset | '(' alt ')'
#                                  | PREDICATE
#                            npset := PREDICATE | '(' PREDICATE ('|' PREDICATE)* ')'
#
# Every expression evaluates to a DISTINCT (a, b) pair relation, composed
# bottom-up: predicates are filtered scans (constant pushed down),
# sequence is a hash join on the middle node, alternation a distinct
# union, inverse a column swap, and +/* the bounded-depth transitive
# closure (iterative frontier join with anti-join novelty — the
# related_traces device; each round's work is O(frontier x out-edges),
# never the full closure re-derived). Zero-length paths (* and ?) bind
# every node OF THE EDGE TABLE, per SPARQL's graph-term semantics.


class _PathParser:
    def __init__(self, s: str):
        self.s = s
        self.i = 0

    def _peek(self) -> str:
        while self.i < len(self.s) and self.s[self.i].isspace():
            self.i += 1
        return self.s[self.i] if self.i < len(self.s) else ""

    def parse(self):
        node = self._alt()
        if self._peek():
            raise ValueError(f"trailing input at {self.i}: {self.s[self.i:]!r}")
        return node

    def _alt(self):
        parts = [self._seq()]
        while self._peek() == "|":
            self.i += 1
            parts.append(self._seq())
        return parts[0] if len(parts) == 1 else ("alt", parts)

    def _seq(self):
        parts = [self._post()]
        while self._peek() == "/":
            self.i += 1
            parts.append(self._post())
        return parts[0] if len(parts) == 1 else ("seq", parts)

    def _post(self):
        node = self._atom()
        while self._peek() and self._peek() in "+*?":
            node = ({"+": "plus", "*": "star", "?": "opt"}[self._peek()], node)
            self.i += 1
        return node

    def _atom(self):
        c = self._peek()
        if c == "^":
            self.i += 1
            return ("inv", self._atom())
        if c == "!":
            # negated property set (SPARQL 1.1 §9.1): !pred or
            # !(p1|p2|...) — forward predicates only (the ^-inside-!
            # form is pinned out; wrap with outer ^ for inverses)
            self.i += 1
            names: list[str] = []
            if self._peek() == "(":
                self.i += 1
                while True:
                    names.append(self._name())
                    ch = self._peek()
                    if ch == "|":
                        self.i += 1
                        continue
                    if ch == ")":
                        self.i += 1
                        break
                    raise ValueError(
                        f"expected '|' or ')' in negated set at {self.i}"
                    )
            else:
                names.append(self._name())
            return ("nps", names)
        if c == "(":
            self.i += 1
            node = self._alt()
            if self._peek() != ")":
                raise ValueError(f"unbalanced '(' at {self.i}")
            self.i += 1
            return node
        return ("pred", self._name())

    def _name(self) -> str:
        self._peek()  # skip whitespace
        j = self.i
        while j < len(self.s) and (self.s[j].isalnum() or self.s[j] in "_-."):
            j += 1
        if j == self.i:
            raise ValueError(f"expected predicate at {self.i} in {self.s!r}")
        name, self.i = self.s[self.i : j], j
        return name


def _no_constraint_propagation(spark):
    """Scoped off-switch for ``spark.sql.constraintPropagation.enabled``.

    Spark's LogicalRDD constraint rewrite (``localCheckpoint`` →
    ``rewriteStatsAndConstraints``) keys the attribute map on the FIRST
    union child's output, so a filter constraint that survives to a
    union output on the second child's attrs — e.g. the quad table's
    ``g IS NOT NULL`` from a GRAPH block — dies with
    ``NoSuchElementException: key not found``. Graph-scoped closures
    checkpoint exactly such unions; with propagation off the
    constraints set is empty and the rewrite is a no-op. Restored on
    exit; the LogicalRDDs created meanwhile simply carry no constraints."""
    from contextlib import contextmanager

    @contextmanager
    def _ctx():
        key = "spark.sql.constraintPropagation.enabled"
        try:
            old = spark.conf.get(key)
        except Exception:
            old = "true"
        spark.conf.set(key, "false")
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return _ctx()


def _path_closure(
    pairs: DataFrame, max_depth: int, graph: bool = False
) -> DataFrame:
    keys = (["g"] if graph else []) + ["a", "b"]
    # lazy: semi_naive's eager seed checkpoint materializes it too, and
    # every round's join then reads it instead of re-deriving pairs
    base = pairs.distinct().localCheckpoint(eager=False)
    cond = F.col("f.b") == F.col("p.a")
    if graph:
        # closure composes only WITHIN a named graph
        cond = cond & (F.col("f.g") == F.col("p.g"))
    sel = ([F.col("f.g").alias("g")] if graph else []) + [
        F.col("f.a").alias("a"), F.col("p.b").alias("b"),
    ]

    def step(frontier: DataFrame, _reach: DataFrame) -> DataFrame:
        return frontier.alias("f").join(base.alias("p"), cond).select(*sel).distinct()

    return semi_naive(base, step, keys, max_depth - 1)[0]


def eval_path(
    edges: DataFrame,
    path: str,
    max_depth: int = 20,
    graph_scoped: bool = False,
) -> DataFrame:
    """Evaluate a property-path expression to its DISTINCT ``(a, b)``
    endpoint-pair relation over an ``(src, predicate, dst)`` edge table.
    ``max_depth`` bounds +/* expansion (graph-diameter steps; SPARQL
    engines bound closure the same way in practice).

    ``graph_scoped`` evaluates over a QUAD table (extra ``g`` column):
    every sub-relation carries ``g`` and composition (sequence joins,
    closures, zero-length node sets) stays within one named graph — the
    ``GRAPH ?var { ... path ... }`` device, computed for ALL graphs in
    one plan rather than a per-graph driver loop."""
    gcols = ["g"] if graph_scoped else []
    nodes = None

    def all_nodes() -> DataFrame:
        nonlocal nodes
        if nodes is None:
            nodes = (
                edges.select(*gcols, F.col("src").alias("a"))
                .unionByName(edges.select(*gcols, F.col("dst").alias("a")))
                .distinct()
                .select(*gcols, "a", F.col("a").alias("b"))
                .localCheckpoint(eager=False)
            )
        return nodes

    def ev(node) -> DataFrame:
        kind = node[0]
        if kind == "pred":
            return (
                edges.filter(F.col("predicate") == node[1])
                .select(*gcols, F.col("src").alias("a"),
                        F.col("dst").alias("b"))
                .distinct()
            )
        if kind == "nps":
            return (
                edges.filter(~F.col("predicate").isin(*node[1]))
                .select(*gcols, F.col("src").alias("a"),
                        F.col("dst").alias("b"))
                .distinct()
            )
        if kind == "inv":
            return ev(node[1]).select(
                *gcols, F.col("b").alias("a"), F.col("a").alias("b")
            )
        if kind == "alt":
            out = ev(node[1][0])
            for part in node[1][1:]:
                out = out.unionByName(ev(part))
            return out.distinct()
        if kind == "seq":
            out = ev(node[1][0])
            for part in node[1][1:]:
                right = ev(part)
                cond = F.col("l.b") == F.col("r.a")
                if graph_scoped:
                    cond = cond & (F.col("l.g") == F.col("r.g"))
                sel = ([F.col("l.g").alias("g")] if graph_scoped else []) + [
                    F.col("l.a").alias("a"), F.col("r.b").alias("b"),
                ]
                out = (
                    out.alias("l")
                    .join(right.alias("r"), cond)
                    .select(*sel)
                    .distinct()
                )
            return out
        if kind == "plus":
            return _path_closure(ev(node[1]), max_depth, graph_scoped)
        if kind == "star":
            return (
                _path_closure(ev(node[1]), max_depth, graph_scoped)
                .unionByName(all_nodes())
                .distinct()
            )
        if kind == "opt":
            return ev(node[1]).unionByName(all_nodes()).distinct()
        raise AssertionError(f"unknown node {node!r}")

    parsed = _PathParser(path).parse()
    if graph_scoped:
        with _no_constraint_propagation(edges.sparkSession):
            return ev(parsed)
    return ev(parsed)


def match_path(
    edges: DataFrame,
    subject: str,
    path: str,
    object_: str,
    max_depth: int = 20,
    graph_var: str | None = None,
) -> DataFrame:
    """One path pattern ``subject path object``: terms follow the BGP
    convention (``?name`` variable, else constant). Returns one column
    per distinct variable; a repeated variable (``?x path ?x``) keeps
    only cyclic bindings; two constants return the 0/1-row existence
    relation (column ``matched``).

    ``graph_var`` evaluates the path per NAMED GRAPH of a quad table
    (``g`` column, the ``GRAPH ?var`` device): the result carries the
    graph binding as an extra column and two-constant existence becomes
    the distinct set of graphs where the path holds."""
    scoped = graph_var is not None
    pairs = eval_path(edges, path, max_depth, graph_scoped=scoped)
    gsel = [F.col("g").alias(graph_var)] if scoped else []
    s_var, o_var = _is_var(subject), _is_var(object_)
    if not s_var:
        pairs = pairs.filter(F.col("a") == subject)
    if not o_var:
        pairs = pairs.filter(F.col("b") == object_)
    if s_var and o_var:
        if subject == object_:
            return (
                pairs.filter(F.col("a") == F.col("b"))
                .select(*gsel, F.col("a").alias(subject[1:]))
                .distinct()
            )
        return pairs.select(
            *gsel, F.col("a").alias(subject[1:]),
            F.col("b").alias(object_[1:]),
        )
    if s_var:
        return pairs.select(*gsel, F.col("a").alias(subject[1:])).distinct()
    if o_var:
        return pairs.select(*gsel, F.col("b").alias(object_[1:])).distinct()
    if scoped:  # which graphs contain the constant-endpoint path
        return pairs.select(*gsel).distinct()
    return pairs.limit(1).select(F.lit(True).alias("matched"))


# --- SPARQL SELECT (textual subset) ----------------------------------------
#
# Grammar (the ad-hoc-query slice of SPARQL 1.1 SELECT):
#
#   query  := SELECT DISTINCT? (?v+ | *) WHERE { block } modifier*
#   block  := stmt (. stmt)* .?
#   stmt   := triple | OPTIONAL { block } | FILTER( expr )
#           | { block } UNION { block } (UNION { block })*
#           | VALUES (?v | (?v+)) { data }
#           | FILTER EXISTS { block } | FILTER NOT EXISTS { block }
#           | MINUS { block } | BIND( expr AS ?v )
#   triple := term pred term      pred := bare predicate | property path
#   term   := ?var | constant (bare or 'quoted')
#   modifier := ORDER BY (?v | ASC(?v) | DESC(?v))+ | LIMIT n
#
# Triples whose predicate contains a path operator (/ | ^ + * ? parens)
# evaluate through eval_path's bounded closure; plain triples compile via
# match_bgp's join-ordered conjunction; FILTER expressions translate
# ?var -> column, && -> AND, || -> OR, != as-is (Spark SQL accepts it).

def _translate_filter(expr: str) -> str:
    import re as _re

    out = expr.replace("&&", " AND ").replace("||", " OR ")
    return _re.sub(r"\?([A-Za-z_]\w*)", r"`\1`", out)


def _sparql_term(t: str) -> str:
    return t[1:-1] if t.startswith("'") and t.endswith("'") else t


def _balanced_span(body: str, open_idx: int, open_ch: str, close_ch: str) -> int:
    """Index just past the delimiter closing ``body[open_idx]``."""
    depth, j = 1, open_idx + 1
    while depth:
        if j >= len(body):
            raise ValueError(f"unbalanced {open_ch!r} in {body!r}")
        if body[j] == open_ch:
            depth += 1
        elif body[j] == close_ch:
            depth -= 1
        j += 1
    return j


def _parse_values(body: str, kw_end: int):
    """Parse ``VALUES ?v { ... }`` / ``VALUES (?v ?w) { (...) ... }``
    starting just after the VALUES keyword. Returns
    (var_names, rows, has_undef, index_past_block). UNDEF -> None."""
    import re as _re

    hm = _re.match(r"\s*(?:\(\s*((?:\?\w+\s*)+)\)|(\?\w+))\s*\{",
                   body[kw_end:])
    if not hm:
        raise ValueError(f"bad VALUES header at {body[kw_end:kw_end + 40]!r}")
    names = [v[1:] for v in (hm.group(1) or hm.group(2)).split()]
    data_start = kw_end + hm.end()  # just past '{'
    data_end = _balanced_span(body, data_start - 1, "{", "}")
    data = body[data_start:data_end - 1]

    toks = _re.findall(r"'[^']*'|[()]|[^\s()]+", data)
    rows: list[tuple] = []
    has_undef = False
    if len(names) == 1:
        for t in toks:
            if t in "()":
                raise ValueError("parenthesized row in single-var VALUES")
            v = None if t.upper() == "UNDEF" else _sparql_term(t)
            has_undef |= v is None
            rows.append((v,))
    else:
        i = 0
        while i < len(toks):
            if toks[i] != "(":
                raise ValueError(f"expected '(' row in VALUES, got {toks[i]!r}")
            j = toks.index(")", i)
            cells = toks[i + 1:j]
            if len(cells) != len(names):
                raise ValueError(
                    f"VALUES row {cells!r} arity != {len(names)}"
                )
            row = tuple(
                None if c.upper() == "UNDEF" else _sparql_term(c)
                for c in cells
            )
            has_undef |= any(v is None for v in row)
            rows.append(row)
            i = j + 1
    if not rows:
        raise ValueError("VALUES block has no rows")
    return names, rows, has_undef, data_end


def _join_values(out: DataFrame, vdf: DataFrame, has_undef: bool) -> DataFrame:
    """Attach an inline VALUES relation: broadcast equi-join on shared
    vars when the table has no UNDEF, else the SPARQL compatibility join
    (UNDEF matches anything) as a broadcast theta-join — the values side
    is tiny by construction, so BroadcastNestedLoop is the right plan."""
    shared = sorted(set(out.columns) & set(vdf.columns))
    if not shared:
        return out.crossJoin(F.broadcast(vdf))
    if not has_undef:
        return out.join(F.broadcast(vdf), on=shared, how="inner")
    ren = vdf
    for c in vdf.columns:
        ren = ren.withColumnRenamed(c, f"_val_{c}")
    cond = F.lit(True)
    for c in shared:
        cond = cond & (
            F.col(f"_val_{c}").isNull() | (F.col(f"_val_{c}") == F.col(c))
        )
    joined = out.join(F.broadcast(ren), cond, "inner")
    extra = [c for c in vdf.columns if c not in shared]
    return joined.select(
        *[F.col(c) for c in out.columns],
        *[F.col(f"_val_{c}").alias(c) for c in extra],
    )


def _eval_where(
    edges: DataFrame, body: str, max_depth: int,
    graph_var: str | None = None,
) -> DataFrame:
    """Evaluate a WHERE-block body (triples / OPTIONAL / FILTER / UNION
    groups / VALUES / GRAPH) to the variable-binding DataFrame — shared
    by SELECT, CONSTRUCT, ASK and DESCRIBE.

    **Named graphs** (SPARQL 1.1 §13): when ``edges`` carries a fourth
    column ``g`` it is a QUAD table — ``g`` NULL marks the DEFAULT
    graph. Triples outside any GRAPH block then match only default-graph
    rows; ``GRAPH <iri> { ... }`` evaluates its group against that one
    named graph (filter + drop g — the full grammar composes inside);
    ``GRAPH ?g { ... }`` matches each named graph and binds ?g, by
    extending the group's triples to quads sharing the graph variable
    (``graph_var`` threads it through nested OPTIONAL / UNION / EXISTS /
    MINUS recursion). Property paths inside ``GRAPH ?var`` evaluate
    graph-scoped (closures compose within one named graph, all graphs
    in one plan — :func:`eval_path` ``graph_scoped``); subqueries
    evaluate per named graph with the graph binding carried through
    their projection (per-graph ORDER BY/LIMIT slicing raises loudly).
    GRAPH over a 3-column edge table raises — there is no graph to
    name.

    FILTER(...) spans (balanced-paren scan), OPTIONAL { ... } blocks,
    ``{ g } UNION { g }`` group chains (balanced-brace scan — branches
    recurse through this function, so they may hold paths / OPTIONAL /
    FILTER themselves) and VALUES blocks are lifted out of the text
    FIRST — predicates may legally contain parens (path groups), so
    token-level paren handling cannot distinguish them. Then statements
    split on whitespace-delimited '.' and triples on whitespace.

    UNION branches binding different variables NULL-fill the missing
    columns (SPARQL's union of incompatible solution mappings); when a
    union relation joins the rest of the pattern, shared variables join
    on equality — a branch that leaves a shared variable NULL drops, the
    bound-join subset this engine pins.

    FILTER EXISTS / FILTER NOT EXISTS groups evaluate to a relation and
    apply as a hash SEMI / ANTI join on the shared variables (which must
    exist — an uncorrelated EXISTS is rejected); MINUS is an anti-join
    on shared variables and a NO-OP when the groups share none (the
    SPARQL 1.1 disjoint-domain rule — the spec's one sharp MINUS/NOT
    EXISTS divergence, pinned in tests); BIND(expr AS ?v) adds a
    computed column (applied after pattern joins, before FILTERs).
    """
    import re as _re

    filters: list[str] = []
    optional_rels: list[DataFrame] = []
    unions: list[DataFrame] = []
    values_rels: list[tuple[DataFrame, bool]] = []
    exists_rels: list[tuple[DataFrame, bool]] = []  # (relation, negated)
    minus_rels: list[DataFrame] = []
    binds: list[tuple[str, str]] = []  # (var, translated expr)

    def _take_triples(txt: str, sink: list) -> None:
        for stmt in _re.split(r"\.(?:\s+|\s*$)", txt):
            terms = stmt.split()
            if not terms:
                continue
            if len(terms) != 3:
                raise ValueError(f"triple needs 3 terms, got {terms!r}")
            sink.append(tuple(_sparql_term(t) for t in terms))

    pos = 0
    plain_txt: list[str] = []
    while pos < len(body):
        mm = _re.search(
            r"(\bFILTER\s+NOT\s+EXISTS\s*\{|\bFILTER\s+EXISTS\s*\{"
            r"|\bFILTER\s*\(|\bOPTIONAL\s*\{|\bVALUES\b"
            r"|\bMINUS\s*\{|\bBIND\s*\(|\bGRAPH\s+\S+\s*\{|\{)",
            body[pos:], _re.IGNORECASE,
        )
        if not mm:
            plain_txt.append(body[pos:])
            break
        plain_txt.append(body[pos:pos + mm.start()])
        kw_end = pos + mm.end()
        kw = " ".join(mm.group(1).upper().split())
        if kw.startswith("FILTER NOT EXISTS") or kw.startswith("FILTER EXISTS"):
            j = _balanced_span(body, kw_end - 1, "{", "}")
            rel = _eval_where(edges, body[kw_end:j - 1], max_depth, graph_var)
            exists_rels.append((rel, "NOT" in kw))
        elif kw.startswith("MINUS"):
            j = _balanced_span(body, kw_end - 1, "{", "}")
            minus_rels.append(
                _eval_where(edges, body[kw_end:j - 1], max_depth, graph_var)
            )
        elif kw.startswith("GRAPH"):
            if "g" not in edges.columns:
                raise ValueError(
                    "GRAPH requires a quad table with a 'g' column"
                )
            term = mm.group(1).split(None, 2)[1]
            j = _balanced_span(body, kw_end - 1, "{", "}")
            inner = body[kw_end:j - 1]
            if _is_var(term):
                rel = _eval_where(
                    edges.filter(F.col("g").isNotNull()), inner,
                    max_depth, graph_var=term[1:],
                )
            else:
                iri = term[1:-1] if term.startswith("<") else _sparql_term(term)
                rel = _eval_where(
                    edges.filter(F.col("g") == F.lit(iri)).drop("g"),
                    inner, max_depth,
                )
            unions.append(rel)
        elif kw.startswith("BIND"):
            j = _balanced_span(body, kw_end - 1, "(", ")")
            bm = _re.match(r"(.*)\s+AS\s+\?(\w+)\s*$",
                           body[kw_end:j - 1].strip(),
                           _re.IGNORECASE | _re.DOTALL)
            if not bm:
                raise ValueError(
                    f"BIND needs 'expr AS ?var', got {body[kw_end:j - 1]!r}"
                )
            binds.append((bm.group(2), _translate_filter(bm.group(1))))
        elif kw.startswith("FILTER"):
            j = _balanced_span(body, kw_end - 1, "(", ")")
            filters.append(body[kw_end:j - 1].strip())
        elif kw.startswith("OPTIONAL"):
            # the block evaluates as a GROUP (recursively — paths,
            # FILTERs and nesting compose inside), then left-joins once:
            # SPARQL's LeftJoin(P, t1 JOIN t2), not a chain of per-triple
            # left joins (those differ on multi-triple optionals)
            j = _balanced_span(body, kw_end - 1, "{", "}")
            optional_rels.append(
                _eval_where(edges, body[kw_end:j - 1], max_depth, graph_var)
            )
        elif kw.startswith("VALUES"):
            names, rows, has_undef, j = _parse_values(body, kw_end)
            vdf = edges.sparkSession.createDataFrame(
                rows, ", ".join(f"`{n}` string" for n in names)
            )
            values_rels.append((vdf, has_undef))
        else:  # bare '{' — a subquery or a UNION group chain
            branches: list[str] = []
            j = _balanced_span(body, kw_end - 1, "{", "}")
            first_body = body[kw_end:j - 1]
            if _re.match(r"\s*SELECT\b", first_body, _re.IGNORECASE):
                # SPARQL 1.1 §12 subquery: evaluates bottom-up in
                # isolation, joins the outer pattern on its projected
                # variables (same attach rule as a union relation).
                # Inside GRAPH ?var the subquery evaluates per named
                # graph with the graph binding carried implicitly.
                unions.append(
                    select_sparql(
                        edges, first_body, max_depth, graph_var=graph_var
                    )
                )
                pos = j
                continue
            branches.append(first_body)
            while True:
                um = _re.match(r"\s*UNION\s*\{", body[j:], _re.IGNORECASE)
                if not um:
                    break
                b_start = j + um.end()
                j = _balanced_span(body, b_start - 1, "{", "}")
                branches.append(body[b_start:j - 1])
            if len(branches) < 2:
                raise ValueError(
                    "bare group graph pattern without UNION is not supported"
                )
            rel = None
            for br in branches:
                part = _eval_where(edges, br, max_depth, graph_var)
                rel = part if rel is None else rel.unionByName(
                    part, allowMissingColumns=True
                )
            unions.append(rel)
        pos = j

    triples: list[tuple[str, str, str]] = []
    _take_triples(" ".join(plain_txt), triples)

    # a variable predicate (?p) is a plain BGP term, not a property path
    # — the leading '?' must not read as the zero-or-one path operator
    path_ops = set("/|^+*?()!")
    plain = [
        t for t in triples
        if _is_var(t[1]) or not (set(t[1]) & path_ops)
    ]
    paths = [
        t for t in triples
        if not _is_var(t[1]) and (set(t[1]) & path_ops)
    ]

    # quad-table scoping: outside GRAPH only the default graph (g NULL)
    # is visible; inside GRAPH ?g every triple becomes a quad sharing
    # the graph variable
    base = edges
    if graph_var is not None:
        plain = [t + ("?" + graph_var,) for t in plain]
    elif "g" in edges.columns:
        base = edges.filter(F.col("g").isNull()).drop("g")

    out = None
    if plain:
        out = match_bgp(base, plain)
    for s, path, o in paths:
        part = match_path(
            base, s, path, o, max_depth=max_depth, graph_var=graph_var
        )
        if out is None:
            out = part
            continue
        shared = sorted(set(out.columns) & set(part.columns))
        out = out.join(part, on=shared, how="inner") if shared else out.crossJoin(part)
    for rel in unions:
        if out is None:
            out = rel
            continue
        shared = sorted(set(out.columns) & set(rel.columns))
        out = out.join(rel, on=shared, how="inner") if shared else out.crossJoin(rel)
    for vdf, has_undef in values_rels:
        out = vdf if out is None else _join_values(out, vdf, has_undef)
    if out is None:
        raise ValueError("query has no triples")

    for rel in optional_rels:
        shared = sorted(set(out.columns) & set(rel.columns))
        if not shared:
            raise ValueError(
                "OPTIONAL group shares no variable with the required "
                "pattern — unbounded OPTIONAL is not supported"
            )
        out = out.join(rel, on=shared, how="left")
    for var, expr in binds:
        if var in out.columns:
            raise ValueError(f"BIND target ?{var} is already bound")
        out = out.withColumn(var, F.expr(expr))
    for rel, negated in exists_rels:
        shared = sorted(set(out.columns) & set(rel.columns))
        if not shared:
            raise ValueError(
                "FILTER [NOT] EXISTS group shares no variable with the "
                "outer pattern — uncorrelated EXISTS is not supported"
            )
        # SPARQL solution-compatibility semantics: an UNBOUND (NULL)
        # shared variable — on either side (OPTIONAL / NULL-padded UNION
        # branches produce them) — is compatible with ANYTHING, so the
        # join condition per var is (outer NULL) OR (inner NULL) OR
        # equal, not plain equality (which would make a NULL row never
        # match EXISTS and always survive NOT EXISTS). Cost note: the
        # OR-condition defeats hash joins; the probe side is the
        # DISTINCT projection of the (typically tiny) EXISTS group, so
        # Spark broadcasts it — acceptable for a correlated filter.
        probe = rel.select(
            *[F.col(c).alias(f"_ex_{c}") for c in shared]
        ).distinct()
        cond = None
        for c in shared:
            cc = (
                F.col(c).isNull()
                | F.col(f"_ex_{c}").isNull()
                | (F.col(c) == F.col(f"_ex_{c}"))
            )
            cond = cc if cond is None else (cond & cc)
        out = out.join(
            probe, on=cond, how="left_anti" if negated else "left_semi",
        )
    for rel in minus_rels:
        shared = sorted(set(out.columns) & set(rel.columns))
        if shared:  # disjoint domains: SPARQL MINUS removes nothing
            out = out.join(rel.select(*shared).distinct(), on=shared,
                           how="left_anti")
    for f in filters:
        out = out.filter(F.expr(_translate_filter(f)))
    return out


_AGG_FNS = {
    "COUNT": F.count,
    "SUM": F.sum,
    "MIN": F.min,
    "MAX": F.max,
    "AVG": F.avg,
    # SPARQL leaves SAMPLE's pick implementation-defined; this engine
    # pins MIN so the result is deterministic on any partitioning
    "SAMPLE": F.min,
}


def _parse_projection(proj_txt: str):
    """Split a SELECT projection into plain vars and aggregate specs.
    Returns (items) where each item is ('var', name) or
    ('agg', fn_name, distinct, arg_var_or_None, alias, separator)."""
    import re as _re

    items = []
    pos = 0
    while pos < len(proj_txt):
        ch = proj_txt[pos]
        if ch.isspace():
            pos += 1
            continue
        if ch == "(":
            # balanced-paren scan, skipping quoted string literals —
            # counting raw ')' chars would mis-span a GROUP_CONCAT whose
            # SEPARATOR contains parens (e.g. SEPARATOR=") (")
            depth, j, quote = 0, pos, None
            while j < len(proj_txt):
                c2 = proj_txt[j]
                if quote is not None:
                    if c2 == quote:
                        quote = None
                elif c2 in "'\"":
                    quote = c2
                elif c2 == "(":
                    depth += 1
                elif c2 == ")":
                    depth -= 1
                    if depth == 0:
                        j += 1
                        break
                j += 1
            else:
                raise ValueError(f"unbalanced projection spec {proj_txt[pos:]!r}")
            spec = proj_txt[pos + 1:j - 1]
            mm = _re.match(
                r"\s*(COUNT|SUM|MIN|MAX|AVG|SAMPLE|GROUP_CONCAT)"
                r"\s*\(\s*(DISTINCT\s+)?(\*|\?\w+)\s*"
                r"(?:;\s*SEPARATOR\s*=\s*['\"]([^'\"]*)['\"]\s*)?\)"
                r"\s+AS\s+\?(\w+)\s*$",
                spec, _re.IGNORECASE,
            )
            if not mm:
                raise ValueError(f"unsupported aggregate spec ({spec!r})")
            fn, dis, arg, sep, alias = (
                mm.group(1).upper(), bool(mm.group(2)), mm.group(3),
                mm.group(4), mm.group(5),
            )
            if arg == "*" and fn != "COUNT":
                raise ValueError(f"{fn}(*) is not defined")
            if sep is not None and fn != "GROUP_CONCAT":
                raise ValueError(f"SEPARATOR is only valid in GROUP_CONCAT")
            items.append(
                ("agg", fn, dis, None if arg == "*" else arg[1:], alias,
                 " " if sep is None else sep)
            )
            pos = j
        else:
            mm = _re.match(r"\?(\w+)", proj_txt[pos:])
            if not mm:
                raise ValueError(f"bad projection term at {proj_txt[pos:]!r}")
            items.append(("var", mm.group(1)))
            pos += mm.end()
    return items


def select_sparql(
    edges: DataFrame,
    query: str,
    max_depth: int = 20,
    graph_var: str | None = None,
) -> DataFrame:
    """Evaluate a textual SPARQL SELECT (subset above) over the edge
    table. Returns the projected variables as columns, honoring DISTINCT
    / FILTER / OPTIONAL / property paths / aggregates (COUNT/SUM/MIN/MAX
    with optional inner DISTINCT) + GROUP BY / ORDER BY / LIMIT.

    ``graph_var`` marks a subquery inside ``GRAPH ?var``: the WHERE
    block evaluates per named graph (quads sharing the graph variable)
    and the graph binding is carried through the projection implicitly
    — aggregates group per graph too, matching SPARQL's
    evaluate-the-subquery-within-each-active-graph semantics. Solution
    modifiers (ORDER BY / LIMIT / OFFSET) would then have to slice PER
    GRAPH; that form raises loudly."""
    import re as _re

    m = _re.match(
        r"\s*SELECT\s+(DISTINCT\s+)?(.*?)\s+WHERE\s*\{(.*)\}\s*(.*)$",
        query, _re.IGNORECASE | _re.DOTALL,
    )
    if not m:
        raise ValueError("unsupported SPARQL shape (need SELECT ... WHERE {...})")
    distinct = bool(m.group(1))
    proj_txt, body, tail = m.group(2).strip(), m.group(3), m.group(4)

    out = _eval_where(edges, body, max_depth, graph_var)

    # GROUP BY is consumed from the tail BEFORE the modifier loop
    gm = _re.match(r"\s*GROUP\s+BY\s+((?:\?\w+\s*)+)(.*)$", tail,
                   _re.IGNORECASE | _re.DOTALL)
    group_vars: list[str] = []
    if gm:
        group_vars = [v[1:] for v in gm.group(1).split()]
        tail = gm.group(2)

    # --- projection (plain or aggregating) + modifiers
    items = _parse_projection(proj_txt) if proj_txt != "*" else []
    aggs = [it for it in items if it[0] == "agg"]
    if aggs and graph_var is not None and graph_var not in group_vars:
        # per-graph evaluation: the graph binding joins the group keys
        # (even with no textual GROUP BY — a bare aggregate inside
        # GRAPH ?var aggregates within each named graph)
        group_vars = [graph_var] + group_vars
    if aggs:
        plain_vars = [it[1] for it in items if it[0] == "var"]
        bad = set(plain_vars) - set(group_vars)
        if bad:
            raise ValueError(
                f"projected vars {sorted(bad)} not in GROUP BY"
            )
        agg_cols = []
        for _, fn, dis, arg, alias, sep in aggs:
            if arg is None:
                c = F.count(F.lit(1))
            elif fn == "GROUP_CONCAT":
                # SPARQL leaves element order undefined; pin SORTED so
                # the result is deterministic on any partitioning
                items_c = (
                    F.collect_set(F.col(arg)) if dis
                    else F.collect_list(F.col(arg))
                )
                c = F.array_join(F.array_sort(items_c), sep)
            elif dis:
                c = F.count_distinct(F.col(arg)) if fn == "COUNT" else None
                if c is None:
                    raise ValueError(f"DISTINCT unsupported inside {fn}")
            else:
                c = _AGG_FNS[fn](F.col(arg))
            agg_cols.append(c.alias(alias))
        out = out.groupBy(*group_vars).agg(*agg_cols)
        # HAVING filters the aggregated relation over projected aliases
        hm = _re.match(r"\s*HAVING\s*\(", tail, _re.IGNORECASE)
        if hm:
            j = _balanced_span(tail, hm.end() - 1, "(", ")")
            out = out.filter(F.expr(_translate_filter(tail[hm.end():j - 1])))
            tail = tail[j:]
        order = [it[1] if it[0] == "var" else it[4] for it in items]
        if graph_var is not None and graph_var not in order:
            order = [graph_var] + order  # keep the graph binding joinable
        out = out.select(*order)
    elif group_vars:
        raise ValueError("GROUP BY requires an aggregate in the projection")
    elif proj_txt != "*":
        sel = [it[1] for it in items]
        if graph_var is not None and graph_var not in sel:
            sel = [graph_var] + sel  # keep the graph binding joinable
        out = out.select(*sel)
    if distinct:
        out = out.distinct()
    if graph_var is not None and tail.split():
        raise ValueError(
            "ORDER BY / LIMIT / OFFSET inside a GRAPH ?var subquery "
            "would have to slice per named graph — not supported"
        )
    tail_toks = tail.split()
    ti = 0
    limit_n: int | None = None
    offset_n: int | None = None
    while ti < len(tail_toks):
        kw = tail_toks[ti].upper()
        if kw == "ORDER" and ti + 1 < len(tail_toks) and tail_toks[ti + 1].upper() == "BY":
            ti += 2
            order_cols = []
            while ti < len(tail_toks) and tail_toks[ti].upper() not in (
                "LIMIT", "OFFSET",
            ):
                t = tail_toks[ti]
                mm = _re.match(r"(ASC|DESC)\(\?(\w+)\)", t, _re.IGNORECASE)
                if mm:
                    c = F.col(mm.group(2))
                    order_cols.append(
                        c.desc() if mm.group(1).upper() == "DESC" else c.asc()
                    )
                elif t.startswith("?"):
                    order_cols.append(F.col(t[1:]).asc())
                else:
                    raise ValueError(f"bad ORDER BY term {t!r}")
                ti += 1
            out = out.orderBy(*order_cols)
        elif kw == "LIMIT":
            limit_n = int(tail_toks[ti + 1])
            ti += 2
        elif kw == "OFFSET":
            offset_n = int(tail_toks[ti + 1])
            ti += 2
        elif not kw:
            ti += 1
        else:
            raise ValueError(f"unsupported modifier {tail_toks[ti]!r}")
    # SPARQL slice semantics: skip OFFSET rows, then take LIMIT —
    # regardless of the textual modifier order (SPARQL 1.1 §15.4/15.5)
    if offset_n is not None:
        out = out.offset(offset_n)
    if limit_n is not None:
        out = out.limit(limit_n)
    return out


def construct_sparql(edges: DataFrame, query: str, max_depth: int = 20) -> DataFrame:
    """Evaluate a textual SPARQL CONSTRUCT: ``CONSTRUCT { template }
    WHERE { block }`` — the KG-to-KG rewrite form (materialized views,
    predicate renames, inference templates). The WHERE block supports the
    same subset as :func:`select_sparql` (triples, property paths,
    OPTIONAL, FILTER); each template triple instantiates once per
    binding, constants become literals, and the result is the DISTINCT
    union over all template triples as ``(subject, predicate, object)``.

    Bindings a template row needs that are NULL (possible only via
    OPTIONAL) drop that row — the SPARQL 1.1 incomplete-triple rule.
    Scale shape: one projection per template triple over the shared
    binding relation + a distinct on the (small) emitted triple set; the
    binding relation itself is computed once.
    """
    import re as _re

    m = _re.match(
        r"\s*CONSTRUCT\s*\{(.*?)\}\s*WHERE\s*\{(.*)\}\s*$",
        query, _re.IGNORECASE | _re.DOTALL,
    )
    if not m:
        raise ValueError(
            "unsupported SPARQL shape (need CONSTRUCT {...} WHERE {...})"
        )
    tmpl_txt, body = m.group(1), m.group(2)
    templates: list[tuple[str, str, str]] = []
    for stmt in _re.split(r"\.(?:\s+|\s*$)", tmpl_txt):
        terms = stmt.split()
        if not terms:
            continue
        if len(terms) != 3:
            raise ValueError(f"template triple needs 3 terms, got {terms!r}")
        templates.append(tuple(_sparql_term(t) for t in terms))
    if not templates:
        raise ValueError("CONSTRUCT template has no triples")

    bindings = _eval_where(edges, body, max_depth)

    def _slot(term: str, alias: str):
        if _is_var(term):
            v = term[1:]
            if v not in bindings.columns:
                raise ValueError(f"template var ?{v} is not bound in WHERE")
            return F.col(v).alias(alias)
        return F.lit(term).alias(alias)

    out = None
    for s, p, o in templates:
        part = bindings.select(
            _slot(s, "subject"), _slot(p, "predicate"), _slot(o, "object")
        )
        out = part if out is None else out.unionByName(part)
    return out.filter(
        F.col("subject").isNotNull()
        & F.col("predicate").isNotNull()
        & F.col("object").isNotNull()
    ).distinct()


def ask_sparql(edges: DataFrame, query: str, max_depth: int = 20) -> DataFrame:
    """Evaluate a textual SPARQL ASK: ``ASK { block }`` -> a one-row
    DataFrame with boolean column ``matched`` (does ANY binding exist).
    The WHERE block supports the same subset as :func:`select_sparql`.

    Scale shape: existence only — ``limit(1)`` cuts the pattern
    evaluation as soon as one binding surfaces (Spark stops the scan
    early via the CollectLimit), so ASK never materializes the full
    binding relation."""
    import re as _re

    m = _re.match(r"\s*ASK\s*\{(.*)\}\s*$", query, _re.IGNORECASE | _re.DOTALL)
    if not m:
        raise ValueError("unsupported SPARQL shape (need ASK {...})")
    out = _eval_where(edges, m.group(1), max_depth)
    return out.limit(1).agg((F.count(F.lit(1)) > 0).alias("matched"))


def describe_sparql(edges: DataFrame, query: str, max_depth: int = 20) -> DataFrame:
    """Evaluate a textual SPARQL DESCRIBE: ``DESCRIBE <resources>`` or
    ``DESCRIBE ?v ... WHERE { block }``. Returns the DISTINCT
    ``(subject, predicate, object)`` edge set incident to every
    described resource — the "concise description" every SPARQL store
    answers with at minimum (DESCRIBE's output graph is
    implementation-defined; this engine pins incident edges, both
    directions, one hop).

    Scale shape: the resource set is small (constants, or bindings of a
    selective pattern) — two BROADCAST semi-joins against the edge table
    (one per incidence side, equi-join on src / dst so each stays a
    hash semi-join, never a theta-join) unioned then deduped."""
    import re as _re

    m = _re.match(
        r"\s*DESCRIBE\s+(.*?)(?:\s+WHERE\s*\{(.*)\})?\s*$",
        query, _re.IGNORECASE | _re.DOTALL,
    )
    if not m:
        raise ValueError("unsupported SPARQL shape (need DESCRIBE ...)")
    terms = m.group(1).split()
    body = m.group(2)
    var_names = [t[1:] for t in terms if _is_var(t)]
    consts = [_sparql_term(t) for t in terms if not _is_var(t)]
    if not terms:
        raise ValueError("DESCRIBE needs at least one resource term")

    res = None
    if var_names:
        if body is None:
            raise ValueError("DESCRIBE ?var needs a WHERE block")
        bindings = _eval_where(edges, body, max_depth)
        for v in var_names:
            if v not in bindings.columns:
                raise ValueError(f"DESCRIBE var ?{v} is not bound in WHERE")
            part = bindings.select(F.col(v).alias("node"))
            res = part if res is None else res.unionByName(part)
    if consts:
        cdf = edges.sparkSession.createDataFrame(
            [(c,) for c in consts], "node string"
        )
        res = cdf if res is None else res.unionByName(cdf)
    res = res.na.drop().distinct()

    e = edges.select(
        F.col("src").alias("subject"),
        F.col("predicate"),
        F.col("dst").alias("object"),
    )
    out_side = e.join(
        F.broadcast(res.withColumnRenamed("node", "subject")),
        "subject", "left_semi",
    )
    in_side = e.join(
        F.broadcast(res.withColumnRenamed("node", "object")),
        "object", "left_semi",
    ).select("subject", "predicate", "object")
    return out_side.unionByName(in_side).distinct()
