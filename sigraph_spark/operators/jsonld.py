"""schema.org structured-data -> KG triples (JSON-LD script blocks).

After sentences (``operators/triples.py``), tables (``htmltables.py``)
and Hearst patterns (``hearst.py``), the fourth major fact carrier on the
real web is EMBEDDED STRUCTURED DATA: ``<script type="application/
ld+json">`` blocks publishers emit for search engines (schema.org
Product/Article/Person/... markup). Production Common-Crawl KG pipelines
(e.g. the WDC structured-data extractions) mine exactly this channel, so
a webtext KG construction engine (BASELINE.json north_star) needs it as a
first-class extractor view next to the prose ones.

Everything is JVM-side Catalyst expressions — Jackson via ``from_json``,
never a Python UDF. The load-bearing Spark behavior (test-pinned): parsing
with ``map<string,string>`` / ``array<string>`` schemas RAW-CAPTURES any
nested subtree as its compact JSON text, so one pass splits an entity
into (key, raw value) pairs and a second ``from_json`` re-parses just the
nested values we keep. Malformed blocks parse to NULL and drop silently,
exactly like real crawl data.

Semantics (pinned by the ``jsonld_triples`` gate + tests):
* every ld+json script block gets a ``block_idx`` (document order;
  malformed blocks still consume an index);
* a block is a top-level object, a top-level ARRAY of entities, or an
  object wrapping an ``@graph`` array (the three shapes in the wild) —
  entities get ``elem_idx`` within the block;
* subject = the entity's ``@id`` if present, else ``url#ld<block>-<elem>``
  (a deterministic blank-node name keyed by position);
* ``@type`` emits ``(subj, rdf:type, type)`` with kind ``type``; other
  ``@``-keys are structural and emit nothing;
* scalar values emit literal triples (numbers/booleans in their JSON
  text form); ARRAY values emit one triple per element (multi-valued
  properties like ``sameAs``); OBJECT values emit an entity triple whose
  object is the nested ``name`` (else ``@id``) — one level of nesting,
  the WDC flattening convention. Nested objects with neither, and empty
  strings, emit nothing;
* non-object elements inside a top-level array are skipped.

Scale design: a single NARROW map per page — regex block split +
``posexplode`` + three bounded ``from_json`` passes; array fan-out is
bounded by block size. ZERO shuffles and zero UDFs in the whole operator
(plan-asserted in tests); downstream claim fusion does the aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LD_SCRIPT_RE = (
    r"(?is)<script[^>]*type\s*=\s*[\"']application/ld\+json[\"'][^>]*>"
    r"(.*?)</script>"
)

_ENTITY_SCHEMA = "map<string,string>"
_ARRAY_SCHEMA = "array<string>"
# nested-object projection: name preferred, @id fallback (WDC convention)
_NESTED_SCHEMA = "name string, `@id` string"


_LD_ROW_T = (
    "array<struct<block_idx:int,elem_idx:int,"
    "subj:string,predicate:string,obj:string,kind:string>>"
)


def jsonld_kernel(url, html) -> "F.Column":
    """Single-pass Column kernel: html -> ``array<struct<block_idx,
    elem_idx, subj, predicate, obj, kind>>`` — the same rows
    :func:`jsonld_triples` emits, as a per-page array so the channel
    can ride the fused one-scan extraction pass
    (``operators/fusedscan.py``). The block/entity/value fan-out that
    the DataFrame form expressed as three ``posexplode`` stages becomes
    nested ``transform``/``flatten``; every ``from_json`` parse is
    ``hof.let``-bound so it runs once per node, not once per use site.
    """
    from sigraph_spark.functions.hof import let

    empty = F.array().cast(_LD_ROW_T)

    # ---- value -> objects (arrays fan out, one level of nesting) ----------
    def kv_rows(subj, bi, ei, k, v):
        pred = F.when(k == "@type", F.lit("rdf:type")).otherwise(k)
        is_type = k == "@type"
        items = F.when(
            F.ltrim(v).startswith("["), F.from_json(v, _ARRAY_SCHEMA)
        ).otherwise(F.array(v))

        def per_item(item):
            it = F.ltrim(item)
            # nested-object parse INSIDE the object branch: a let around
            # the whole CaseWhen forces from_json for every item, but
            # scalar items (the majority) never read it — CaseWhen
            # branches are lazy, so this skips the parse for them
            obj = F.when(
                it.startswith("{"),
                let(
                    F.from_json(item, _NESTED_SCHEMA),
                    lambda nested: F.coalesce(nested["name"], nested["@id"]),
                ),
            ).otherwise(item)
            kind = (
                F.when(is_type, F.lit("type"))
                .when(it.startswith("{"), F.lit("entity"))
                .otherwise(F.lit("literal"))
            )
            return F.struct(
                bi.alias("block_idx"), ei.alias("elem_idx"),
                subj.alias("subj"), pred.alias("predicate"),
                obj.alias("obj"), kind.alias("kind"),
            )

        return F.filter(
            F.coalesce(F.transform(items, per_item), empty),
            lambda r: r["obj"].isNotNull() & (r["obj"] != ""),
        )

    # ---- entity -> (key, raw value) ---------------------------------------
    def ent_rows_m(bi, ei, m):
        # body over an ALREADY-PARSED entity map
        return F.when(m.isNull(), empty).otherwise(
            let(
                F.coalesce(
                    m.getItem("@id"),
                    F.concat(
                        url, F.lit("#ld"), bi.cast("string"),
                        F.lit("-"), ei.cast("string"),
                    ),
                ),
                lambda subj: F.flatten(
                    F.transform(
                        F.filter(
                            F.map_entries(m),
                            lambda kv: (~kv["key"].startswith("@"))
                            | (kv["key"] == "@type"),
                        ),
                        lambda kv: kv_rows(
                            subj, bi, ei, kv["key"], kv["value"]
                        ),
                    )
                ),
            )
        )

    def ent_rows(bi, ei, ent):
        return let(
            F.from_json(ent, _ENTITY_SCHEMA),
            lambda m: ent_rows_m(bi, ei, m),
        )

    # ---- block -> entities ------------------------------------------------
    def block_rows(raw, bi):
        def arr_rows(arr):
            return F.flatten(
                F.transform(arr, lambda ent, ei: ent_rows(bi, ei, ent))
            )

        # the common plain-object block reuses the ALREADY-PARSED map
        # (ent_rows_m) instead of round-tripping raw through from_json a
        # second time — from_json is the kernel's heaviest per-block op.
        # Top-level-array blocks take the first branch BEFORE the
        # entity-map let binds, so they skip the (always-failing) map
        # parse of raw too — CaseWhen branches are lazy; a let outside
        # the CaseWhen forced it for every block. Malformed blocks:
        # om NULL -> no branch fires -> coalesce empty
        return F.coalesce(
            F.when(
                F.ltrim(raw).startswith("["),
                arr_rows(F.from_json(raw, _ARRAY_SCHEMA)),
            ).otherwise(
                let(
                    F.from_json(raw, _ENTITY_SCHEMA),
                    lambda om: F.when(
                        om.getItem("@graph").isNotNull()
                        & F.ltrim(om.getItem("@graph")).startswith("["),
                        arr_rows(
                            F.from_json(om.getItem("@graph"), _ARRAY_SCHEMA)
                        ),
                    ).when(om.isNotNull(), ent_rows_m(bi, F.lit(0), om)),
                )
            ),
            empty,
        )

    k = let(
        F.regexp_extract_all(html, F.lit(LD_SCRIPT_RE), 1),
        lambda blocks: F.flatten(F.transform(blocks, block_rows)),
    )
    return F.coalesce(k, empty)


def jsonld_triples(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """``(url, block_idx, elem_idx, subj, predicate, obj, kind)`` from
    every ld+json block; kind in {type, literal, entity}. ``explode``
    of the per-page :func:`jsonld_kernel` array — one narrow map."""
    src = pages.schema[html_col].dataType.typeName()
    html = (
        F.decode(F.col(html_col), "UTF-8") if src == "binary" else F.col(html_col)
    )
    k = jsonld_kernel(F.col(url_col), html)
    return pages.select(
        F.col(url_col), F.explode(k).alias("t")
    ).select(
        F.col(url_col).alias("url"),
        F.col("t.block_idx").alias("block_idx"),
        F.col("t.elem_idx").alias("elem_idx"),
        F.col("t.subj").alias("subj"),
        F.col("t.predicate").alias("predicate"),
        F.col("t.obj").alias("obj"),
        F.col("t.kind").alias("kind"),
    )


# --- meta / OpenGraph tags --------------------------------------------------

META_RE = (
    r"(?is)<meta\s+(?:property|name)\s*=\s*[\"']([^\"']+)[\"']\s+"
    r"content\s*=\s*[\"']([^\"']*)[\"'][^>]*>"
)


_META_ROW_T = "array<struct<meta_idx:int,predicate:string,obj:string>>"


def meta_kernel(
    html,
    prefixes: tuple[str, ...] = ("og:", "article:", "twitter:", "description"),
) -> "F.Column":
    """Single-pass Column kernel: html -> ``array<struct<meta_idx,
    predicate, obj>>`` of the kept meta tags (``meta_idx`` counts ALL
    matched tags in document order — dropped ones consume an index,
    matching the posexplode-then-filter DataFrame form)."""
    from sigraph_spark.functions.hof import zip_match_groups

    # one group-0 scan + per-match group pulls (was one full-html pass
    # per capture group)
    pairs = zip_match_groups(html, META_RE, ["p", "c"])

    def keep(r):
        k = None
        for pre in prefixes:
            c = r["predicate"].startswith(pre)
            k = c if k is None else (k | c)
        return k & (r["obj"] != "")

    rows = F.transform(
        pairs,
        lambda kv, i: F.struct(
            i.alias("meta_idx"),
            kv["p"].alias("predicate"), kv["c"].alias("obj"),
        ),
    )
    return F.coalesce(F.filter(rows, keep), F.array().cast(_META_ROW_T))


def meta_triples(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    prefixes: tuple[str, ...] = ("og:", "article:", "twitter:", "description"),
) -> DataFrame:
    """Page-level metadata triples from ``<meta property=...>`` /
    ``<meta name=...>`` tags — the OpenGraph channel (og:title, og:type,
    article:author, ...). Subject is the page url itself. Only tags whose
    property/name starts with one of ``prefixes`` are kept (the generic
    viewport/charset noise is not KG signal). Empty content drops.

    Same scale shape as :func:`jsonld_triples`: one narrow map —
    ``explode`` of the per-page :func:`meta_kernel` array. Zero shuffle,
    zero UDF.
    """
    src = pages.schema[html_col].dataType.typeName()
    html = (
        F.decode(F.col(html_col), "UTF-8") if src == "binary" else F.col(html_col)
    )
    return pages.select(
        F.col(url_col), F.explode(meta_kernel(html, prefixes)).alias("t")
    ).select(
        F.col(url_col).alias("url"),
        F.col("t.meta_idx").alias("meta_idx"),
        F.col("t.predicate").alias("predicate"),
        F.col("t.obj").alias("obj"),
    )
