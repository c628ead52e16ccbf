"""Deterministic triple extraction: text -> (step, actor, verb, object, context).

The reference's "behavior-pattern detectors" are enforced rewrite rules in
its STAGE-1 prompt (``/root/reference/src/ai/prompt.py:46-127``) with the
output shape of ``BehaviorAction`` (``src/ai/output_format.py:43-48``).
We re-express them as a deterministic rule/pattern matcher (no LLM):

* I2 — verb whitelist: 22 exact tokens (prompt.py:69-75).
* I3 — verb normalization: launch/execute/run -> launch; drop -> create;
  beacon/call/connect -> network_connect (http_request when an HTTP URL is
  explicit) (prompt.py:77-82).
* I4 — download atomization: download/fetch/retrieve/pull SPLITS into
  (http_request | network_request) + create; fileless -> inject "in memory"
  instead of create (prompt.py:83-86, 99).
* I5 — actor resolution precedence: named group > malware family > concrete
  process; never generic (Attacker/Malware/...); pronouns resolve to the
  chosen actor and propagate across lines (prompt.py:61-67).
* I6 — literal preservation: paths/hashes/domains/IPs/URLs byte-verbatim in
  the object (prompt.py:86,104); IoC dedup keeps the clearest instance.
* I7 — speculation filter: may/might/likely/possibly sentences drop;
  one whitelist verb per output line, compound sentences split on
  and/then/;/which (prompt.py:92-99).

The extractor is a pure Python function wrapped in an Arrow-batched pandas
UDF (the only sanctioned Python path, BASELINE.md hot-path constraint); all
downstream processing (explode, dedup, linking) is Column expressions.

``SENTENCE_BANK`` is the golden fixture set (FIXTURES.md §3): each entry
pins the exact expected triples, and the synthetic pages generator embeds
exactly these sentences — so corpus goldens are derivable and P/R is
measurable at any scale.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import lru_cache

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

VERB_WHITELIST = (
    "launch", "create", "write", "read", "modify", "delete", "move", "copy",
    "inject", "network_connect", "http_request", "network_request", "dns_query",
    "persist", "escalate", "disable_security", "stop_service",
    "credential_dump", "lateral_move", "compress", "decompress", "encrypt",
    "exfiltrate",
)

# raw verb token -> normalized whitelist verb (prompt.py:77-82)
_VERB_MAP: dict[str, str] = {}
for _variants, _norm in [
    (("launch", "launches", "launched", "execute", "executes", "executed",
      "run", "runs", "ran"), "launch"),
    (("drop", "drops", "dropped", "create", "creates", "created"), "create"),
    (("write", "writes", "wrote"), "write"),
    (("read", "reads"), "read"),
    (("modify", "modifies", "modified"), "modify"),
    (("delete", "deletes", "deleted"), "delete"),
    (("copy", "copies", "copied"), "copy"),
    (("inject", "injects", "injected"), "inject"),
    (("beacon", "beacons", "beaconed", "call", "calls", "called",
      "connect", "connects", "connected"), "network_connect"),
    (("persist", "persists", "persisted"), "persist"),
    (("escalate", "escalates", "escalated"), "escalate"),
    (("disable", "disables", "disabled"), "disable_security"),
    (("stop", "stops", "stopped"), "stop_service"),
    (("compress", "compresses", "compressed"), "compress"),
    (("decompress", "decompresses", "decompressed"), "decompress"),
    (("encrypt", "encrypts", "encrypted"), "encrypt"),
    (("exfiltrate", "exfiltrates", "exfiltrated"), "exfiltrate"),
    (("dump", "dumps", "dumped"), "credential_dump"),
    (("query", "queries", "queried"), "dns_query"),
]:
    for _v in _variants:
        _VERB_MAP[_v] = _norm

_DOWNLOAD_VERBS = {
    "download", "downloads", "downloaded", "fetch", "fetches", "fetched",
    "retrieve", "retrieves", "retrieved", "pull", "pulls", "pulled",
}
_MOVE_VERBS = {"move", "moves", "moved"}
_LOAD_VERBS = {"load", "loads", "loaded"}

_SPECULATION_RE = re.compile(r"\b(may|might|likely|possibly)\b", re.IGNORECASE)
_GROUP_RE = re.compile(r"\b(APT[0-9]+|Lazarus|FIN[0-9]+|TA[0-9]+|UNC[0-9]+)\b")
_FAMILY_RE = re.compile(
    r"\b([A-Z][A-Za-z0-9]*(?:RAT|Bot|Loader|Stealer|Locker|Ware)|Emotet|Qakbot|Trickbot|Cobalt Strike)\b"
)
_PROCESS_RE = re.compile(r"\b([\w.\\:$-]+\.(?:exe|dll|ps1|bat|vbs|js|sys))\b", re.IGNORECASE)
_GENERIC_ACTORS = {
    "attacker", "adversary", "operator", "threat actor", "malware", "tool",
    "it", "the malware", "the implant", "the tool", "the attacker",
    "the adversary", "the sample", "the threat actor",
}
_HTTP_RE = re.compile(r"\bhttps?://", re.IGNORECASE)
_SENT_SPLIT_RE = re.compile(r"(?<=[.!?])\s+(?=[A-Z])|\n+")
_CLAUSE_SPLIT_RE = re.compile(r";\s+|,?\s+and then\s+|,\s+then\s+|,?\s+which\s+")
_AND_RE = re.compile(r"\s+and\s+")
_TRAIL_PUNCT_RE = re.compile(r"[\s.;,]+$")
# one merged lexicon set so the per-token loop pays a single hash lookup
# instead of up to four
_ALL_VERBS = frozenset(_VERB_MAP) | _DOWNLOAD_VERBS | _MOVE_VERBS | _LOAD_VERBS


@dataclass
class ExtractedTriple:
    step: int
    actor: str
    verb: str
    object: str
    context: str | None = None


def _strip_object(obj: str) -> str:
    """Trim trailing sentence punctuation; inner literals stay verbatim (I6)."""
    return _TRAIL_PUNCT_RE.sub("", obj).strip()


@lru_cache(maxsize=65536)
def _named_entity(text: str) -> str | None:
    """Family > group named-entity match inside a clause (prompt.py:61-67:
    when both appear, prefer the FAMILY for host-level behaviors).

    Pure function of the text; memoized because subject phrases and
    clauses repeat heavily across a templated crawl corpus, turning the
    two regex searches into one dict hit for repeats."""
    fam = _FAMILY_RE.search(text)
    if fam:
        return fam.group(1)
    grp = _GROUP_RE.search(text)
    if grp:
        return grp.group(1)
    return None


def _split_clauses(sentence: str) -> list[str]:
    """Atomic split on ';', 'and then', ', then', 'which' (prompt.py:96-99);
    plain ' and ' splits only when the remainder carries its own verb.

    The regex splits only run when a cheap substring scan finds their
    anchor words at all (every ``_CLAUSE_SPLIT_RE`` alternative contains
    ';', 'then' or 'which'; every ``_AND_RE`` match contains 'and') —
    most sentences carry none and skip both C regex passes entirely."""
    if ";" in sentence or "then" in sentence or "which" in sentence:
        parts = [p for p in _CLAUSE_SPLIT_RE.split(sentence) if p.strip()]
    else:
        parts = [sentence] if sentence.strip() else []
    out: list[str] = []
    for p in parts:
        sub = _AND_RE.split(p) if "and" in p else [p]
        if len(sub) > 1:
            acc = sub[0]
            for nxt in sub[1:]:
                first = nxt.split()
                w = first[0].lower().rstrip(".,;") if first else ""
                if w in _VERB_MAP or w in _DOWNLOAD_VERBS or w in _MOVE_VERBS or w in _LOAD_VERBS:
                    out.append(acc)
                    acc = nxt
                else:
                    acc = acc + " and " + nxt
            out.append(acc)
        else:
            out.append(p)
    return [c.strip() for c in out if c.strip()]


def _find_verb(tokens: list[str]) -> tuple[int, str] | None:
    """First lexicon verb in the clause -> (index, raw token)."""
    for i, tok in enumerate(tokens):
        w = tok.lower().rstrip(".,;:")
        if w in _ALL_VERBS:
            return i, w
    return None


def _actor_from_phrase(phrase: str, current: str | None) -> str | None:
    """Per-clause actor resolution (I5). Generic/pronoun subjects resolve to
    the propagated actor; concrete subjects update it. Resolution is
    strictly **forward-only** (the reference propagates "across all lines"
    consistently) so chunked and whole-document extraction agree."""
    p = phrase.strip().rstrip(",")
    r = _resolve_subject(p)
    return current if r is None else r


@lru_cache(maxsize=65536)
def _resolve_subject(p: str) -> str | None:
    """Pure phrase -> entity resolution (None = fall back to the
    propagated actor). Memoized: subject phrases repeat across docs."""
    if not p or p.lower() in _GENERIC_ACTORS:
        return None
    # annotated form "XenoRAT (powershell.exe)" keeps the family
    m = _named_entity(p)
    if m:
        return m
    m = _PROCESS_RE.search(p)
    if m:
        return m.group(1)
    # unknown noun phrase: fall back to the propagated actor rather than
    # emit a generic actor (ACTOR NAMING POLICY is ENFORCED)
    return None


def extract_triples(text: str) -> list[ExtractedTriple]:
    """Extract normalized behavior triples from one document's text."""
    if not text:
        return []
    triples: list[ExtractedTriple] = []
    seen: set[tuple[str, str, str]] = set()
    current: str | None = None
    step = 0

    def emit(actor: str | None, verb: str, obj: str, context: str | None = None):
        nonlocal step
        if not actor or verb not in VERB_WHITELIST:
            return
        obj = _strip_object(obj)
        if not obj:
            return
        key = (actor, verb, obj)
        if key in seen:  # IoC dedup, keep the clearest/first instance (I6)
            return
        seen.add(key)
        step += 1
        triples.append(ExtractedTriple(step, actor, verb, obj, context))

    for sentence in _SENT_SPLIT_RE.split(text):
        if _SPECULATION_RE.search(sentence):  # I7: speculative lines drop
            continue
        for clause in _split_clauses(sentence):
            tokens = clause.split()
            hit = _find_verb(tokens)
            if not hit:
                # a verb-less clause naming an entity still moves the
                # propagated actor ("APT41 deployed the GhostRAT implant."
                # -> subsequent "It ..." resolves to GhostRAT)
                ne = _named_entity(clause)
                if ne:
                    current = ne
                continue
            vi, raw = hit
            actor = _actor_from_phrase(" ".join(tokens[:vi]), current)
            if actor:
                current = actor
            obj = " ".join(tokens[vi + 1:])
            low_clause = clause.lower()

            if raw in _DOWNLOAD_VERBS:
                # I4: split into network fetch + local create (or inject when
                # fileless). "X downloads URL to PATH".
                m = re.split(r"\s+to\s+", obj, maxsplit=1)
                remote = m[0]
                remote = re.sub(r"^(?:from\s+)", "", remote)
                net_verb = "http_request" if _HTTP_RE.search(remote) else "network_request"
                emit(actor, net_verb, remote)
                if "fileless" in low_clause or "in memory" in low_clause:
                    emit(actor, "inject", remote, "in memory")
                elif len(m) > 1:
                    emit(actor, "create", m[1])
                continue

            if raw in _LOAD_VERBS:
                if "reflective" in low_clause or "in memory" in low_clause or "fileless" in low_clause:
                    obj2 = re.sub(r"\s+(?:reflectively|in memory|filelessly)\b", "", obj)
                    obj2 = re.sub(r"^(?:reflectively|filelessly)\s+", "", obj2)
                    emit(actor, "inject", obj2, "in memory")
                # plain 'load' (module) has no whitelist verb in the AI
                # vocabulary; prompt maps only fileless loads
                continue

            if raw in _MOVE_VERBS:
                if obj.lower().startswith("laterally"):
                    emit(actor, "lateral_move", obj[len("laterally"):].lstrip() or obj)
                else:
                    emit(actor, "move", obj)
                continue

            verb = _VERB_MAP[raw]
            if verb == "network_connect" and _HTTP_RE.search(obj):
                verb = "http_request"  # HTTP-explicit upgrade (prompt.py:80)
            if verb == "credential_dump":
                obj = re.sub(r"^credentials\s+(?:from\s+)?", "", obj)
            if verb == "dns_query":
                obj = re.sub(r"^(?:dns\s+for\s+|dns\s+)", "", obj, flags=re.IGNORECASE)
            if verb == "disable_security":
                pass
            if verb == "stop_service":
                obj = re.sub(r"^(?:the\s+)?service\s+", "", obj)
            emit(actor, verb, obj)
    return triples


# ---------------------------------------------------------------------------
# Chunking (reference: RecursiveCharacterTextSplitter 400/40,
# ai_agent.py:348-352, app/config.py:25-26)
# ---------------------------------------------------------------------------

def chunk_text(text: str, size: int = 400, overlap: int = 40) -> list[str]:
    """Deterministic paragraph-packing chunker.

    Deviation from the reference's recursive character splitter (documented,
    SURVEY.md H9): chunks break only at paragraph (newline) boundaries so no
    sentence — and no intra-paragraph pronoun chain — is ever bisected; an
    oversize paragraph becomes its own chunk. Trailing paragraphs up to
    ``overlap`` chars repeat into the next chunk (the reference's 40-char
    overlap). Extraction dedups (actor, verb, object) per document, so the
    overlap cannot duplicate triples (FIXTURES.md §3 chunk-bounds group).
    """
    paragraphs = [p for p in (text or "").split("\n") if p]
    chunks: list[str] = []
    cur: list[str] = []
    cur_len = 0
    for s in paragraphs:
        if cur and cur_len + len(s) + 1 > size:
            chunks.append("\n".join(cur))
            tail: list[str] = []
            tlen = 0
            for prev in reversed(cur):
                if tlen + len(prev) + 1 > overlap:
                    break
                tail.insert(0, prev)
                tlen += len(prev) + 1
            cur, cur_len = tail, tlen
        cur.append(s)
        cur_len += len(s) + 1
    if cur:
        chunks.append("\n".join(cur))
    return chunks


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

TRIPLE_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("step", T.IntegerType()),
            T.StructField("actor", T.StringType()),
            T.StructField("verb", T.StringType()),
            T.StructField("object", T.StringType()),
            T.StructField("context", T.StringType()),
        ]
    )
)


def _extract_triples_batch(texts: pd.Series) -> pd.Series:
    """Arrow-batched extraction; pure function of the text (order- and
    partition-independent)."""
    out = []
    for t in texts:
        rows = extract_triples(t if isinstance(t, str) else "")
        out.append([(r.step, r.actor, r.verb, r.object, r.context) for r in rows])
    return pd.Series(out)


def extract_triples_udf():
    """Arrow-batched UDF factory (lazy: pandas_udf needs an active session)."""
    return F.pandas_udf(_extract_triples_batch, TRIPLE_SCHEMA)


def triples_from_docs(docs: DataFrame, text_col: str = "text", id_col: str = "url") -> DataFrame:
    """docs(text) -> exploded triple rows with provenance (I9): one row per
    (url, step, actor, verb, object, context).

    ``explode_outer`` + null-filter instead of plain ``explode``: the inner
    explode makes the optimizer infer a ``size(_triples) > 0`` pre-filter
    below the Generate, and that filter re-evaluates the whole UDF chain —
    when composed over an unmaterialized upstream UDF (strip_html), every
    row paid extraction TWICE (two ArrowEvalPython nodes computing the same
    chain; VERDICT r1 wrong-item 3). The outer form infers no filter; the
    post-explode null-filter is a cheap struct check on the exploded rows.
    """
    return (
        docs.select(id_col, extract_triples_udf()(F.col(text_col)).alias("_triples"))
        .select(id_col, F.explode_outer("_triples").alias("t"))
        .filter(F.col("t").isNotNull())
        .select(
            id_col,
            F.col("t.step").alias("step"),
            F.col("t.actor").alias("actor"),
            F.col("t.verb").alias("verb"),
            F.col("t.object").alias("object"),
            F.col("t.context").alias("context"),
        )
    )


# ---------------------------------------------------------------------------
# Golden sentence bank (FIXTURES.md §3) — fixture groups keyed by rule
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class GoldenSentence:
    group: str
    text: str
    # expected (actor, verb, object) triples; context omitted from goldens
    expected: tuple[tuple[str, str, str], ...] = field(default_factory=tuple)
    # page_safe: expected triples are invariant under concatenation with
    # other bank entries (forward actor propagation cannot change them).
    # Context-dependent fixtures (generic subject with no in-entry named
    # entity) are unit-tested standalone but excluded from page assembly.
    page_safe: bool = True


SENTENCE_BANK: tuple[GoldenSentence, ...] = (
    # --- verb-map -----------------------------------------------------------
    GoldenSentence(
        "verb-map",
        "XenoRAT executed powershell.exe -enc SGVsbG8=.",
        (("XenoRAT", "launch", "powershell.exe -enc SGVsbG8="),),
    ),
    GoldenSentence(
        "verb-map",
        "Emotet dropped C:\\ProgramData\\update.dll on the host.",
        (("Emotet", "create", "C:\\ProgramData\\update.dll on the host"),),
    ),
    GoldenSentence(
        "verb-map",
        "Qakbot beacons to 185.220.101.45:443 every 60 seconds.",
        (("Qakbot", "network_connect", "to 185.220.101.45:443 every 60 seconds"),),
    ),
    GoldenSentence(
        "verb-map",
        "Trickbot connects to https://cdn.badhost.example/gate.php for tasking.",
        (("Trickbot", "http_request", "to https://cdn.badhost.example/gate.php for tasking"),),
    ),
    GoldenSentence(
        "verb-map",
        "LokiStealer wrote HKCU\\Software\\Run\\Updater to the registry. The implant encrypted D:\\finance\\reports with AES-256.",
        (
            ("LokiStealer", "write", "HKCU\\Software\\Run\\Updater to the registry"),
            ("LokiStealer", "encrypt", "D:\\finance\\reports with AES-256"),
        ),
    ),
    # --- download-split ------------------------------------------------------
    GoldenSentence(
        "download-split",
        "APT29 downloaded http://staging.evil.example/p.bin to C:\\Users\\Public\\p.bin.",
        (
            ("APT29", "http_request", "http://staging.evil.example/p.bin"),
            ("APT29", "create", "C:\\Users\\Public\\p.bin"),
        ),
    ),
    GoldenSentence(
        "download-split",
        "GooseLoader fetched ftp://files.badcdn.example/stage2.dat to C:\\temp\\stage2.dat.",
        (
            ("GooseLoader", "network_request", "ftp://files.badcdn.example/stage2.dat"),
            ("GooseLoader", "create", "C:\\temp\\stage2.dat"),
        ),
    ),
    # --- fileless ------------------------------------------------------------
    GoldenSentence(
        "fileless",
        "CobaltBot retrieved https://drop.evil.example/beacon.bin fileless in memory.",
        (
            ("CobaltBot", "http_request", "https://drop.evil.example/beacon.bin fileless in memory"),
            ("CobaltBot", "inject", "https://drop.evil.example/beacon.bin fileless in memory"),
        ),
    ),
    GoldenSentence(
        "fileless",
        "SilentWare loaded shellcode.bin reflectively into explorer.exe.",
        (("SilentWare", "inject", "shellcode.bin into explorer.exe"),),
    ),
    # --- actor-precedence ----------------------------------------------------
    GoldenSentence(
        "actor-precedence",
        "APT41 deployed the GhostRAT implant. It created C:\\Windows\\Tasks\\gh.job for persistence.",
        (("GhostRAT", "create", "C:\\Windows\\Tasks\\gh.job for persistence"),),
    ),
    GoldenSentence(
        "actor-precedence",
        "The malware injected its payload into svchost.exe after startup.",
        (),  # no resolvable actor in isolation -> depends on doc context
        page_safe=False,
    ),
    GoldenSentence(
        "actor-precedence",
        "rundll32.exe executed C:\\tmp\\mod.dll,EntryPoint silently.",
        (("rundll32.exe", "launch", "C:\\tmp\\mod.dll,EntryPoint silently"),),
    ),
    # --- atomic-split --------------------------------------------------------
    GoldenSentence(
        "atomic-split",
        "WormBot copied itself to \\\\fileserv\\share\\w.exe and then deleted C:\\staging\\w0.exe.",
        (
            ("WormBot", "copy", "itself to \\\\fileserv\\share\\w.exe"),
            ("WormBot", "delete", "C:\\staging\\w0.exe"),
        ),
    ),
    GoldenSentence(
        "atomic-split",
        "RatLoader stopped the service WinDefend; modified HKLM\\SYSTEM\\CurrentControlSet\\Services\\WinDefend\\Start.",
        (
            ("RatLoader", "stop_service", "WinDefend"),
            ("RatLoader", "modify", "HKLM\\SYSTEM\\CurrentControlSet\\Services\\WinDefend\\Start"),
        ),
    ),
    GoldenSentence(
        "atomic-split",
        "IceRAT compressed D:\\docs into C:\\tmp\\a.zip and exfiltrated C:\\tmp\\a.zip over DNS.",
        (
            ("IceRAT", "compress", "D:\\docs into C:\\tmp\\a.zip"),
            ("IceRAT", "exfiltrate", "C:\\tmp\\a.zip over DNS"),
        ),
    ),
    # --- literal-preserve ----------------------------------------------------
    GoldenSentence(
        "literal-preserve",
        "NightStealer exfiltrated SHA256 e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855 to drop.collector.example.",
        (
            (
                "NightStealer",
                "exfiltrate",
                "SHA256 e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855 to drop.collector.example",
            ),
        ),
    ),
    GoldenSentence(
        "literal-preserve",
        "KrakenBot queried DNS for cdn.update-check.example from 10.4.2.17.",
        (("KrakenBot", "dns_query", "cdn.update-check.example from 10.4.2.17"),),
    ),
    # --- speculation-drop ----------------------------------------------------
    GoldenSentence(
        "speculation-drop",
        "The sample may connect to additional infrastructure in future campaigns.",
        (),
    ),
    GoldenSentence(
        "speculation-drop",
        "Analysts believe the actor might exfiltrate data over ICMP, possibly using covert channels.",
        (),
    ),
    # --- entity-normalize (defang literal kept verbatim in object; linking
    #     canonicalizes later, ai_agent.py:389-403) -----------------------------
    GoldenSentence(
        "entity-normalize",
        "VenomRAT beacons to evil[.]command-server[.]example on port 8443.",
        (("VenomRAT", "network_connect", "to evil[.]command-server[.]example on port 8443"),),
    ),
    # --- misc coverage: remaining whitelist verbs ------------------------------
    GoldenSentence(
        "verb-map",
        "BlackWare escalated privileges via CVE-2024-21338. BlackWare disabled Windows Defender real-time monitoring.",
        (
            ("BlackWare", "escalate", "privileges via CVE-2024-21338"),
            ("BlackWare", "disable_security", "Windows Defender real-time monitoring"),
        ),
    ),
    GoldenSentence(
        "verb-map",
        "LsassRAT dumped credentials from lsass.exe memory. LsassRAT read C:\\Windows\\NTDS\\ntds.dit directly.",
        (
            ("LsassRAT", "credential_dump", "lsass.exe memory"),
            ("LsassRAT", "read", "C:\\Windows\\NTDS\\ntds.dit directly"),
        ),
    ),
    GoldenSentence(
        "verb-map",
        "PivotBot moves laterally to HR-WS-042 via SMB admin shares.",
        (("PivotBot", "lateral_move", "to HR-WS-042 via SMB admin shares"),),
    ),
    GoldenSentence(
        "verb-map",
        "TunnelRAT moved C:\\staging\\out.dat to E:\\exfil\\out.dat quietly.",
        (("TunnelRAT", "move", "C:\\staging\\out.dat to E:\\exfil\\out.dat quietly"),),
    ),
    GoldenSentence(
        "verb-map",
        "ArchiveRAT decompressed C:\\tmp\\pack.gz into C:\\tmp\\tools. ArchiveRAT persisted via HKLM Run key Updater2.",
        (
            ("ArchiveRAT", "decompress", "C:\\tmp\\pack.gz into C:\\tmp\\tools"),
            ("ArchiveRAT", "persist", "via HKLM Run key Updater2"),
        ),
    ),
)
