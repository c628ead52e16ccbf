"""Exactly-once state ledger: the one commit protocol of every delta
applier (crawl, media and webtext deltas, the streaming sinks, the
embedding trainer).

An applier keeps its state in one directory: immutable data directories
under ``v{N}/`` plus one JSON state file, ``_state.json``, that names the
live ones and carries the applied-delta ledger. One apply is

1. :func:`load` the state, :func:`gc` every directory it does not name,
   and stop if the delta id is already in the ledger;
2. write the new data directories under a fresh ``v{N}/``;
3. :func:`commit` the new state — one tmp write plus ``os.replace``,
   atomic on one filesystem, so the data and the ledger entry go live
   together;
4. :func:`gc` what the new state no longer names.

A crash before step 3 leaves the old state intact and only unnamed
directories behind; a crash after it leaves the new state live, and the
redelivered delta is a ledger no-op. Either way the next call's step 1
collects the leftovers, so a delta folds in exactly once and a weight or
count can never double. Single writer: whatever the state does not name
is dead.
"""

from __future__ import annotations

import copy
import json
import os
import re
import shutil
from typing import Callable, Iterable

from pyspark.sql import DataFrame

STATE = "_state.json"
COMPACT_PARTS = 32

_VERSION_DIR = re.compile(r"v\d+")


def load(workdir: str, empty: dict | None = None) -> dict:
    """The committed state at ``workdir``, or a copy of ``empty`` (``{}``
    by default) when nothing is committed yet."""
    p = os.path.join(workdir, STATE)
    if not os.path.exists(p):
        return copy.deepcopy(empty or {})
    with open(p) as f:
        return json.load(f)


def commit(workdir: str, st: dict) -> None:
    """Make ``st`` the committed state: one atomic rename."""
    os.makedirs(workdir, exist_ok=True)
    tmp = os.path.join(workdir, STATE + ".tmp")
    with open(tmp, "w") as f:
        json.dump(st, f, indent=1)
    os.replace(tmp, os.path.join(workdir, STATE))


def gc(workdir: str, live: Iterable[str]) -> None:
    """Remove every directory under ``v*/`` that is neither a ``live``
    path (relative to ``workdir``) nor an ancestor of one: superseded
    versions, superseded children of a live version, and crash orphans."""
    live = {os.path.normpath(r) for r in live}
    ancestors = set()
    for r in live:
        while (r := os.path.dirname(r)):
            ancestors.add(r)

    def sweep(rel: str, names: list[str]) -> None:
        for name in names:
            child = os.path.join(rel, name)
            path = os.path.join(workdir, child)
            if child in live or not os.path.isdir(path):
                continue
            if child in ancestors:
                sweep(child, os.listdir(path))
            else:
                shutil.rmtree(path, ignore_errors=True)

    if os.path.isdir(workdir):
        sweep("", [n for n in os.listdir(workdir) if _VERSION_DIR.fullmatch(n)])


def append_part(
    workdir: str,
    parts: list[str],
    rel: str,
    df: DataFrame,
    combine: Callable[[DataFrame], DataFrame] | None = None,
) -> list[str]:
    """Write ``df`` as the part ``rel`` and return ``parts`` plus it.
    Past ``COMPACT_PARTS`` parts they fold into one ``{rel}_compact``
    part (amortized: once per ``COMPACT_PARTS`` appends); ``combine``
    re-aggregates their union where the read view would (e.g. summing
    per-key increments)."""
    df.write.mode("overwrite").parquet(os.path.join(workdir, rel))
    parts = parts + [rel]
    if len(parts) <= COMPACT_PARTS:
        return parts
    total = df.sparkSession.read.parquet(
        *[os.path.join(workdir, r) for r in parts])
    if combine is not None:
        total = combine(total)
    crel = rel + "_compact"
    total.write.mode("overwrite").parquet(os.path.join(workdir, crel))
    return [crel]
