"""Operator signals: what an operator decided while it ran (rounds to
convergence, hot keys dropped, the salting decision).

``emit(op, **values)`` records into ``record[op]`` of the innermost open
``collect()`` and does nothing outside one; ``op`` is the emitting
function's name ("the signal" of its docstring). A signal that costs a
Spark job of its own is computed only when ``active()``, so a call
outside any record runs the jobs it runs without signals. ``run_stage``
stores the record of each stage's ``build()`` in its manifest.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

_record: ContextVar[dict | None] = ContextVar("signals_record", default=None)


@contextmanager
def collect() -> Iterator[dict]:
    """Scope a fresh record over the block; the outer record is restored
    on exit, also on an exception."""
    token = _record.set({})
    try:
        yield _record.get()
    finally:
        _record.reset(token)


def active() -> bool:
    """True inside a ``collect()`` block."""
    return _record.get() is not None


def emit(op: str, **values) -> None:
    """Update ``record[op]`` of the innermost open record with ``values``."""
    record = _record.get()
    if record is not None:
        record.setdefault(op, {}).update(values)
