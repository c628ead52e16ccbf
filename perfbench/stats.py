"""The tail percentile the benchmark reports."""

from __future__ import annotations

TAIL_BEYOND = 10


def tail(values: list[float]) -> dict:
    """The highest percentile that still has at least ``TAIL_BEYOND``
    samples above it: with ``n`` sorted samples that is the
    ``(n - TAIL_BEYOND)``-th, reported as percentile
    ``100 * (n - TAIL_BEYOND) / n``.

    With ``n <= TAIL_BEYOND`` no percentile qualifies; the maximum is returned
    as percentile 100 and ``rule_met`` is false, so the output says the
    tail rests on fewer samples than the rule asks for."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= TAIL_BEYOND:
        return {"value": xs[-1], "percentile": 100.0, "n": n,
                "n_beyond": 0, "rule_met": False}
    k = n - TAIL_BEYOND  # 1-based rank of the reported sample
    return {"value": xs[k - 1], "percentile": round(100.0 * k / n, 3), "n": n,
            "n_beyond": n - k, "rule_met": True}
