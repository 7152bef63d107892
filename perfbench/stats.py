"""Summary statistics and the metric-name grammar the benchmark reports in.

Pure functions with no Spark dependency, so the unit tests in
``perfbench/tests`` exercise them without a session.
"""

from __future__ import annotations

import math
import re

# A metric name starts with a letter or digit and is at most 64 letters,
# digits, ``_``, ``.`` and ``-``; a unit is at most 16 letters, digits,
# ``_``, ``/``, ``%``, ``.`` and ``-``.
_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}")
_UNIT = re.compile(r"[A-Za-z0-9_/%.\-]{1,16}")

# Percentiles (in whole percent) a tail may be reported at, highest first.
TAIL_LADDER = (99, 95, 90, 75, 50)
MIN_BEYOND = 10


def valid_metric_name(name: str) -> bool:
    return bool(_NAME.fullmatch(name))


def valid_unit(unit: str) -> bool:
    return bool(_UNIT.fullmatch(unit))


def quantile(samples: list[float], q: float) -> float:
    """Linear-interpolated quantile (the ``inclusive`` method of
    :func:`statistics.quantiles`) of a non-empty sample."""
    if not samples:
        raise ValueError("quantile of an empty sample")
    xs = sorted(samples)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, pct: int) -> int:
    """How many of ``n`` samples lie beyond the ``pct``-th percentile."""
    return n * (100 - pct) // 100


def tail_percentile(n: int) -> int | None:
    """The highest percentile on :data:`TAIL_LADDER` with at least
    :data:`MIN_BEYOND` of ``n`` samples beyond it, or ``None`` when even
    the median has fewer."""
    for pct in TAIL_LADDER:
        if samples_beyond(n, pct) >= MIN_BEYOND:
            return pct
    return None


def describe_latency(samples: list[float]) -> dict:
    """Median and p90 of per-call latencies, with the sample count and
    the highest percentile the count supports (``tail_pct``)."""
    return {
        "n": len(samples),
        "p50": quantile(samples, 0.5),
        "p90": quantile(samples, 0.9),
        "tail_pct": tail_percentile(len(samples)),
    }


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the part of its
    interval its child spans cover, summed by layer (the span-name prefix
    before the first dot)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = 0.0
        last_end = s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo = max(c["start"], last_end)
            hi = min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                last_end = hi
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"] - covered)
    return out
