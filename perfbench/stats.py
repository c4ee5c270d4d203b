"""Summary statistics shared by the workloads."""

from __future__ import annotations

import math
import statistics


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it: the
    11th-largest value.  Below 21 samples that percentile would not lie
    above the median, so the maximum is reported, with ``percentile``
    100."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return {"value": 0.0, "percentile": None, "n": 0}
    if n < 21:
        return {"value": v[-1], "percentile": 100.0, "n": n}
    k = n - 11
    return {"value": v[k], "percentile": round(100.0 * (k + 1) / n, 2), "n": n}


def geomean(values) -> float:
    values = list(values)
    return math.exp(statistics.fmean(math.log(v) for v in values)) if values else 0.0


def kinds_geomean(by_kind: dict[str, list[float]], stat) -> float:
    """The geometric mean, over the kinds with samples, of ``stat`` of
    each kind's samples.  Each kind weighs the same whatever its share
    of the mix, so the figure does not jump between kinds when their
    sample counts shift, as a plain median over a mix does."""
    return geomean(stat(v) for v in by_kind.values() if v)
