"""Pure helpers shared by the workloads: percentiles, progress-log
summaries, span self times. No Spark import, so the unit
tests run without a session."""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence


def percentile(values: Iterable[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``p``
    percent of the samples at or below it. Raises on an empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return float(xs[rank - 1])


def median(values: Iterable[float]) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of an empty sample")
    mid = len(xs) // 2
    return float(xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0)


def tail_mean(values: Iterable[float], share: float = 0.25) -> float:
    """Mean of the slowest ``share`` of the samples (at least one): a
    tail measure that averages several samples instead of reading one
    order statistic, which jumps between clusters of query times."""
    xs = sorted(values, reverse=True)
    if not xs:
        raise ValueError("tail mean of an empty sample")
    k = max(1, math.ceil(share * len(xs)))
    return float(sum(xs[:k]) / k)


def geomean(values: Iterable[float]) -> float:
    """Geometric mean of positive values: every sample moves it, so a
    few heterogeneous samples (twenty different queries) do not make it
    jump between clusters the way a middle order statistic does."""
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def progress_summary(progress: Sequence[dict]) -> dict:
    """Per-trigger phase medians and per-state-operator totals from a
    list of ``StreamingQueryProgress`` JSON dicts.

    State operators are keyed by their index in ``stateOperators`` so
    two operators of the same name (the two ``dedupe`` instances of
    ``full_stream``) stay apart.
    """
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    out: dict = {
        "triggers": len(progress),
        "data_triggers": len(data),
        "no_data_triggers": len(progress) - len(data),
        "rows": sum(p.get("numInputRows", 0) for p in progress),
        "phase_ms_p50": {},
        "trigger_ms": [p["durationMs"].get("triggerExecution", 0) for p in progress],
        "batch_rows": [p["numInputRows"] for p in data],
        "state": [],
    }
    phases = sorted({k for p in progress for k in p.get("durationMs", {})})
    for ph in phases:
        vals = [p["durationMs"][ph] for p in progress if ph in p["durationMs"]]
        out["phase_ms_p50"][ph] = median(vals)
    n_ops = max((len(p.get("stateOperators", [])) for p in progress), default=0)
    for i in range(n_ops):
        ops = [p["stateOperators"][i] for p in progress if len(p.get("stateOperators", [])) > i]
        last = ops[-1]
        out["state"].append(
            {
                "index": i,
                "name": last.get("operatorName", "?"),
                "rows_total": last.get("numRowsTotal", 0),
                "mem_mb": max(o.get("memoryUsedBytes", 0) for o in ops) / 2**20,
                "commit_ms_p50": median(o.get("commitTimeMs", 0) for o in ops),
                "dropped_by_watermark": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
                "dropped_duplicates": sum(
                    o.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for o in ops
                ),
            }
        )
    return out


def self_times(spans: Sequence[dict]) -> dict[str, float]:
    """Seconds of each span name not covered by its child spans,
    summed over every span of that name."""
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur = 0.0, lo
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], cur), min(c["end"], hi)
            if b > a:
                covered += b - a
                cur = b
        out[s["name"]] = out.get(s["name"], 0.0) + (hi - lo) - covered
    return out


def quartile_spread(values: Sequence[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles of
    ``statistics.quantiles(values, n=4)``."""
    import statistics

    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("nan")
