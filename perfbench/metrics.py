"""Turns one run's execution records into the benchmark's metrics.

Pure functions over plain dicts, so they are tested without Spark.
"""

from __future__ import annotations

import math
import statistics

# Latency summaries.  A run is one cold pass: 22-23 samples of a fixed
# query mix whose latencies span an order of magnitude.  Its median or
# 75th percentile is one or two order statistics, and which query sits at
# that rank changes with the seed's order and with host noise: over ten
# seeds on a 4-core shared host they moved 15-30% (interquartile range
# over the median).  The geometric mean (the TPC-H power-test summary:
# every query counts alike, short or long) and the mean of the slowest
# quarter average over all samples and over the whole tail; on five cold
# tpch runs they moved 8% and 4% where the median moved 15%.
TAIL_SHARE = 0.25
STATUSES = ("ok", "failed", "timeout", "wrong_result")


def geomean(values: list[float]) -> float:
    if not values:
        return math.nan
    return math.exp(math.fsum(math.log(v) for v in values) / len(values))


def tail_mean(values: list[float], share: float = TAIL_SHARE) -> float:
    """Mean of the slowest ``share`` of the samples (at least one)."""
    xs = sorted(values, reverse=True)
    if not xs:
        return math.nan
    return statistics.fmean(xs[:max(1, math.ceil(len(xs) * share))])


def unrun(queries: tuple[str, ...], records: list[dict]) -> list[dict]:
    """Failed records for the queries a broken pass never reached, so a
    dead session cannot shrink the denominator."""
    if not records:
        return [{"query": q, "pass": 0, "status": "failed",
                 "error": "NotRun", "wall_ms": None} for q in queries]
    last = records[-1]["pass"]
    done = {r["query"] for r in records if r["pass"] == last}
    return [{"query": q, "pass": last, "status": "failed", "error": "NotRun",
             "wall_ms": None} for q in queries if q not in done]


def end_to_end(records: list[dict], summary: dict) -> dict[str, float]:
    # only ok executions are latency samples
    ok = [r["wall_ms"] for r in records if r["status"] == "ok"]
    passes = max(1, summary.get("passes", 0))
    return {
        "setup_s": summary["setup_s"],
        "qps": len(ok) / summary["measured_s"],
        "latency_geomean_ms": geomean(ok),
        "latency_tail_mean_ms": tail_mean(ok),
        "ok_frac": len(ok) / len(records),
        "cpu_s": summary["cpu_s"] / passes,
        "peak_rss_mb": summary["peak_rss_mb"],
    }


E2E_UNITS = {
    "setup_s": "s", "qps": "queries/s", "latency_geomean_ms": "ms",
    "latency_tail_mean_ms": "ms", "ok_frac": "ratio", "cpu_s": "s",
    "peak_rss_mb": "MB",
}


def status_counts(records: list[dict]) -> dict[str, int]:
    return {s: sum(r["status"] == s for r in records) for s in STATUSES}


def non_ok(records: list[dict]) -> dict[str, list[str]]:
    """Every non-ok query by name, with its status and error class."""
    out: dict[str, list[str]] = {}
    for r in records:
        if r["status"] != "ok":
            out.setdefault(r["query"], []).append(
                f"{r['status']}:{r.get('error')}")
    return out
