"""Pure helpers of the benchmark: statistics, interval arithmetic, span
self times, layer attribution and metric-name checks.

Nothing here imports Spark, so ``test_helpers.py`` runs without a JVM.
"""

from __future__ import annotations

import math
import re
import statistics

LAYERS = ("operators", "llm", "plans", "sources", "streaming", "functions")
PACKAGE = "satellite_data_ingestion_spark"

_NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def check_metric_name(name: str) -> str:
    """Return ``name`` if it is a valid metric or workload name, else raise."""
    if not isinstance(name, str) or not _NAME_RE.fullmatch(name):
        raise ValueError(f"invalid metric name {name!r}: need [A-Za-z0-9][A-Za-z0-9_.-]{{0,63}}")
    return name


def layer_of(module: str) -> str:
    """The subpackage of ``satellite_data_ingestion_spark`` that defines
    ``module`` (a query function's ``__module__``)."""
    parts = module.split(".")
    if len(parts) < 3 or parts[0] != PACKAGE or parts[1] not in LAYERS:
        raise ValueError(f"{module!r} is not inside one of {PACKAGE}.{{{','.join(LAYERS)}}}")
    return parts[1]


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartiles(values) -> tuple[float, float, float]:
    """First quartile, median and third quartile, as
    ``statistics.quantiles(values, n=4)`` gives them."""
    values = list(values)
    if len(values) < 2:
        v = median(values)
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def relative_spread(values) -> float:
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else math.inf


def union_length(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered_within(intervals, lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    return union_length((max(s, lo), min(e, hi)) for s, e in intervals)


def assign_parents(spans: list[dict]) -> None:
    """Set ``parent`` on every span of one query call.

    Spans carry ``id``, ``rank`` (0 for the query itself, larger for
    deeper layers), ``start`` and ``end``.  A span's parent is the span of
    the next lower rank present whose half-open interval holds the span's start,
    preferring the latest started; the query span (rank 0) is the root.
    """
    by_rank = sorted(spans, key=lambda s: (s["rank"], s["start"]))
    for sp in by_rank:
        if sp["rank"] == 0:
            sp["parent"] = None
            continue
        best = None
        for cand in by_rank:
            if cand["rank"] >= sp["rank"]:
                break
            if cand["start"] <= sp["start"] < cand["end"]:
                if best is None or (cand["rank"], cand["start"]) > (best["rank"], best["start"]):
                    best = cand
        if best is None:  # starts before the call: hang it off the root
            best = by_rank[0]
        sp["parent"] = best["id"]


def self_times(spans: list[dict]) -> dict:
    """Exclusive time of each span of one query call.

    Every instant of the root span's interval is credited to exactly one
    span: the deepest one active then (ties to the latest started).  A
    span's self time is thus its duration minus the part its descendants
    cover, clipped to its parent chain, and the self times of a call sum to
    its wall time even when sibling spans overlap.
    """
    if not spans:
        return {}
    by_id = {s["id"]: s for s in spans}
    root = next(s for s in spans if s.get("parent") is None)
    lo, hi = root["start"], root["end"]

    # Effective interval: clipped to every ancestor's interval.
    eff = {}
    depth = {}

    def resolve(sp):
        if sp["id"] in eff:
            return eff[sp["id"]]
        if sp.get("parent") is None:
            iv, d = (lo, hi), 0
        else:
            p = by_id[sp["parent"]]
            (ps, pe), d = resolve(p), depth[p["id"]] + 1
            iv = (max(sp["start"], ps), min(sp["end"], pe))
        eff[sp["id"]], depth[sp["id"]] = iv, d
        return iv

    for sp in spans:
        resolve(sp)

    out = {s["id"]: 0.0 for s in spans}
    cuts = sorted({t for s, e in eff.values() if e > s for t in (s, e)} | {lo, hi})
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        owner = None
        for sp in spans:
            s, e = eff[sp["id"]]
            if s <= a and b <= e and e > s:
                key = (depth[sp["id"]], sp["start"])
                if owner is None or key > owner[0]:
                    owner = (key, sp["id"])
        if owner is not None:
            out[owner[1]] += b - a
    return out


_SIZE_RE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB|PiB)\b")
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50}


def parse_size_metric(text: str) -> float:
    """Bytes in a formatted Spark SQL size metric: either ``"16.1 MiB"``
    or the multi-task form ``"total (min, med, max ...)\\n16.1 MiB (...)"``,
    whose first size is the total."""
    m = _SIZE_RE.search(text or "")
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]


def last_place_tol(places: int) -> float:
    """Float tolerance admitting one unit in the last of ``places``
    decimals: summation order can flip ``round(avg, places)`` on ties."""
    return 10.0 ** (-places) * (1 + 1e-6)


# Counters every layer gets, with their units.
LAYER_COUNTERS = {
    "fn_s": "s",
    "action_s": "s",
    "driver_self_s": "s",
    "jobs": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "jvm_gc_s": "s",
    "shuffle_write_mb": "MB",
    "fetch_wait_s": "s",
    "spill_mb": "MB",
    "input_mb": "MB",
    "output_mb": "MB",
    "python_mb": "MB",
    "persisted_rdds_left": "count",
}
EXTRA_COUNTERS = {
    "streaming.triggers": "count",
    "streaming.trigger_s": "s",
    "streaming.commit_s": "s",
    "streaming.lifecycle_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "catalog.calls": "count",
    "catalog.s": "s",
    "trace_overhead": "ratio",
    "spark.parallel_speedup": "ratio",
    "driver.peak_rss_mb": "MB",
}


def per_layer_metric_units() -> dict:
    """Every per-layer metric name mapped to its unit, in report order."""
    out = {f"{layer}.{c}": u for layer in LAYERS for c, u in LAYER_COUNTERS.items()}
    out.update(EXTRA_COUNTERS)
    return out
