"""Pure metric derivations. Nothing here touches Spark: every function takes
plain numbers or already-parsed JSON records (Spark event-log lines,
``StreamingQueryProgress`` dicts), so each rule is tested on synthetic
records in ``perfbench/tests``.
"""

from __future__ import annotations

import math
import statistics
from collections import Counter, defaultdict
from collections.abc import Iterable, Sequence

import numpy as np

#: a percentile is reported only when at least this many samples lie beyond it
MIN_BEYOND = 10


def percentile(samples: Sequence[float], q: float, min_beyond: int = MIN_BEYOND) -> float | None:
    """The ``q``-quantile (0 < q < 1) of ``samples`` by linear interpolation,
    or None when fewer than ``min_beyond`` samples lie beyond it — a p90
    needs at least 100 samples. The median (q=0.5) needs ``2*min_beyond``."""
    n = len(samples)
    if n == 0 or n * (1.0 - q) < min_beyond - 1e-9:
        return None
    xs = sorted(samples)
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def top_percentile(samples: Sequence[float], min_beyond: int = MIN_BEYOND) -> tuple[float, float] | tuple[None, None]:
    """The highest percentile the sample supports, as (q, value): the one
    with exactly ``min_beyond`` samples beyond it. (None, None) when there
    are fewer than ``2 * min_beyond`` samples (not even a median)."""
    n = len(samples)
    if n < 2 * min_beyond:
        return None, None
    q = 1.0 - min_beyond / n
    return q, percentile(samples, q, min_beyond)


def segment_latencies(
    due_s: Sequence[float], bounds: Sequence[int], sink_times: Sequence[Sequence[float]]
) -> list[float]:
    """Latency of each generator segment: from the time it was due to the
    sink timestamp of its last result in any sink. ``bounds[i]:bounds[i+1]``
    are the event ids of segment ``i``; ``sink_times[k][e]`` is the time
    event ``e`` was written to sink ``k`` (NaN when missing — the segment
    then has no latency and is left out)."""
    out = []
    for i, due in enumerate(due_s):
        lo, hi = bounds[i], bounds[i + 1]
        lasts = [float(np.max(times[lo:hi])) for times in sink_times]
        if not any(math.isnan(t) for t in lasts):
            out.append(max(lasts) - due)
    return out


def backlog(generated: Sequence[tuple[float, int]], consumed: Sequence[tuple[float, int]]) -> int:
    """Largest backlog seen at a cycle end: events generated by then minus
    events the system had consumed by then. ``generated`` is a
    non-decreasing step series of (time, cumulative count); ``consumed`` has
    one (cycle end time, cumulative consumed) per cycle."""
    worst = 0
    for t, done in consumed:
        made = 0
        for tg, n in generated:
            if tg > t:
                break
            made = n
        worst = max(worst, made - done)
    return worst


def union_length(spans: Iterable[tuple[float, float]], lo: float = -math.inf, hi: float = math.inf) -> float:
    """Total length covered by ``spans`` (start, end), clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in spans):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(wall: tuple[float, float], job_spans: Iterable[tuple[float, float]]) -> float:
    """Time inside the ``wall`` window (start, end) that no Spark job
    covers: planning, Python and driver round-trips between jobs."""
    lo, hi = wall
    return (hi - lo) - union_length(job_spans, lo, hi)


def reconcile_error(parts: Iterable[float], total: float) -> float:
    """Relative gap between a sum of layer terms and the wall time they
    should add up to."""
    return abs(sum(parts) - total) / total if total > 0 else math.inf


# --- Spark event log ---------------------------------------------------------


def parse_event_log(lines: Iterable[str | dict]) -> dict:
    """Fold event-log records into jobs, stages and per-stage task figures.

    Returns ``{"jobs": {id: {"group", "start", "end"}}, "stages": {(id,
    attempt): {...}}}`` with times in seconds since the epoch and every
    task counter summed per stage."""
    import json

    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = defaultdict(
        lambda: {
            "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "fetch_wait_s": 0.0,
            "spill_bytes": 0, "input_bytes": 0, "input_rows": 0, "input_run_s": 0.0,
            "task_s": [],
        }
    )
    for line in lines:
        ev = json.loads(line) if isinstance(line, str) else line
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "stages": ev.get("Stage IDs", []),
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            st = stages[(ev["Stage ID"], ev.get("Stage Attempt ID", 0))]
            info = ev["Task Info"]
            sr = m.get("Shuffle Read Metrics", {})
            sw = m.get("Shuffle Write Metrics", {})
            inp = m.get("Input Metrics", {})
            st["tasks"] += 1
            st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000.0
            st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            if inp.get("Bytes Read", 0) or inp.get("Records Read", 0):
                st["input_bytes"] += inp.get("Bytes Read", 0)
                st["input_rows"] += inp.get("Records Read", 0)
                st["input_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            st["task_s"].append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
    return {"jobs": jobs, "stages": dict(stages)}


def restrict(log: dict, lo: float, hi: float) -> dict:
    """The finished jobs that ran inside [lo, hi], and their stages."""
    jobs = {
        i: j for i, j in log["jobs"].items()
        if j["end"] is not None and j["start"] >= lo and j["end"] <= hi
    }
    keep = {s for j in jobs.values() for s in j["stages"]}
    return {"jobs": jobs, "stages": {k: v for k, v in log["stages"].items() if k[0] in keep}}


def engine_metrics(log: dict, windows: Sequence[tuple[float, float]]) -> dict[str, float]:
    """Engine-layer totals over a parsed event log, and the driver gap summed
    over the measured ``windows`` (one (start, end) per pass or cycle)."""
    jobs = [j for j in log["jobs"].values() if j["end"] is not None]
    stages = log["stages"].values()
    spans = [(j["start"], j["end"]) for j in jobs]
    skews = [
        max(st["task_s"]) / statistics.median(st["task_s"])
        for st in stages
        if len(st["task_s"]) > 1 and statistics.median(st["task_s"]) > 0
    ]
    wall = sum(hi - lo for lo, hi in windows)
    covered = sum(union_length(spans, lo, hi) for lo, hi in windows)
    gap = sum(driver_gap(w, spans) for w in windows)
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(log["stages"]),
        "spark.tasks": sum(st["tasks"] for st in stages),
        "spark.executor_run_s": sum(st["run_s"] for st in stages),
        "spark.executor_cpu_s": sum(st["cpu_s"] for st in stages),
        "spark.gc_s": sum(st["gc_s"] for st in stages),
        "spark.shuffle_write_bytes": sum(st["shuffle_write_bytes"] for st in stages),
        "spark.shuffle_read_bytes": sum(st["shuffle_read_bytes"] for st in stages),
        "spark.fetch_wait_s": sum(st["fetch_wait_s"] for st in stages),
        "spark.spill_bytes": sum(st["spill_bytes"] for st in stages),
        "spark.task_skew": max(skews, default=1.0),
        "spark.job_union_s": covered,
        "spark.driver_gap_s": gap,
        "spark.reconcile_err": reconcile_error([covered, gap], wall) if wall else 0.0,
        "sources.scan_bytes": sum(st["input_bytes"] for st in stages),
        "sources.scan_rows": sum(st["input_rows"] for st in stages),
        "sources.scan_s": sum(st["input_run_s"] for st in stages),
    }


def job_group_spans(log: dict) -> dict[str, list[tuple[float, float]]]:
    """Job spans keyed by the job group the bench set around each call."""
    out: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for j in log["jobs"].values():
        if j["group"] and j["end"] is not None:
            out[j["group"]].append((j["start"], j["end"]))
    return dict(out)


# --- Structured Streaming progress ------------------------------------------

#: durationMs terms grouped the way the per-layer metrics report them
PROGRESS_TERMS = {
    "plan_ms": ("queryPlanning",),
    "offsets_ms": ("latestOffset", "getBatch"),
    "commit_ms": ("walCommit", "commitOffsets"),
    "add_batch_ms": ("addBatch",),
}


def progress_metrics(progress: Sequence[dict], serve_ids: set[str], cycle_s: Sequence[float]) -> dict[str, float]:
    """Split micro-batch progress records (``StreamingQueryProgress`` as a
    dict) between the serve query (``id`` in ``serve_ids``) and the others,
    and reconcile the summed ``triggerExecution`` with the cycle walls."""
    out: dict[str, float] = Counter()
    trigger_ms = 0.0
    for p in progress:
        d = p.get("durationMs", {})
        trigger_ms += d.get("triggerExecution", 0)
        if p["id"] in serve_ids:
            out["serve.add_batch_ms"] += d.get("addBatch", 0)
            out["serve.rows"] += p.get("numInputRows", 0)
            continue
        for name, keys in PROGRESS_TERMS.items():
            out[f"streaming.{name}"] += sum(d.get(k, 0) for k in keys)
        out["streaming.rows"] += p.get("numInputRows", 0)
        for so in p.get("stateOperators", []):
            out["streaming.state_rows"] = max(out["streaming.state_rows"], so.get("numRowsTotal", 0))
            out["streaming.state_mem_bytes"] = max(out["streaming.state_mem_bytes"], so.get("memoryUsedBytes", 0))
    wall = sum(cycle_s)
    out["streaming.trigger_s"] = trigger_ms / 1000.0
    out["streaming.start_overhead_s"] = wall - trigger_ms / 1000.0
    out["streaming.reconcile_err"] = reconcile_error([out["streaming.start_overhead_s"], trigger_ms / 1000.0], wall) if wall else 0.0
    return dict(out)


# --- output fingerprints -----------------------------------------------------


def norm_cell(v) -> str:
    """One output cell in the normalization of the repository's oracle
    gate: None, NaN, floats by repr, nested lists, bytes as hex."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def multiset(cols: Sequence[str], rows: Iterable[Sequence]) -> Counter:
    """Order-insensitive row multiset over name-sorted columns."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter("|".join(norm_cell(r[i]) for i in order) for r in rows)


def fingerprint(cols: Sequence[str], rows: Iterable[Sequence]) -> str:
    """Stable digest of :func:`multiset`, comparable across engines."""
    import hashlib

    h = hashlib.sha256("|".join(sorted(cols)).encode())
    for row, n in sorted(multiset(cols, rows).items()):
        h.update(f"{n}\t{row}\n".encode())
    return h.hexdigest()[:16]
