"""The ``stream`` workload: the micro-service deployment of a YAML graph.

One ``kafka_emu`` source topic, ``events`` (json, Zipf-skewed ``user_id``,
values in integer cents), feeds two operators, each with its own sink
topic: :func:`running_totals` (``streaming.streaming_scan``, an
``applyInPandasWithState`` running fold) and ``makinage_spark.serve:serve``
with the ``double_predict`` hook (``mapInPandas``). The deployment loop
calls ``plans.graph.run_graph`` over and over; each call drains what is
available and resumes from the checkpoints.

Load is an open loop from one generator thread that writes one segment per
tick, stamped with the time it was due. Phase ``low`` and phase ``high``
offer the two rates for two thirds and one third of ``--seconds``; then the
load stops and one drain cycle delivers what is left.
"""

from __future__ import annotations

import io
import os
import statistics
import sys
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.json as pa_json
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.metrics import backlog, engine_metrics, parse_event_log, progress_metrics, restrict, segment_latencies, top_percentile

#: offered load, events per second. Every micro-batch must stay well below
#: spark.sql.execution.arrow.maxRecordsPerBatch rows per shuffle partition:
#: streaming_scan folds each Arrow chunk on its own, so a key split across
#: chunks is folded out of event order (and the running check fails)
RATES = {"low": 500, "high": 2_500}
#: share of ``--seconds`` each phase lasts (always at least one whole cycle);
#: the low phase gets more because ``result_s`` is its median latency
PHASE_SHARE = {"low": 2 / 3, "high": 1 / 3}
#: generator tick: one segment (one file in the topic) per tick
TICK_S = 0.2
#: warm-up: one cold cycle with no load, then WARM_CYCLES at the low rate.
#: Cycle time does not settle here: every cycle lists every file the topic
#: ever got, so it creeps up as the topic ages
WARM_CYCLES = 1
#: a generator later than this on any tick invalidates the open loop
MAX_LATE_S = 0.25
SINKS = ("running", "scored")


def running_totals(config, events):
    """Graph operator factory: per-user running count and cents total."""
    from pyspark.sql import functions as F

    from makinage_spark.streaming import streaming_scan

    cents = events.select("user_id", "event_id", F.col("value").alias("cents"))
    return streaming_scan(cents, "user_id", "cents", "event_id")


def graph(broker: str, ckpt: str) -> dict:
    return {
        "application": {"name": "perfbench_stream", "source_type": "stream"},
        "topics": [
            {"name": "events", "format": "kafka_emu", "broker_dir": broker,
             "encoder": "json", "schema": gen.EVENT_SCHEMA, "start_from": "beginning"},
            *({"name": s, "format": "kafka_emu", "broker_dir": broker, "encoder": "json",
               "checkpoint": os.path.join(ckpt, s)} for s in SINKS),
        ],
        "operators": {
            "scan": {"factory": "perfbench.stream:running_totals",
                     "sources": ["events"], "sinks": ["running"]},
            "serve": {"factory": "makinage_spark.serve:serve",
                      "config": {"predict": "makinage_spark.sample.serve:double_predict",
                                 "input_field": "value", "output_field": "pred"},
                      "sources": ["events"], "sinks": ["scored"]},
        },
    }


class EventLog:
    """The pre-built event pool and the record of what was written: each
    segment's event-id range and due time, and the cumulative count."""

    def __init__(self, seed: int, n_events: int, topic_dir: str):
        self.pool = gen.make_events(seed, n_events)
        self.topic_dir = topic_dir
        os.makedirs(topic_dir, exist_ok=True)
        self.next_id = 0
        self.segments: list[tuple[int, int, float]] = []  # (lo, hi, due)
        self.generated: list[tuple[float, int]] = []  # (written at, cumulative)
        self.late: list[float] = []

    def write(self, n: int, due: float) -> None:
        """Write the next ``n`` events as one segment, stamped ``due``;
        atomically, so a reader never lists a partial file."""
        lo, hi = self.next_id, self.next_id + n
        if hi > len(self.pool.cents):
            raise RuntimeError("event pool exhausted")
        t = self.pool.table(lo, hi, int(due * 1e6))
        name = f"seg-{len(self.segments):06d}.parquet"
        tmp = os.path.join(self.topic_dir, "." + name)
        pq.write_table(t, tmp)
        os.rename(tmp, os.path.join(self.topic_dir, name))
        self.next_id = hi
        self.segments.append((lo, hi, due))
        now = time.time()
        self.generated.append((now, hi))
        self.late.append(now - due)


class Generator(threading.Thread):
    """Open loop: segment k is due at start + k * TICK_S, whatever the
    system under test is doing. ``rate`` may change between ticks."""

    def __init__(self, log: EventLog, rate: float):
        super().__init__(daemon=True)
        self.log = log
        self.rate = rate
        self.stop_evt = threading.Event()
        self.error: Exception | None = None

    def run(self) -> None:
        start = time.time() + TICK_S
        k = 0
        try:
            while not self.stop_evt.is_set():
                due = start + k * TICK_S
                delay = due - time.time()
                if delay > 0 and self.stop_evt.wait(delay):
                    break
                self.log.write(max(1, round(self.rate * TICK_S)), due)
                k += 1
        except Exception as e:  # surfaced by the main thread in finish()
            self.error = e

    def finish(self) -> None:
        self.stop_evt.set()
        self.join()
        if self.error is not None:
            raise self.error


class Deployment:
    """The deployment loop over one broker: run_graph cycles, their walls,
    and (traced) the progress of every query each cycle ran."""

    def __init__(self, b, tag: str, traced: bool):
        from makinage_spark.plans import graph as graph_mod

        self.b = b
        self.traced = traced
        self.graph_mod = graph_mod
        root = b.path(tag, "")
        self.broker = os.path.join(root, "broker")
        self.cfg = graph(self.broker, os.path.join(root, "ckpt"))
        self.cycles: list[tuple[float, float]] = []
        self.compile_s: list[float] = []
        self.progress: list[dict] = []
        self.serve_ids: set[str] = set()
        self.consumed: list[tuple[float, int]] = []

    def cycle(self) -> float:
        import json

        t0 = time.time()
        try:
            handles = self.graph_mod.run_graph(self.b.spark, self.cfg)
        except Exception as e:
            self.b.check(False, f"run_graph raised {type(e).__name__}: {e}")
            return 0.0
        t1 = time.time()
        self.b.check(True, "cycle")
        self.cycles.append((t0, t1))
        if self.traced:
            for name, q in handles:
                if name == "scored":
                    self.serve_ids.add(q.id)
                self.progress.extend(json.loads(p.json) for p in q.recentProgress)
            scan = [p for p in self.progress if p["id"] not in self.serve_ids]
            self.consumed.append((t1, sum(p.get("numInputRows", 0) for p in scan)))
        return t1 - t0

    def cycle_for(self, seconds: float) -> list[float]:
        """Whole cycles until ``seconds`` have passed."""
        walls: list[float] = []
        end = time.perf_counter() + seconds
        while time.perf_counter() < end:
            walls.append(self.cycle())
        return walls

    def timed_compile(self):
        """Wrap ``compile_graph`` so each cycle's plan construction is timed
        from outside the program (traced runs only)."""
        inner = self.graph_mod.compile_graph

        def compile_graph(*a, **kw):
            t0 = time.perf_counter()
            try:
                return inner(*a, **kw)
            finally:
                self.compile_s.append(time.perf_counter() - t0)

        self.graph_mod.compile_graph = compile_graph
        return inner


def sink_times(broker: str, sink: str, n_events: int) -> tuple[np.ndarray, pa.Table]:
    """Per event id, the epoch seconds its record reached ``sink`` (NaN if
    never), and the decoded records. Every event id must appear once."""
    t = pq.read_table(os.path.join(broker, sink), columns=["value", "timestamp"])
    rec = pa_json.read_json(io.BytesIO(b"\n".join(t.column("value").to_pylist())))
    ids = rec.column("event_id").to_numpy()
    ts = t.column("timestamp").cast(pa.timestamp("us", tz="UTC")).cast(pa.int64()).to_numpy() / 1e6
    out = np.full(n_events, np.nan)
    out[ids] = ts
    return out, rec


def check_sinks(b, log: EventLog, broker: str) -> list[np.ndarray]:
    """Exactly-once delivery to both sinks, ``pred == 2 * value``, and the
    running fold equal to the generator's own prefix fold per user."""
    n = log.next_id
    user, cents = log.pool.user[:n], log.pool.cents[:n]
    times = []
    for sink in SINKS:
        at, rec = sink_times(broker, sink, n)
        ids = rec.column("event_id").to_numpy()
        b.check(len(ids) == n and len(np.unique(ids)) == n and not np.isnan(at).any(),
                f"{sink}: {len(ids)} records for {n} events ({len(np.unique(ids))} distinct)")
        order = np.argsort(ids)
        ids = ids[order]
        if sink == "scored":
            value = rec.column("value").to_numpy()[order]
            pred = rec.column("pred").to_numpy()[order]
            b.check(len(ids) == n and np.array_equal(value, cents[ids]) and np.array_equal(pred, 2.0 * value),
                    "scored: pred != 2 * value or value != generated cents")
        else:
            import pandas as pd

            ev = pd.DataFrame({"user": user, "cents": cents})
            g = ev.groupby("user")
            want_n = (g.cumcount() + 1).to_numpy()
            want_total = g["cents"].cumsum().to_numpy()
            got_n = rec.column("running_count").to_numpy()[order]
            got_total = rec.column("running_total").to_numpy()[order]
            got_user = rec.column("user_id").to_numpy()[order]
            bad = (got_user != user[ids]) | (got_n != want_n[ids]) | (got_total != want_total[ids]) if len(ids) == n else np.ones(1, bool)
            b.check(not bad.any(), f"running: {int(bad.sum())} running_count/running_total differ from the prefix fold"
                    f" (first at event {int(ids[np.argmax(bad)]) if len(ids) == n else -1})")
        times.append(at)
    return times


def latencies(log: EventLog, lo_t: float, hi_t: float, times: list[np.ndarray]) -> list[float]:
    """Latencies of the segments due in [lo_t, hi_t)."""
    segs = [sg for sg in log.segments if lo_t <= sg[2] < hi_t]
    if not segs:
        return []
    # segments are consecutive, so bounds[i]:bounds[i+1] is segment i
    bounds = [lo for lo, _, _ in segs] + [segs[-1][1]]
    return segment_latencies([due for _, _, due in segs], bounds, times)


def run_phases(b, tag: str, traced: bool = False) -> dict:
    """Warm-up, ``low``, ``high`` and the drain on a fresh broker; returns
    what was measured. Checks the sinks at the end."""
    d = Deployment(b, tag, traced)
    # enough for the longest warm-up and phases, each overrun by a slow cycle
    n_pool = int(RATES["low"] * (b.seconds / 2 + 90) + RATES["high"] * (b.seconds / 2 + 60))
    t0 = time.perf_counter()
    log = EventLog(b.seed, n_pool, os.path.join(d.broker, "events"))
    stage_s = time.perf_counter() - t0
    # the topic starts with one segment, so the cold cycle has input
    log.write(round(RATES["low"] * TICK_S), time.time())
    inner = d.timed_compile() if traced else None
    g = Generator(log, RATES["low"])
    res = {"stage_s": stage_s}
    try:
        t0 = time.perf_counter()
        res["warm"] = [d.cycle()]
        g.start()
        while len(log.segments) < 2 and g.is_alive():  # warm cycles start with load in the topic
            time.sleep(TICK_S / 10)
        res["warm"] += [d.cycle() for _ in range(WARM_CYCLES)]
        res["warm_s"] = time.perf_counter() - t0
        for name in ("low", "high"):
            g.rate = RATES[name]
            c0, t0 = len(d.cycles), time.time()
            res[name + "_walls"] = d.cycle_for(b.seconds * PHASE_SHARE[name])
            res[name + "_cycles"] = d.cycles[c0:]
            res[name + "_span"] = (t0, time.time())
        # segments due in a phase are delivered by the cycle after it: the
        # next phase's first cycle, or the drain cycle once the load stops
        g.finish()
        d.cycle()
        res["drain_span"] = d.cycles[-1]
    finally:
        if g.is_alive():
            g.finish()
        if inner is not None:
            d.graph_mod.compile_graph = inner
    times = check_sinks(b, log, d.broker)
    for name in ("low", "high"):
        res[name + "_lat"] = latencies(log, *res[name + "_span"], times)
    lo, hi = res["drain_span"]
    res["drain_s"] = hi - lo
    res["drain_events"] = int((times[0] >= lo).sum())
    b.check(max(log.late) <= MAX_LATE_S, f"generator ran {max(log.late):.3f}s late")
    res.update(log=log, deployment=d)
    return res


def run(b) -> dict[str, float]:
    start_s = b.start_session("main")
    res = run_phases(b, "main")
    setup_s = start_s + res["stage_s"] + res["warm_s"]
    print(f"perfbench: stream setup {setup_s:.2f}s (start {start_s:.2f}, warm {res['warm_s']:.2f}: "
          f"{[round(x, 2) for x in res['warm']]}) low {[round(x, 2) for x in res['low_walls']]} "
          f"high {[round(x, 2) for x in res['high_walls']]} drain {res['drain_s']:.2f}s "
          f"late max {max(res['log'].late):.4f}s lat low {statistics.median(res['low_lat']):.3f} "
          f"high {statistics.median(res['high_lat']):.3f}", file=sys.stderr)
    if not b.trace:
        return {"setup_s": setup_s, "result_s": statistics.median(res["low_lat"])}
    return traced(b, res, start_s)


def traced(b, untraced: dict, start_s: float) -> dict[str, float]:
    """The same phases on a fresh broker with the event log on and every
    query's progress read back; attribute cycle time to its terms."""
    b.start_session("traced", event_log=True)
    res = run_phases(b, "traced", traced=True)
    b.stop_session()
    d: Deployment = res["deployment"]
    cycles = res["low_cycles"] + res["high_cycles"]
    lo, hi = cycles[0][0], cycles[-1][1]
    in_phases = [p for p in d.progress if lo <= _epoch(p["timestamp"]) <= hi]
    walls = [e - s for s, e in cycles]
    out = progress_metrics(in_phases, d.serve_ids, walls)
    b.check(out["streaming.reconcile_err"] < 0.05 and out["streaming.start_overhead_s"] >= 0,
            f"stream terms do not reconcile with cycle wall (err {out['streaming.reconcile_err']:.3f})")
    log = restrict(parse_event_log(b.event_log_lines()), lo - 0.05, hi + 0.05)
    n = len(cycles)
    eng = engine_metrics(log, cycles)
    out.update({k: v / n for k, v in eng.items() if k not in ("spark.task_skew", "spark.reconcile_err")})
    out["spark.task_skew"] = eng["spark.task_skew"]
    out["spark.reconcile_err"] = eng["spark.reconcile_err"]
    # per-cycle means of the progress terms, like the engine terms
    for k in list(out):
        if k.startswith(("streaming.", "serve.")) and k not in (
            "streaming.reconcile_err", "streaming.state_rows", "streaming.state_mem_bytes"
        ):
            out[k] /= n
    ut = untraced
    out.update({
        "session.start_s": start_s,
        "plans.compile_s": statistics.median(d.compile_s),
        "plans.cycle_s": statistics.median(walls),
        "plans.cycles": n,
        "sources.gen_late_s": max(res["log"].late),
        "sources.backlog_max_events": backlog(
            res["log"].generated, [c for c in d.consumed if lo <= c[0] <= hi]),
        "trace_overhead_frac": statistics.median(walls) / statistics.median(
            [e - s for s, e in ut["low_cycles"] + ut["high_cycles"]]) - 1.0,
        "trace.wall_s": statistics.median(res["high_walls"]),
        "stream.lat_p50_s.high": statistics.median(ut["high_lat"]),
        "stream.cycle_s.high": statistics.median(ut["high_walls"]),
        "stream.lat_top_s.low": top_percentile(ut["low_lat"])[1],
        "stream.lat_top_q.low": top_percentile(ut["low_lat"])[0],
        "stream.lat_top_s.high": top_percentile(ut["high_lat"])[1],
        "stream.lat_top_q.high": top_percentile(ut["high_lat"])[0],
        "stream.drain_eps": ut["drain_events"] / ut["drain_s"],
        "stream.segments.low": len(ut["low_lat"]),
        "stream.segments.high": len(ut["high_lat"]),
    })
    return {k: v for k, v in out.items() if v is not None}


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
