"""The ``batch`` workload: passes over a fixed list of registry queries on
seeded tables, each forced through a ``noop`` write.

Set-up stages the tables (three times; the median counts), starts the
session, runs one cold pass whose outputs are checked against their DuckDB
oracle twins, and then warms until pass time settles. Measuring runs passes
for ``--seconds``. A traced run then restarts the session with the event log
on and runs the measured passes once more.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

from perfbench import gen
from perfbench.metrics import engine_metrics, fingerprint, job_group_spans, parse_event_log, restrict

SF = 0.01
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
#: registry query -> the library module that does its work (the layer name
#: of its per-job metric, ``<module>.<query>_s``). Star-schema scan/join/agg
#: and event-time queries, where scan, exchange and codegen do the work, and
#: the iterative pagerank loop, where driver round-trips, persist and a wide
#: shuffle per iteration do.
QUERIES = {
    "q1_pricing_summary": "ops",
    "q21_waiting_suppliers": "ops",
    "asof_enrich": "joins",
    "sessionize": "data",
    "graph_pagerank": "graphs",
}

#: warm-up ends when a pass is no more than SETTLE faster than the one before
#: it, or once the passes after the cold one have taken WARM_BUDGET_S
SETTLE = 0.10
WARM_BUDGET_S = 12.0


def stage(b) -> tuple[str, float]:
    """Generate and write the tables three times; return the last copy's
    directory and the median staging time."""
    times = []
    for i in range(3):
        t0 = time.perf_counter()
        d = b.path("tables", str(i), "")
        gen.write_tables(gen.make_tables(b.seed, SF, set(TABLES)), d)
        times.append(time.perf_counter() - t0)
    return d, statistics.median(times)


def run_pass(b, sf_dir: str, collect: bool = False) -> dict:
    """One pass over the queries. Returns the pass window (epoch
    seconds), per-query build/write seconds, persistent RDDs left at the end
    and, with ``collect``, each query's output columns and rows."""
    from makinage_spark import queries

    spark = b.spark
    sc = spark.sparkContext
    spark.catalog.clearCache()
    out = {"build": {}, "write": {}, "rows": {}}
    start = time.time()
    for name in QUERIES:
        sc.setJobGroup(name, "perfbench")
        t0 = time.perf_counter()
        try:
            df = queries.QUERIES[name](spark, sf_dir)
            t1 = time.perf_counter()
            if collect:
                out["rows"][name] = (df.columns, [tuple(r) for r in df.collect()])
            else:
                df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # a failing query is counted, the pass goes on
            b.check(False, f"{name} raised {type(e).__name__}: {e}")
            continue
        t2 = time.perf_counter()
        b.check(True, name)
        out["build"][name] = t1 - t0
        out["write"][name] = t2 - t1
    out["window"] = (start, time.time())
    out["persisted_rdds"] = sc._jsc.getPersistentRDDs().size()
    sc.setLocalProperty("spark.jobGroup.id", None)
    return out


def pass_wall(p: dict) -> float:
    return p["window"][1] - p["window"][0]


def check_outputs(b, sf_dir: str, p: dict) -> None:
    """Compare each query's output fingerprint with its DuckDB oracle twin
    run over the same generated tables."""
    import duckdb

    from makinage_spark.queries import ORACLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
    for name in QUERIES:
        if name not in p["rows"]:
            continue  # already counted as failed
        cols, rows = p["rows"][name]
        cur = con.execute(ORACLES[name])
        want = fingerprint([d[0] for d in cur.description], cur.fetchall())
        b.check(fingerprint(cols, rows) == want, f"{name}: output differs from its oracle")
    con.close()


def measure(b, sf_dir: str) -> list[dict]:
    """Whole passes until ``b.seconds`` have passed."""
    passes = []
    end = time.perf_counter() + b.seconds
    while not passes or time.perf_counter() < end:
        passes.append(run_pass(b, sf_dir))
    return passes


def run(b) -> dict[str, float]:
    sf_dir, stage_s = stage(b)
    start_s = b.start_session("main")

    # set-up: a cold pass, then warm until settled; the oracle comparison of
    # the cold pass's outputs is not set-up, so it is left out of the time
    t0 = time.perf_counter()
    cold = run_pass(b, sf_dir, collect=True)
    t1 = time.perf_counter()
    check_outputs(b, sf_dir, cold)
    t0 += time.perf_counter() - t1
    warm = [pass_wall(cold)]
    while sum(warm[1:]) < WARM_BUDGET_S:
        warm.append(pass_wall(run_pass(b, sf_dir)))
        if warm[-1] >= (1.0 - SETTLE) * warm[-2]:
            break
    warm_s = time.perf_counter() - t0
    setup_s = start_s + stage_s + warm_s

    passes = measure(b, sf_dir)
    walls = [pass_wall(p) for p in passes]
    print(f"perfbench: batch setup {setup_s:.2f}s (start {start_s:.2f}, stage {stage_s:.2f}, "
          f"warm {warm_s:.2f}: {[round(x, 2) for x in warm]}) passes {[round(x, 3) for x in walls]}", file=sys.stderr)
    if not b.trace:
        return {"setup_s": setup_s, "result_s": statistics.median(walls)}
    return traced(b, sf_dir, start_s, statistics.median(walls), len(passes))


def traced(b, sf_dir: str, start_s: float, untraced_wall: float, n: int) -> dict[str, float]:
    """Re-run the measured passes with the event log on; attribute them."""
    b.start_session("traced", event_log=True)
    passes = [run_pass(b, sf_dir) for _ in range(n)]
    b.stop_session()
    windows = [p["window"] for p in passes]
    log = restrict(parse_event_log(b.event_log_lines()), windows[0][0] - 0.05, windows[-1][1] + 0.05)
    walls = [pass_wall(p) for p in passes]
    out = {k: v / n for k, v in engine_metrics(log, windows).items()}
    out["spark.task_skew"] *= n  # a max, not a per-pass total
    out["spark.reconcile_err"] *= n
    spans = job_group_spans(log)
    jobs_outside = sum(
        1 for g, ss in spans.items() for s, e in ss
        if g in QUERIES and not any(lo - 0.05 <= s and e <= hi + 0.05 for lo, hi in windows)
    )
    b.check(out["spark.reconcile_err"] < 0.05 and jobs_outside == 0,
            f"batch layer terms do not reconcile with pass wall "
            f"(err {out['spark.reconcile_err']:.3f}, {jobs_outside} jobs outside passes)")
    out.update({
        "session.start_s": start_s,
        "queries.build_s": statistics.median(sum(p["build"].values()) for p in passes),
        "queries.write_s": statistics.median(sum(p["write"].values()) for p in passes),
        "spark.persisted_rdds": max(p["persisted_rdds"] for p in passes),
        "trace_overhead_frac": statistics.median(walls) / untraced_wall - 1.0,
        "trace.wall_s": statistics.median(walls),
    })
    for q, module in QUERIES.items():
        out[f"{module}.{q}_s"] = statistics.median(p["build"][q] + p["write"][q] for p in passes)
    return out
