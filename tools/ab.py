#!/usr/bin/env python
"""Equality-gated A/B and profile runner for registry queries.

Usage: python tools/ab.py [--base REV] [--conf K=V ...] [--profile] QUERY...

Arm A is REV exported with ``git archive`` into a temporary directory (the
working tree without ``--base``); arm B is the working tree with the
``--conf`` overrides. Each arm runs as its own subprocess, in the order
A B B A, with bench.py's session (local[$SPARK_GRAFT_CPUS], shuffle
partitions = cores) over the tables in $SPARK_GRAFT_SF_DIR (required):
every query is warmed once, then timed through a noop write min-of-2
(min-of-3 for bench.py's ``ITERATIVE_TAIL``), each attempt inside
``materialize.scope()`` (a revision older than it calls ``clearCache()``
after each), and finally collected once, untimed, and fingerprinted with
``perfbench.metrics.fingerprint``.

If any query's fingerprint differs between runs, the queries are listed
with each run's fingerprint, no timing is printed, and the exit code is 1.
Otherwise each query gets one JSON line: each arm's min and median over
all its attempts, the B/A ratio of the minima and the fingerprint.

``--profile`` adds one event-logged run per arm after the timed runs (so
the event log cannot perturb the minima) and prints, per query and arm,
``perfbench.metrics.engine_metrics`` of each timed attempt: jobs, stages,
tasks, shuffle bytes, spill, task skew, job union, driver gap, executor run
and CPU time (their gap is time a task spends outside the JVM, such as in
its Python worker), and ``spark.sql_executions``, the SQL executions
started in the attempt (eager counts and persists each start one; the
stage jobs of one adaptive execution do not).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.metrics import engine_metrics, fingerprint, parse_event_log, restrict  # noqa: E402

#: the ``engine_metrics`` terms a ``--profile`` line reports per attempt
PROFILE_KEYS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.task_skew",
    "spark.job_union_s", "spark.driver_gap_s", "spark.reconcile_err",
    "spark.executor_run_s", "spark.executor_cpu_s",
)


def profile_rows(lines: list[str], windows: dict[str, list[tuple[float, float]]]) -> dict[str, list[dict]]:
    """Per query, one ``--profile`` row per attempt window: the
    ``PROFILE_KEYS`` of the jobs inside it, and the count of SQL executions
    started inside it."""
    log = parse_event_log(lines)
    starts = [
        ev["time"] / 1000.0
        for ev in (json.loads(line) for line in lines if "SQLExecutionStart" in line)
        if ev.get("Event", "").endswith("SparkListenerSQLExecutionStart")
    ]

    def row(lo: float, hi: float) -> dict:
        # job and execution times are whole milliseconds: one started in the
        # attempt's first millisecond is stamped before ``lo``
        metrics = engine_metrics(restrict(log, lo - 1e-3, hi), [(lo, hi)])
        out = {k: round(v, 4) for k, v in metrics.items() if k in PROFILE_KEYS}
        out["spark.sql_executions"] = sum(lo - 1e-3 <= t <= hi for t in starts)
        return out

    return {name: [row(lo, hi) for lo, hi in spans] for name, spans in windows.items()}


def run_arm(root: str, confs: dict[str, str], names: list[str], event_log: str | None) -> dict:
    """Run ``names`` on the code under ``root`` in this process. Returns
    ``{query: {"times": [s per attempt], "fp": fingerprint}}``, plus
    ``"profile"`` (one metrics dict per attempt) when ``event_log`` is the
    directory to log to."""
    sys.path.insert(0, root)
    import makinage_spark as mk
    from bench import ITERATIVE_TAIL
    from makinage_spark.queries import QUERIES

    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    extra = {"spark.ui.enabled": "false", **confs}
    if event_log:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = mk.get_spark(app_name="ab", master=f"local[{cpus}]", shuffle_partitions=int(cpus), extra_confs=extra)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        from makinage_spark.materialize import scope
    except ImportError:  # a revision older than materialize.py: bench.py's clearCache()
        @contextlib.contextmanager
        def scope():
            yield
            spark.catalog.clearCache()

    def write(name: str) -> None:
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    for name in names:
        with scope():
            write(name)
    windows = {name: [] for name in names}
    for name in names:
        for _ in range(3 if name in ITERATIVE_TAIL else 2):
            with scope():
                t0 = time.time()
                write(name)
                windows[name].append((t0, time.time()))
    out = {}
    for name in names:
        with scope():
            df = QUERIES[name](spark, sf_dir)
            fp = fingerprint(df.columns, [tuple(r) for r in df.collect()])
        out[name] = {"times": [hi - lo for lo, hi in windows[name]], "fp": fp}
    spark.stop()  # flushes the event log
    if event_log:
        lines = []
        for f in sorted(os.listdir(event_log)):
            with open(os.path.join(event_log, f)) as fh:
                lines.extend(fh)
        for name, rows in profile_rows(lines, windows).items():
            out[name]["profile"] = rows
    return out


def spawn(root: str, confs: dict[str, str], names: list[str], event_log: str | None = None) -> dict:
    """:func:`run_arm` in a fresh Python process whose Spark workers import
    the code under ``root``. The process runs in ``root``: a worker daemon
    started with ``python -m`` puts its working directory first on
    ``sys.path``, ahead of ``PYTHONPATH``."""
    spec = json.dumps({"root": root, "confs": confs, "event_log": event_log})
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
        "SPARK_GRAFT_SF_DIR": os.path.abspath(os.environ["SPARK_GRAFT_SF_DIR"]),
    }
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--arm", spec, *names],
        stdout=subprocess.PIPE, text=True, env=env, cwd=root, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


def export(rev: str, dest: str) -> str:
    """``git archive`` of ``rev`` unpacked into ``dest``."""
    tar = subprocess.run(["git", "archive", rev], cwd=REPO, stdout=subprocess.PIPE, check=True).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
        tf.extractall(dest, filter="data")
    return dest


def gate(runs: list[tuple[str, dict]]) -> int:
    """Print the result of ``runs`` — (arm, :func:`run_arm` result) in run
    order. Returns 1 after listing the queries whose fingerprint is not the
    same in every run; else prints one row per query and returns 0."""
    names = list(runs[0][1])
    fps = {q: [res[q]["fp"] for _, res in runs] for q in names}
    bad = {q: f for q, f in fps.items() if len(set(f)) > 1}
    if bad:
        print(json.dumps({"runs": [arm for arm, _ in runs], "fingerprint_mismatch": bad}))
        return 1
    for q in names:
        row = {"query": q}
        for arm in ("A", "B"):
            ts = [t for a, res in runs if a == arm for t in res[q]["times"]]
            row[arm] = {"min": round(min(ts), 3), "median": round(statistics.median(ts), 3)}
        row["ratio"] = round(row["B"]["min"] / row["A"]["min"], 3)
        row["fp"] = fps[q][0]
        print(json.dumps(row))
    return 0


def conf_pair(kv: str) -> tuple[str, str]:
    k, eq, v = kv.partition("=")
    if not (k and eq):
        raise argparse.ArgumentTypeError(f"expected K=V, got {kv!r}")
    return k, v


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", metavar="REV", help="git revision for arm A (default: the working tree)")
    ap.add_argument("--conf", type=conf_pair, action="append", default=[], metavar="K=V", help="Spark conf for arm B")
    ap.add_argument("--profile", action="store_true", help="add one event-logged run per arm")
    ap.add_argument("--arm", help=argparse.SUPPRESS)  # a subprocess running one arm
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args(argv)
    if "SPARK_GRAFT_SF_DIR" not in os.environ:
        ap.error("set SPARK_GRAFT_SF_DIR to the directory of the tables")
    if args.arm:
        spec = json.loads(args.arm)
        print(json.dumps(run_arm(spec["root"], spec["confs"], args.queries, spec["event_log"])))
        return 0
    with tempfile.TemporaryDirectory(prefix="ab_") as tmp:
        root_a = REPO if args.base is None else export(args.base, os.path.join(tmp, "base"))
        arms = {"A": (root_a, {}), "B": (REPO, dict(args.conf))}
        rc = gate([(arm, spawn(*arms[arm], args.queries)) for arm in "ABBA"])
        if rc or not args.profile:
            return rc
        for arm in "AB":
            log_dir = os.path.join(tmp, f"eventlog_{arm}")
            os.makedirs(log_dir)
            res = spawn(*arms[arm], args.queries, log_dir)
            for q in args.queries:
                print(json.dumps({"query": q, "arm": arm, "attempts": res[q]["profile"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
