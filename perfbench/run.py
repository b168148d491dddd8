"""Benchmark entry point.

    python3 perfbench/run.py --workload batch|stream \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` the per-layer ones. The line before it records the
environment. Exit code 0 means every output check passed, 1 means a check
failed, 2 means the run could not complete (no result line is printed).

Everything a run writes (tables, topics, checkpoints, Spark local and
event-log dirs, temp files) lives under one scratch root inside the
checkout, ``.perfbench_tmp/``, which is deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def tree_rss_bytes(pid: int) -> int:
    """Resident memory of ``pid`` and all its descendants, from /proc: the
    Python driver, its JVM and the JVM's Python workers."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                rss[int(d)] = int(f.read().split()[1]) * page
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo.extend(children.get(p, []))
    return total


class RssSampler(threading.Thread):
    """Samples the process tree's resident memory every ``period`` seconds
    and keeps the peak."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak / 2**20


class Bench:
    """One benchmark run: its arguments, scratch root, Spark session and the
    tally of attempted and failed operations."""

    def __init__(self, args: argparse.Namespace, scratch: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.scratch = scratch
        self.cores = nproc()
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.java: str | None = None
        self.event_log_dir: str | None = None

    def path(self, *parts: str) -> str:
        p = os.path.join(self.scratch, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def check(self, ok: bool, what: str) -> bool:
        """Count one checked operation; a failed one is reported on stderr."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: CHECK FAILED: {what}", file=sys.stderr)
        return ok

    def start_session(self, tag: str, event_log: bool = False) -> float:
        """(Re)start the SparkSession on local[nproc]; returns seconds taken.
        ``event_log`` turns on Spark's event log under the scratch root."""
        import makinage_spark as mk

        self.stop_session()
        confs = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": self.path("spark-local", tag),
            "spark.sql.warehouse.dir": self.path("warehouse", tag),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')}",
            "spark.eventLog.enabled": str(event_log).lower(),
        }
        if event_log:
            self.event_log_dir = self.path("eventlog", tag)
            os.makedirs(self.event_log_dir, exist_ok=True)
            confs["spark.eventLog.dir"] = "file://" + self.event_log_dir
            confs["spark.eventLog.compress"] = "false"
            confs["spark.eventLog.rolling.enabled"] = "false"
        t0 = time.perf_counter()
        self.spark = mk.get_spark(
            app_name=f"perfbench_{tag}",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_confs=confs,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        elapsed = time.perf_counter() - t0
        self.java = self.spark.sparkContext._jvm.System.getProperty("java.version")
        return elapsed

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def event_log_lines(self) -> list[str]:
        """Lines of the event log written by the last event-logged session;
        call after :meth:`stop_session`, which flushes it."""
        out: list[str] = []
        for name in sorted(os.listdir(self.event_log_dir)):
            with open(os.path.join(self.event_log_dir, name)) as f:
                out.extend(f)
        return out

    def shutdown(self) -> None:
        """Stop the session and the JVM gateway, and wait for the JVM."""
        self.stop_session()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def environment(b: Bench) -> dict:
    import pyspark

    return {"nproc": b.cores, "loadavg": list(os.getloadavg()), "pyspark": pyspark.__version__, "java": b.java}


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def result_line(b: Bench, metrics: dict[str, float], spec: dict) -> dict:
    """The contract line: every metric of the run's kind, with its unit. A
    per-layer metric of a layer the workload does not run is reported as 0
    (the layer did no work)."""
    kind = "per_layer" if b.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    unknown = sorted(set(metrics) - set(units) - {"peak_rss_mb"})
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json {kind}: {unknown}")
    missing = [n for n in units if n not in metrics]
    if missing and kind == "end_to_end":
        raise KeyError(f"end-to-end metrics not measured: {missing}")
    return {
        "correct": b.failed == 0,
        "attempted": max(b.attempted, 1),
        "failed": b.failed,
        "metrics": {n: {"value": float(metrics.get(n, 0.0)), "unit": u} for n, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["batch", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # import the program and this package from the checkout root, and never
    # this directory's modules as top-level names
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    try:
        import makinage_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    spec = load_spec()

    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=base)
    os.makedirs(os.path.join(scratch, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable

    b = Bench(args, scratch)
    rss = RssSampler()
    rss.start()
    try:
        if args.workload == "stream":
            from perfbench import stream as wl
        else:
            from perfbench import batch as wl
        metrics = wl.run(b)
        env = environment(b)
        metrics["peak_rss_mb"] = rss.stop()
        out = result_line(b, metrics, spec)
    except Exception:
        traceback.print_exc()
        return 2
    finally:
        if rss.is_alive():
            rss.stop()
        b.shutdown()
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"env": env, "workload": args.workload, "seed": args.seed}))
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
