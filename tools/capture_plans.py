#!/usr/bin/env python
"""Capture `.explain("formatted")` for headline queries into plans/<ROUND>/.

Usage: PYTHONPATH=. python tools/capture_plans.py ROUND SUFFIX [query ...]
  ROUND names the output directory (e.g. `r13`); SUFFIX is `before` or
  `after`; with no query names, captures the whole bench HEADLINE set. Files
  land at plans/<ROUND>/<query>_<SUFFIX>.txt.

Same session shape as bench.py (local[$SPARK_GRAFT_CPUS], shuffle=cpus) so
the static plans match what the bench executes. These are the pre-execution
plans (`AdaptiveSparkPlan isFinalPlan=false` where AQE applies) — the same
view `df.explain("formatted")` gives a user before running.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import makinage_spark as mk  # noqa: E402
from makinage_spark import materialize  # noqa: E402
from makinage_spark.queries import QUERIES  # noqa: E402


def main():
    rnd, suffix = sys.argv[1:3]
    names = sys.argv[3:]
    if not names:
        from bench import HEADLINE

        names = list(HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = mk.get_spark(
        app_name="capture_plans",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_confs={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # streaming queries execute eagerly inside the query fn and have no
    # batch plan to explain — skip (same contract as tools/audit_plans.py)
    skip = {
        "stream_hourly_counts", "stream_dedup_keys", "stream_scan_running",
        "stream_roll_windows", "stream_stream_join", "stream_sliding_window",
        "graph_multiply_sample",
    }
    for name in names:
        if name in skip:
            print(f"skip (streaming/side-effect): {name}")
            continue
        try:
            buf = io.StringIO()
            with materialize.scope(), contextlib.redirect_stdout(buf):
                QUERIES[name](spark, sf_dir).explain("formatted")
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            print(f"wrote {path}")
        except Exception as e:  # noqa: BLE001
            print(f"ERROR {name}: {type(e).__name__}: {e}")
    spark.stop()


if __name__ == "__main__":
    main()
