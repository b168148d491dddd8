#!/usr/bin/env python
"""Local replica of the driver's t2 correctness gate: run every
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, and compare row count + sorted-column
value multiset.

Usage: PYTHONPATH=/root/repo python tools/check_correctness.py [query ...]
Env:   CHECK_SF_DIR (default /root/testdata/sf0.01)
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
import makinage_spark as mk  # noqa: E402
from perfbench.metrics import multiset  # noqa: E402

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main():
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2:]
    only = set(args)
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        # driver fixtures are single parquet FILES; Spark-synthesized scale
        # fixtures (tools/scaling_probe.py make) are parquet DIRECTORIES —
        # glob the part files in that case so the same gate runs on both
        p = f"{SF_DIR}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    spark = mk.get_spark(
        app_name="check_correctness",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        extra_confs={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    failures = []
    results = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            results[name] = {"status": "spark_error", "err": f"{type(e).__name__}: {e}"}
            print(f"✗ {name}: SPARK ERROR {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"~ {name}: rows-only check, {len(srows)} rows "
                  f"({time.time()-t0:.1f}s)")
            results[name] = {"status": "rows_only", "spark_rows": len(srows)}
            if len(srows) == 0:
                print(f"  WARNING: 0 rows from rows-only query")
            continue
        try:
            cur = con.execute(oracles[name])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
        except Exception as e:
            failures.append(name)
            results[name] = {"status": "oracle_error", "err": f"{type(e).__name__}: {e}"}
            print(f"✗ {name}: ORACLE ERROR {type(e).__name__}: {e}")
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            sm, dm = multiset(scols, srows), multiset(dcols, drows)
            if sm != dm:
                extra_s = list((sm - dm).items())[:3]
                extra_d = list((dm - sm).items())[:3]
                problems.append(f"values spark-only={extra_s} duck-only={extra_d}")
        if problems:
            failures.append(name)
            results[name] = {"status": "mismatch", "detail": "; ".join(problems)}
            print(f"✗ {name}: " + "; ".join(problems))
        else:
            results[name] = {"status": "match", "rows": len(srows)}
            print(f"✓ {name}: {len(srows)} rows match ({time.time()-t0:.1f}s)")

    if json_out:
        import json as _json

        summary = {
            "sf_dir": SF_DIR,
            "n_queries": len(results),
            "n_match": sum(1 for r in results.values() if r["status"] == "match"),
            "n_rows_only": sum(1 for r in results.values() if r["status"] == "rows_only"),
            "n_failed": len(failures),
            "results": results,
        }
        with open(json_out, "w") as f:
            _json.dump(summary, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")

    print()
    if failures:
        print(f"FAILED: {len(failures)} → {failures}")
        sys.exit(1)
    print("ALL MATCH")


if __name__ == "__main__":
    main()
