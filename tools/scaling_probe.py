#!/usr/bin/env python
"""Scale-curvature probe: measure how headline-query runtime grows when the
input is multiplied ~Nx, to validate the 100 TB design claims empirically
(VERDICT r3 "Next round #2").

Synthesis (``make``): deterministic union-multiply of the sf0.1 fixtures with
id offsets — each replica is a self-consistent copy of the world (fact-table
keys offset by r*OFFSET; region/nation dims shared). Content columns are
perturbed per replica so similarity structure scales LINEARLY instead of
creating artificial cross-replica near-duplicates (which would make every
pair-generating query look quadratic for data reasons, not plan reasons):

- documents.text: per-replica bijective character map — the alphabet rotated
  by a replica-distinct shift (replica 0 unchanged) — so within-replica
  shingle/token relationships are exactly isomorphic to the original while
  cross-replica overlap is destroyed at EVERY granularity (word shingles and
  char n-grams alike; distinct shifts exist for mult <= 26 — beyond that,
  swap in an affine char permutation family);
- embeddings.embedding: element rotation by r positions (replica 0
  unchanged) — within-replica cosine structure preserved, cross-replica
  cosine decorrelated.

Timing (``run``): bench.py's HEADLINE set, noop-sink, min-of-2 per scale, on
the same session/conf at both scales; prints one JSON line per query with
t_base, t_big, and ratio. Queries are billed superlinear when
ratio > mult * 1.3 (30% headroom).

Caveat (documented in SCALING.md): the synthesized tables are multi-file
parquet while the sf0.1 fixtures are single-file/single-row-group, so the
big scale gets real scan parallelism the fixtures lack — mild SUB-linear
ratios on scan-bound queries are expected and benign.

Usage:
  PYTHONPATH=/root/repo python tools/scaling_probe.py make  [--mult 5] [--dest /tmp/scale_x5]
  PYTHONPATH=/root/repo python tools/scaling_probe.py run   [--mult 5] [--dest /tmp/scale_x5] [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import makinage_spark as mk  # noqa: E402
from makinage_spark import materialize  # noqa: E402
from makinage_spark.sources import load_table  # noqa: E402

SRC = "/root/testdata/sf0.1"
OFFSET = 10_000_000

#: key columns to offset per replica (fact tables + their FK references;
#: region/nation stay shared so n_nationkey/s_nationkey need no rewrite)
KEY_COLS = {
    "region": [],
    "nation": [],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def make(spark, dest: str, mult: int) -> None:
    from pyspark.sql import functions as F

    os.makedirs(dest, exist_ok=True)
    for table, keys in KEY_COLS.items():
        base = load_table(spark, SRC, table)
        if not keys:  # shared dims: copy once
            out = base
        else:
            reps = []
            for r in range(mult):
                rep = base
                for k in keys:
                    rep = rep.withColumn(k, (F.col(k) + r * OFFSET).cast("bigint"))
                if table == "documents" and r > 0:
                    # bijective per-replica character map (alphabet rotated by
                    # r): destroys CROSS-replica overlap at every granularity —
                    # word shingles AND char n-grams — while keeping
                    # within-replica similarity structure exactly isomorphic.
                    # The previous token-suffix scheme (`$1x{r}`) left interior
                    # char 5-grams of long tokens intact, so char-shingle
                    # MinHash kept every doc LSH-close to its mult-1 replica
                    # twins: at 25x that manufactured 158M TRUE near-dup pairs
                    # (vs 15k at base) — quadratic duplicate density in the
                    # DATA, misread as superlinear plan behavior.
                    lo = "abcdefghijklmnopqrstuvwxyz"
                    up = lo.upper()
                    dg = "0123456789"
                    sh = (r - 1) % 25 + 1  # 1..25: never the identity map
                    sd = (r - 1) % 9 + 1
                    rot = (
                        lo[sh:] + lo[:sh]
                        + up[sh:] + up[:sh]
                        + dg[sd:] + dg[:sd]
                    )
                    rep = rep.withColumn(
                        "text", F.translate("text", lo + up + dg, rot)
                    )
                if table == "embeddings" and r > 0:
                    n = F.size("embedding")
                    rep = rep.withColumn(
                        "embedding",
                        F.concat(
                            F.slice(F.col("embedding"), F.lit(r + 1), n),
                            F.slice(F.col("embedding"), 1, r),
                        ),
                    )
                reps.append(rep)
            out = reps[0]
            for rep in reps[1:]:
                out = out.unionByName(rep)
        path = os.path.join(dest, f"{table}.parquet")
        out.write.mode("overwrite").parquet(path)
        print(f"wrote {table}: {spark.read.parquet(path).count()} rows", file=sys.stderr)


def run(spark, dest: str, mult: int, only: list[str]) -> None:
    from bench import HEADLINE
    from makinage_spark.queries import QUERIES

    names = only or HEADLINE
    results = {}
    for name in names:
        row = {}
        for tag, sf_dir in (("base", SRC), ("big", dest)):
            best = float("inf")
            for attempt in range(3):  # attempt 0 = warm-up, uncounted
                with materialize.scope():
                    t0 = time.time()
                    try:
                        QUERIES[name](spark, sf_dir).write.format("noop").mode(
                            "overwrite"
                        ).save()
                    except Exception as e:
                        row[tag] = None
                        print(f"{name}@{tag} FAILED: {e}", file=sys.stderr)
                        break
                    if attempt:
                        best = min(best, time.time() - t0)
            else:
                row[tag] = round(best, 3)
        ratio = (
            round(row["big"] / row["base"], 2)
            if row.get("base") and row.get("big")
            else None
        )
        results[name] = {**row, "ratio": ratio}
        print(
            json.dumps({"query": name, **results[name], "mult": mult}),
            flush=True,
        )
    sup = {n: r for n, r in results.items() if r["ratio"] and r["ratio"] > mult * 1.3}
    print(
        json.dumps(
            {
                "summary": {
                    "n": len(results),
                    "mult": mult,
                    "superlinear": sup,
                    "load_avg": [round(x, 2) for x in os.getloadavg()],
                }
            }
        )
    )


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("cmd", choices=["make", "run"])
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--mult", type=int, default=5)
    ap.add_argument("--dest", default="/tmp/scale_x5")
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = mk.get_spark(
        app_name="scaling_probe",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_confs={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    if args.cmd == "make":
        make(spark, args.dest, args.mult)
    else:
        run(spark, args.dest, args.mult, args.queries)
    spark.stop()


if __name__ == "__main__":
    main()
