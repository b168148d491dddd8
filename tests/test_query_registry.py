"""Registry-wide smoke gate: every ``queries()`` entry must run on the
degenerate smoke fixture (sf0.001 plus hostile rows, see ``degenerate_dir``)
and produce a stable, sane result without holding anything.

This is the local twin of the driver's t1 smoke + a schema-stability check:
each query returns a non-empty schema, runs end-to-end, (run twice) gives
the same row count — catching nondeterminism before the oracle gate does —
and leaves no persistent RDD behind once its ``scope()`` exits.
The value-level oracle comparison lives in tools/check_correctness.py (t2).
"""

import os
import re

import pytest
from pyspark.sql import functions as F

from conftest import held_rdds
from makinage_spark.materialize import scope
from makinage_spark.queries import ORACLES, QUERIES
from makinage_spark.sources import load_table

SF_DIR = os.environ.get("SMOKE_SF_DIR", "/root/testdata/sf0.001")

#: Streaming queries spin up a real StreamingQuery each call (~2s apiece):
#: SLOW_STREAMING ones skip the determinism re-run, SKIP_IN_SMOKE ones do
#: not run here.
SLOW_STREAMING = {
    "stream_hourly_counts",
    "stream_roll_windows",
    "stream_stream_join",
    "stream_sliding_window",
    "graph_multiply_streaming",
}
SKIP_IN_SMOKE = {"stream_dedup_keys", "stream_scan_running"}

DEGENERATE_DOCS = [
    (900001, None),
    (900002, ""),
    (900003, "   "),
    (900004, "solo"),
    (900005, "two tokens"),
    (900006, "héllo wörld üñïcødé tökèns"),
    (900007, "spam " * 50),
    (900008, "\n\t\r"),
]


@pytest.fixture(scope="module")
def degenerate_dir(spark, tmp_path_factory):
    """The smoke corpus plus the hostile rows a 100 TB corpus WILL contain:
    null text, empty text, whitespace-only, single-token and two-token docs,
    unicode-only docs, pathological repetition, and null and all-zero
    embeddings.

    The r4 advisor found exactly this bug class (bigram ANSI
    INVALID_ARRAY_INDEX on 0/1-token docs — fixtures just happened to
    contain none). Running the whole registry on this fixture makes the
    class structurally impossible to reintroduce: any future array-index /
    division / aggregation edge crashes the smoke gate first."""
    d = str(tmp_path_factory.mktemp("degenerate_sf"))
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events"):
        load_table(spark, SF_DIR, t).write.parquet(f"{d}/{t}.parquet")

    docs = load_table(spark, SF_DIR, "documents")
    extra = spark.createDataFrame(DEGENERATE_DOCS, "doc_id long, text string")
    base_cols = docs.columns
    for c in base_cols:
        if c not in ("doc_id", "text"):
            extra = extra.withColumn(
                c, F.lit("synthetic") if c == "source" else F.lit(None)
            )
    docs.unionByName(extra.select(base_cols)).write.parquet(
        f"{d}/documents.parquet"
    )
    emb = load_table(spark, SF_DIR, "embeddings")
    dim = len(emb.filter("vec_id = 0").first()["embedding"])
    eextra = spark.createDataFrame(
        [(900001, None), (900002, [0.0] * dim)],
        "vec_id long, embedding array<float>",
    )
    for f in emb.schema.fields:
        if f.name not in ("vec_id", "embedding"):
            eextra = eextra.withColumn(
                f.name, F.lit(None).cast(f.dataType)
            )
    emb.unionByName(eextra.select(emb.columns)).write.parquet(
        f"{d}/embeddings.parquet"
    )
    return d


@pytest.mark.parametrize("name", sorted(set(QUERIES) - SKIP_IN_SMOKE))
def test_query_runs_at_smoke_scale(spark, degenerate_dir, name):
    # each evaluation runs inside its own scope: every frame a query holds
    # goes through release(), and a query that reads a checkpoint after
    # releasing it fails (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND); after the
    # scope exits, no persistent RDD id the query added may remain
    before = held_rdds(spark)
    with scope():
        df = QUERIES[name](spark, degenerate_dir)
        assert df.schema.fields, f"{name}: empty schema"
        n = df.count()
    assert not held_rdds(spark) - before, f"{name}: scope left RDDs persisted"
    assert n >= 0
    # deterministic: same count on re-execution (fresh plan)
    if name not in SLOW_STREAMING:
        with scope():
            n2 = QUERIES[name](spark, degenerate_dir).count()
        assert n2 == n, f"{name}: nondeterministic row count"


def test_recall_audits_hold_at_smoke_scale(spark):
    """The recall-audit assertion rows must be TRUE at the smoke scale too,
    not just at the sf0.01/sf0.1 corpora their floors were tuned on: the
    driver oracle-checks small SFs and the oracle side is a constant TRUE.
    Latent r5–r12 bug this pins: ivf_recall_audit probed 3 of 8 cells,
    which measures recall 0.4 (< floor 0.5) on the 500-vector sf0.001
    corpus — the count-level smoke test above cannot see a value flip."""
    for name in ("ivf_recall_audit", "lsh_recall_audit"):
        row = QUERIES[name](spark, SF_DIR).collect()[0]
        assert row["recall_ok"] is True, f"{name}: recall below floor at smoke scale"
        assert row["n_approx"] == row["k"]


def test_every_oracle_has_a_query():
    missing = set(ORACLES) - set(QUERIES)
    assert not missing, f"oracles without queries: {missing}"


def test_registry_size_floor():
    # coverage must never silently shrink across rounds (r9 totals: 345
    # registered, 339 oracle-paired — raise these when the registry grows)
    assert len(QUERIES) >= 345
    assert len(ORACLES) >= 339


def test_bigram_logprob_short_docs_do_not_crash(spark, tmp_path):
    """ADVICE r4 (high): docs with 0/1 tokens must not trip Spark 4 ANSI
    INVALID_ARRAY_INDEX in the bigram expansion — they simply contribute no
    bigrams (matching the oracle's empty generate_series)."""
    d = tmp_path / "sfmini"
    d.mkdir()
    docs = spark.createDataFrame(
        [(0, ""), (1, "solo"), (2, None), (3, "two tokens here and more")],
        "doc_id long, text string",
    )
    docs.write.parquet(str(d / "documents.parquet"))
    out = QUERIES["bigram_logprob_score"](spark, str(d)).collect()
    assert {r.doc_id for r in out} == {3}
    assert all(r.n_bigrams >= 1 for r in out)


def test_cogroup_lag_user_without_clicks_emits_nothing(spark, tmp_path):
    """cogroup alignment edge: a user with purchases but no clicks must
    contribute zero rows (no null lag), and a click tied on ts with the
    purchase counts only if strictly earlier in (ts, event_id) order."""
    d = tmp_path / "sfmini"
    d.mkdir()
    rows = [
        # user 1: click then purchase 10s later -> lag 10
        (1, "2024-01-01 00:00:00", 1, "click", 1.0, None),
        (2, "2024-01-01 00:00:10", 1, "purchase", 1.0, None),
        # user 2: purchase only -> no output row
        (3, "2024-01-01 00:00:00", 2, "purchase", 1.0, None),
        # user 3: click at SAME ts as purchase, click event_id smaller ->
        # strictly earlier in (ts, event_id) -> lag 0
        (4, "2024-01-01 00:00:05", 3, "click", 1.0, None),
        (5, "2024-01-01 00:00:05", 3, "purchase", 1.0, None),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))
    df.write.parquet(str(d / "events.parquet"))
    out = {
        (r.user_id, r.event_id): r.lag_s
        for r in QUERIES["cogroup_click_purchase_lag"](spark, str(d)).collect()
    }
    assert out == {(1, 2): 10, (3, 5): 0}


def test_showcase_window_invariants():
    """Driver-window policy (VERDICT r5 tasks 3/6, r6 task 1; r10
    post-burn-down amendment): exactly 50 unique, registered entries, no
    rows-only query occupies a hash slot, and the freshness rule:

    - while >= 40 hashable queries have never appeared in a prior driver
      window, >= 80% of slots must be FRESH (the original burn-down
      discipline — a window that re-pins already-green queries fails);
    - once fewer remain (the burn-down endgame / post-coverage regime),
      EVERY remaining never-checked hashable query must occupy a slot —
      the window may then fill the rest with re-pins, which the rotation
      policy (COVERAGE.md) directs at changed-this-round queries first and
      least-recently-green queries after."""
    import glob
    import json

    from makinage_spark.queries import ORACLES, _SHOWCASE_50

    assert len(_SHOWCASE_50) == 50
    assert len(set(_SHOWCASE_50)) == 50
    assert all(n in QUERIES for n in _SHOWCASE_50)
    rows_only = [n for n in _SHOWCASE_50 if n not in ORACLES]
    assert not rows_only, f"rows-only queries burn window slots: {rows_only}"
    from makinage_spark.queries import _WINDOW_ROUND

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ever: set[str] = set()
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        # freshness is relative to the artifacts that existed when the window
        # was cut — the window's OWN round artifact (written by the driver at
        # round end) must not retroactively mark it stale
        if m and int(m.group(1)) < _WINDOW_ROUND:
            ever |= set(json.load(open(path)))
    never = [n for n in QUERIES if n in ORACLES and n not in ever]
    fresh = [n for n in _SHOWCASE_50 if n not in ever]
    if len(never) >= 40:
        assert len(fresh) >= 40, (
            f"window freshness {len(fresh)}/50 < 80%: re-pinned slots = "
            f"{sorted(set(_SHOWCASE_50) - set(fresh))}"
        )
    else:
        missing = sorted(set(never) - set(_SHOWCASE_50))
        assert not missing, (
            f"burn-down endgame: never-driver-checked queries left out of "
            f"the window: {missing}"
        )
