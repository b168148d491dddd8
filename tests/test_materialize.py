"""materialize/release/scope: held frames are freed, not leaked.

Every check compares the SET of persistent RDD ids before and after, never
the count: the ContextCleaner may drop unrelated RDDs at any time, which
changes the count but never adds an id.
"""

import os
import threading

import pytest
from pyspark.sql import functions as F

from conftest import held_rdds
from makinage_spark.materialize import materialize, release, scope
from makinage_spark.queries import QUERIES

SF_DIR = os.environ.get("SMOKE_SF_DIR", "/root/testdata/sf0.001")


def test_release_frees_a_local_checkpoint(spark):
    before = held_rdds(spark)
    df = materialize(spark.range(100), mode="local")
    assert held_rdds(spark) - before
    derived = df.select((F.col("id") * 2).alias("x"))
    df.unpersist()  # the DataFrame API alone cannot reach checkpoint blocks
    assert held_rdds(spark) - before
    release(df)
    assert not held_rdds(spark) - before
    release(df)  # idempotent
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        derived.count()


def test_release_deletes_reliable_checkpoint_files(spark, tmp_path):
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ck"))
    df = materialize(spark.range(100), mode="reliable")
    files = [f for _, _, fs in os.walk(tmp_path / "ck") for f in fs]
    assert files
    release(df)
    assert not [f for _, _, fs in os.walk(tmp_path / "ck") for f in fs]


def test_scope_releases_on_exit_and_nests(spark):
    before = held_rdds(spark)
    with scope():
        outer = materialize(spark.range(50), mode="local")
        with scope():
            inner = materialize(spark.range(60), mode="local")
            assert inner.count() == 60
        # the inner exit freed only its own frame
        assert outer.count() == 50
        with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
            inner.count()
    assert not held_rdds(spark) - before


def test_scope_is_not_shared_across_threads(spark):
    """A frame materialized on another thread (a foreachBatch callback)
    never joins the calling thread's scope."""
    before = held_rdds(spark)
    box = {}
    with scope():
        t = threading.Thread(
            target=lambda: box.update(df=materialize(spark.range(70), mode="local"))
        )
        t.start()
        t.join()
    assert box["df"].count() == 70
    release(box["df"])
    assert not held_rdds(spark) - before


def test_bad_arguments_are_rejected(spark):
    with pytest.raises(ValueError, match="mode"):
        materialize(spark.range(3), mode="disk")
    with pytest.raises(ValueError, match="size_by"):
        materialize(spark.range(3), mode="local", size_by="id")


def test_connected_components_releases_superseded_rounds(spark):
    """Each CC alternation releases the round it supersedes: after a
    multi-round run only the init checkpoint (e0, read again for self-pair
    singletons) and the last round stay held — not one checkpoint per
    round."""
    from makinage_spark.dedup import connected_components

    pairs = spark.range(63).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    before = held_rdds(spark)
    stats: dict = {}
    out = connected_components(pairs, stats=stats)
    assert stats["rounds"] >= 5 and stats["converged"]
    assert len(held_rdds(spark) - before) <= 2
    assert out.select("cluster_id").distinct().collect()[0][0] == 0


@pytest.mark.parametrize(
    "name", ["dedup_pipeline_e2e", "graph_pagerank", "kcore_decomposition_profile"]
)
def test_repeated_queries_in_a_scope_hold_nothing(spark, name):
    """A long-lived session running the same pipeline again and again (no
    clearCache) holds nothing once each scope exits: every RDD a run
    persisted or checkpointed is gone, and the result is unchanged."""
    rows = None
    for _ in range(3):
        before = held_rdds(spark)
        with scope():
            got = sorted(QUERIES[name](spark, SF_DIR).collect())
        assert not held_rdds(spark) - before, name
        assert rows is None or got == rows
        rows = got
