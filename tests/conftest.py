import contextlib

import pytest

from makinage_spark import get_spark


@contextlib.contextmanager
def conf_override(spark, key, value):
    """Set a session conf for a block, restoring whatever value the session
    actually had (ADVICE r10: hard-coded restores silently re-configure the
    shared session fixture if its default ever changes)."""
    saved = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, saved)


def broadcast_disabled(spark):
    """Disable auto-broadcast for a block."""
    return conf_override(spark, "spark.sql.autoBroadcastJoinThreshold", "-1")


def held_rdds(spark) -> set:
    """Ids of the RDDs the session holds persisted (compare sets, never
    counts: the ContextCleaner drops unrelated RDDs at any time)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="makinage_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_confs={"spark.ui.enabled": "false", "spark.sql.warehouse.dir": "/tmp/spark-wh"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
