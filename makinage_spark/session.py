"""SparkSession factory with scale-oriented defaults.

The reference scales out via Kafka consumer-group partition parallelism with one
process per instance (makinage/operator.py:216-226,257). Here the equivalent
levers are Spark's: AQE for runtime re-planning/skew handling, Arrow for the
Python boundary, and shuffle-partition sizing. Tests run on ``local[N]`` but the
defaults are chosen so the same code is sane on a 1000-executor cluster reading
100 TB: nothing here pins data to the driver, and per-query knobs (broadcast
thresholds, partition counts) stay overridable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults applied by :func:`get_spark`. Chosen for cluster-scale sanity, not
#: local convenience: AQE coalesces/splits shuffle partitions at runtime, so the
#: static ``shuffle.partitions`` value is a ceiling, not a tuning burden.
DEFAULT_CONFS = {
    # Runtime re-planning: coalesce small shuffle partitions, split skewed ones,
    # demote to broadcast join when a runtime size estimate allows it.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow everywhere Python touches data: pandas UDFs, toPandas,
    # createDataFrame(pandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 128 MB input splits — the parquet-scan granularity that keeps task count
    # proportional to data volume at any scale factor.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Partial aggregation pushdown for distinct-heavy plans.
    "spark.sql.optimizer.distinctBeforeIntersect.enabled": "true",
    # Parquet TIMESTAMP(NANOS) columns (events.ts in the driver testdata) read
    # as nanos-since-epoch longs instead of erroring; sources.files.load_table
    # converts them back to TimestampType.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Session timezone pinned to UTC so event-time semantics are deterministic
    # across driver/executors (the reference's timestamp_mapper extracts plain
    # values; makinage/operator.py:55-59).
    "spark.sql.session.timeZone": "UTC",
}

#: The directory holding the ``makinage_spark`` package.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "makinage_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) when no
    cluster master is configured — on a real cluster leave it unset and submit
    with ``spark-submit --master``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    confs = dict(DEFAULT_CONFS)
    if master and master.startswith("local"):
        # local mode: driver heap IS the cluster (all executor threads share
        # it), and Spark's 1g default starves 32 cores — GC pressure at
        # sf0.1, OOM at 5x. Sized from env (cluster submits set their own
        # --driver-memory/--executor-memory and never hit this branch).
        confs.setdefault(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        # Python workers fork from makinage_spark.pyworker, which stops each
        # Python task from re-parsing the zipped pyspark's directory (16 times
        # per task on CPython 3.11). Its daemon imports the package before
        # any task, so the workers' path names the package root; Spark merges
        # it with the driver's PYTHONPATH. Cluster masters keep pyspark.daemon,
        # where a package shipped only as a --py-files zip still serves.
        confs.setdefault("spark.python.daemon.module", "makinage_spark.pyworker")
        confs.setdefault("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
