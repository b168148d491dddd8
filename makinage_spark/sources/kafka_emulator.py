"""File-backed Kafka topic emulator: the broker-less twin of
:mod:`makinage_spark.sources.kafka`.

No broker exists in the test environment, so the Kafka deployment surface
(reference: makinage/operator.py:216-269 — config → topics → operators →
sinks over Kafka) is proven end-to-end against an emulated topic layer that
implements the SAME wire contract the real connector exposes:

- message schema ``(key binary, value binary, topic string, partition int,
  offset bigint, timestamp timestamp)`` — identical to spark-sql-kafka's
  source columns, so :func:`makinage_spark.sources.kafka.decode_value` /
  ``encode_value`` (the reference's encoder layer, A10–A13) run unchanged;
- per-partition monotonically increasing offsets assigned at produce time;
- ``start_from: beginning|end|last`` read semantics
  (makinage/operator.py:50-53): a batch read applies the connector's own
  :func:`makinage_spark.sources.kafka.bounded` (``beginning`` replays the
  full retained log, ``end`` is empty, ``last`` is the final retained
  message per partition, the compacted model-topic pattern,
  config.sample.serve.yml:8-10); a stream replays from ``beginning``;
- key-hash partition routing (null key → round-robin), the
  ``partition_selector`` contract (A14, makinage/operator.py:44-48).

Storage is one parquet directory per topic under a broker root — append-only
like a log segment; a streaming subscription is a plain file stream over the
topic directory, so Structured Streaming's checkpoint/offset machinery (the
real connector's replay path) is exercised for free. :func:`emu_sink` is the
one producer sink, a batch :func:`produce` or one per micro-batch.
"""

from __future__ import annotations

import os
from typing import Any
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from makinage_spark.sources.kafka import bounded, decode_value, encode_value

WIRE_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset bigint, timestamp timestamp"
)


def topic_path(broker_dir: str, topic: str) -> str:
    return os.path.join(broker_dir, topic)


def _local_dir(path: str) -> str | None:
    """The local directory ``path`` names, or None when only Spark's reader
    can answer for it (a remote scheme such as hdfs:// or s3a://).

    The rule: a raw, scheme-less path is used as it is, never through
    urlparse, which would cut a ``#`` or ``?`` in it into a fragment or
    query. A ``file:`` URI with an empty or ``localhost`` authority, in any
    of its ``file:/``, ``file://`` and ``file:///`` spellings, is parsed and
    unquoted (Hadoop writes a space as ``%20``). Reading an existing local
    log as empty would restart offsets and append duplicates; the tests
    ``test_local_dir_rule``, ``test_single_slash_file_uri_sees_existing_log``
    and ``test_scheme_prefixed_broker_dir_roundtrip`` pin it."""
    parsed = urlparse(path)
    if parsed.scheme == "":
        return path
    if parsed.scheme == "file" and parsed.netloc in ("", "localhost"):
        return unquote(parsed.path)
    return None


def _existing(spark: SparkSession, broker_dir: str, topic: str) -> DataFrame:
    path = topic_path(broker_dir, topic)
    local = _local_dir(path)
    if local is not None:
        # a missing local topic is an empty log, answered before the reader:
        # a failed DataSource resolution is re-raised asynchronously by any
        # lingering ExecutionListener (test_missing_topic_never_reaches_the_reader)
        if not os.path.isdir(local):
            return spark.createDataFrame([], WIRE_SCHEMA)
        return spark.read.schema(WIRE_SCHEMA).parquet(path)
    try:
        return spark.read.schema(WIRE_SCHEMA).parquet(path)
    except Exception:  # remote topic not yet created: empty log
        return spark.createDataFrame([], WIRE_SCHEMA)


_OFFSET_COLS = pa.schema([("partition", pa.int32()), ("offset", pa.int64())])


def _log_end(spark: SparkSession, broker_dir: str, topic: str) -> dict[int, int]:
    """partition → max offset of the topic log; {} for an empty one. A local
    log answers the way a broker answers from partition metadata: pyarrow
    reads the ``partition``/``offset`` columns of the segments the directory
    lists now (skipping the ``_``/``.``-prefixed names Spark's listing skips),
    so segments from any writer count and no Spark job runs. A remote
    broker_dir keeps the Spark read."""
    path = topic_path(broker_dir, topic)
    local = _local_dir(path)
    if local is not None:
        if not os.path.isdir(local):
            return {}
        cols = ds.dataset(local, schema=_OFFSET_COLS, format="parquet").to_table()
        agg = cols.group_by("partition").aggregate([("offset", "max")]).to_pydict()
        return dict(zip(agg["partition"], agg["offset_max"]))
    return {
        r["partition"]: r["hi"]
        for r in _existing(spark, broker_dir, topic)
        .groupBy("partition")
        .agg(F.max("offset").alias("hi"))
        .collect()
    }


def produce(
    spark: SparkSession,
    broker_dir: str,
    topic: str,
    df: DataFrame,
    encoding: str = "string",
    key: str | None = None,
    partitions: int = 2,
) -> None:
    """Append ``df``'s rows to the topic log (the A2 producer contract).

    ``encoding``/``key`` run through the real codec layer
    (:func:`encode_value`); partition = key-hash when a key column is given,
    else round-robin (Kafka's null-key behavior); offsets continue from the
    per-partition log-end offsets. For a local log those come from a
    driver-side pyarrow read of the ``partition``/``offset`` columns
    (:func:`_log_end`), which starts no Spark job; a remote broker_dir reads
    the offset column of the whole log with Spark."""
    encoded = encode_value(df, encoding, key)  # (value) or (key, value)
    # ONE materialized sequence id drives both round-robin routing and the
    # intra-partition offset order — two separate monotonically_increasing_id
    # expressions would evaluate independently and disagree across stages
    framed = encoded.select(
        F.col("key") if key else F.lit(None).cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        F.monotonically_increasing_id().alias("__mid"),
    )
    part = F.pmod(F.xxhash64("key") if key else F.col("__mid"), F.lit(partitions)).cast("int")
    highs = _log_end(spark, broker_dir, topic)
    base = F.create_map(
        *[x for p in range(partitions) for x in (F.lit(p), F.lit(highs.get(p, -1)))]
    )
    w = Window.partitionBy(part).orderBy("__mid")
    out = framed.select(
        "key",
        "value",
        F.lit(topic).alias("topic"),
        part.alias("partition"),
        (F.element_at(base, part).cast("bigint") + F.row_number().over(w)).cast("bigint").alias("offset"),
        F.current_timestamp().alias("timestamp"),
    )
    out.write.mode("append").parquet(topic_path(broker_dir, topic))


def emu_source(
    spark: SparkSession,
    broker_dir: str,
    topics: list[str],
    encoding: str = "string",
    schema: str | None = None,
    start_from: str = "beginning",
    streaming: bool = False,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Subscribe topics → decoded DataFrame: the A1 consumer contract with
    the reference's ``start_from`` semantics (:func:`bounded`). Decoding is
    the SAME ``decode_value`` the real connector path uses.

    ``max_files_per_trigger`` bounds how much of the retained log each
    micro-batch ingests — the emulator's pacing contract. The reference
    paces consumption with a PID backpressure loop (makinage/operator.py:
    98-130); Spark's engine-managed equivalent is a per-trigger admission
    bound (``maxOffsetsPerTrigger`` on the real Kafka connector,
    ``maxFilesPerTrigger`` on this file-backed log — each produce() append
    is one log segment, so the record bound is segment-granular)."""
    if streaming:
        if start_from != "beginning":
            # a file stream replays the whole retained log, then tails new
            # files — exactly Kafka startingOffsets=earliest. end/last need
            # checkpointed consumer groups, out of emulator scope.
            raise ValueError("streaming emulated topics support start_from: beginning")

        def _reader():
            r = spark.readStream.schema(WIRE_SCHEMA)
            if max_files_per_trigger is not None:
                r = r.option("maxFilesPerTrigger", int(max_files_per_trigger))
            return r

        parts = [
            _reader().parquet(topic_path(broker_dir, t)) for t in topics
        ]
    else:
        parts = [_existing(spark, broker_dir, t) for t in topics]
    raw = parts[0]
    for p in parts[1:]:
        raw = raw.unionByName(p)
    return decode_value(raw if streaming else bounded(raw, start_from), encoding, schema)


def emu_sink(df: DataFrame, topic: dict[str, Any], checkpoint: str | None = None):
    """Producer sink for the graph compiler (the twin of ``kafka_sink``):
    :func:`produce` ``df``, or for a streaming ``df`` each micro-batch
    through ``foreachBatch`` under ``checkpoint``, drained by an
    ``availableNow`` trigger (offsets continue from the log end, which is
    per-batch driver-side state — the same transactional-append shape the
    real sink delegates to the broker). Returns the query, or None."""

    def write(batch: DataFrame, _batch_id: int | None = None) -> None:
        produce(
            batch.sparkSession,
            topic["broker_dir"],
            topic["name"],
            batch,
            encoding=topic.get("encoder", "string"),
            key=topic.get("key"),
            partitions=int(topic.get("partitions", 2)),
        )

    if not df.isStreaming:
        write(df)
        return None
    return (
        df.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
