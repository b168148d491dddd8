"""Kafka source/sink wiring (reference: makinage/operator.py:216-269,
makinage/data/pull.py:6-76).

Mapping of the reference's topic options (SURVEY §1.3, §2.1 A1/A2/A14):

- ``start_from: end|beginning|last`` → ``startingOffsets: latest|earliest``
  for a stream (checkpointed offsets own the rest). A batch read takes the
  whole retained log and applies :func:`bounded`, the one bounded-read rule
  this connector and the topic emulator share: ``beginning`` is the whole
  log, ``end`` is empty, ``last`` is the final message per (topic,
  partition) — the compacted model-topic pattern (config.sample.serve.yml:
  8-10).
- ``max_partition_fetch_bytes`` → ``kafka.max.partition.fetch.bytes``
  (makinage/operator.py:258); producer ``max_request_size`` →
  ``kafka.max.request.size`` (makinage/operator.py:267). A topic's
  ``options:`` map goes to the reader and to the writer.
- PID backpressure (makinage/operator.py:98-130) → ``maxOffsetsPerTrigger``
  (engine-managed pacing; SURVEY §7.2 drops the PID loop).
- ``partition_selector`` (makinage/operator.py:44-48) → the Kafka ``key``
  column routes partitions; default (random over partitions) = Kafka's own
  round-robin when key is null.
- ``encoder:`` → the codec pair of :data:`makinage_spark.encodings.ENCODINGS`
  (:func:`decode_value` / :func:`encode_value`).

:func:`kafka_sink` is the one producer sink: a batch write for a batch
frame, a checkpointed ``foreachBatch`` of the same write for a streaming one.

The Kafka connector JAR (spark-sql-kafka) may be absent in a test container —
option construction is pure and unit-testable; ``.load()``/``.save()`` only
run where the package is available.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from makinage_spark.encodings import ENCODINGS

START_FROM_TO_OFFSETS = {"end": "latest", "beginning": "earliest", "last": "earliest"}


def source_options(
    server: str,
    topics: list[str],
    start_from: str = "end",
    max_partition_fetch_bytes: int | None = None,
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """Build the reader option map (pure; unit-tested without a broker)."""
    if start_from not in START_FROM_TO_OFFSETS:
        raise ValueError(f"start_from must be end|beginning|last, got {start_from!r}")
    opts = {
        "kafka.bootstrap.servers": server,
        "subscribe": ",".join(topics),
        "startingOffsets": START_FROM_TO_OFFSETS[start_from],
    }
    if max_partition_fetch_bytes:
        opts["kafka.max.partition.fetch.bytes"] = str(max_partition_fetch_bytes)
    if max_offsets_per_trigger:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def _codec(encoding: str):
    if encoding not in ENCODINGS:
        raise ValueError(f"unknown encoding {encoding!r}")
    return ENCODINGS[encoding]


def decode_value(df: DataFrame, encoding: str = "string", schema: str | None = None) -> DataFrame:
    """Apply the topic decoder to the raw Kafka ``value: binary`` column
    (reference encoders A10-A13, makinage/encoding/*); ``json`` needs the
    topic's schema and flattens the record next to the wire columns, every
    other codec writes its decoded ``value`` over the raw one."""
    decode = _codec(encoding)[1]
    if encoding != "json":
        return decode(out="value")(df)
    if schema is None:
        raise ValueError("json encoding requires a schema")
    return decode(schema)(df).select("key", "topic", "partition", "offset", "timestamp", "record.*")


def bounded(raw: DataFrame, start_from: str) -> DataFrame:
    """The bounded read of a wire frame at ``start_from``: ``beginning`` is
    the whole log, ``end`` is empty (nothing lies beyond the log end), and
    ``last`` is the final message per (topic, partition)."""
    if start_from == "beginning":
        return raw
    if start_from == "end":
        return raw.filter(F.lit(False))
    if start_from == "last":
        w = Window.partitionBy("topic", "partition").orderBy(F.desc("offset"))
        return raw.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1").drop("__rn")
    raise ValueError(f"start_from must be beginning|end|last, got {start_from!r}")


def kafka_source(
    spark: SparkSession,
    server: str,
    topics: list[str],
    encoding: str = "string",
    schema: str | None = None,
    start_from: str = "end",
    streaming: bool = True,
    options: dict[str, Any] | None = None,
) -> DataFrame:
    """Subscribe topics → decoded DataFrame (A1). Batch mode reads the
    retained log (earliest→latest) and applies :func:`bounded` — the
    reference's ``source_type: batch`` (makinage/operator.py:176-178) /
    ``pull()`` helper (makinage/data/pull.py)."""
    opts = source_options(server, topics, start_from)
    if not streaming:
        opts.update(startingOffsets="earliest", endingOffsets="latest")
    if options:
        opts.update({k: str(v) for k, v in options.items()})
    reader = (spark.readStream if streaming else spark.read).format("kafka")
    raw = reader.options(**opts).load()
    return decode_value(raw if streaming else bounded(raw, start_from), encoding, schema)


def encode_value(df: DataFrame, encoding: str = "string", key: str | None = None) -> DataFrame:
    """Encode columns into the Kafka ``value`` (+ optional ``key``) wire
    columns (A2; key ≈ partition_selector, A14)."""
    cols = [F.col("value")]
    if key:
        cols.insert(0, F.col(key).cast("binary").alias("key"))
    return _codec(encoding)[0]()(df).select(*cols)


def sink_options(topic: dict[str, Any]) -> dict[str, str]:
    """The writer option map of a topic dict (pure): bootstrap server and
    topic name, ``max_request_size``, then the topic's ``options:``."""
    opts = {"kafka.bootstrap.servers": topic["server"], "topic": topic["name"]}
    if topic.get("max_request_size"):
        opts["kafka.max.request.size"] = str(topic["max_request_size"])
    opts.update({k: str(v) for k, v in topic.get("options", {}).items()})
    return opts


def kafka_sink(df: DataFrame, topic: dict[str, Any], checkpoint: str | None = None):
    """Produce ``df`` onto ``topic`` (A2): a batch write, or for a streaming
    ``df`` the same write per micro-batch (``foreachBatch``, default
    trigger) under ``checkpoint``. Returns the query, or None."""
    opts = sink_options(topic)

    def write(batch: DataFrame, _batch_id: int | None = None) -> None:
        encoded = encode_value(batch, topic.get("encoder", "string"), topic.get("key"))
        encoded.write.format("kafka").options(**opts).save()

    if not df.isStreaming:
        write(df)
        return None
    return df.writeStream.foreachBatch(write).option("checkpointLocation", checkpoint).start()
