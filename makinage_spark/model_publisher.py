"""Model publisher (A9): publish model artifact files onto a model topic.

Reference: ``makinage-model-publisher`` reads each configured model archive and
produces it onto a Kafka topic with the ``none`` (raw bytes) encoding and a
32 MB max request size (makinage/model_publisher/model_publisher.py:30-111,
config.sample.model_publisher.yml). The serving layer then hot-swaps on each
new message (SURVEY §3.2).

Spark mapping: a trivial batch job — ``binaryFile`` source → one row per
artifact → Kafka (or any) sink. The 32 MB cap becomes the topic's default
``max_request_size``, which ``sources.kafka.sink_options`` turns into the
producer option ``kafka.max.request.size`` (a topic's own
``max_request_size`` or ``options:`` entry wins).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Reference's publish size cap (model_publisher.py:66).
MAX_REQUEST_SIZE = 32 * 1024 * 1024


def read_model_files(spark: SparkSession, paths: list[str]) -> DataFrame:
    """One row per artifact: (path, modificationTime, length, content bytes).
    ``binaryFile`` streams file bytes through the scan — artifacts never pass
    through the driver (unlike the reference, which buffers each in memory)."""
    df = spark.read.format("binaryFile").load(paths)
    return df.select(
        F.col("path").alias("model_path"),
        F.col("length").alias("model_bytes"),
        F.col("content").alias("value"),
    )


def publish_models(
    spark: SparkSession, config: dict[str, Any]
) -> list[tuple[str, int]]:
    """Publish every configured model: ``config = {"models": [{"file": ...,
    "topic": {...}}]}``. Topic dicts use the graph-runner schema: ``format:
    kafka`` (server/options) or any file format with ``path`` (the test/dev
    sink). Returns ``(topic_name, artifacts_published)`` per model."""
    from makinage_spark.sources.kafka import kafka_sink
    from makinage_spark.sources.kafka_emulator import emu_sink

    out = []
    for model in config.get("models", []):
        df = read_model_files(spark, [model["file"]])
        topic = model["topic"]
        fmt = topic.get("format", "parquet")
        if df.filter(F.col("model_bytes") > MAX_REQUEST_SIZE).limit(1).count():
            raise ValueError(
                f"model artifact exceeds the {MAX_REQUEST_SIZE} byte publish cap"
            )
        if fmt == "kafka":
            kafka_sink(df.select("value"), {"max_request_size": MAX_REQUEST_SIZE, **topic})
        elif fmt == "kafka_emu":
            # model topics are single-partition compacted logs: the consumer
            # reads the LAST retained message (start_from: last,
            # config.sample.serve.yml:8-10)
            emu_sink(df.select("value"), {**topic, "encoder": "none", "partitions": 1})
        else:
            df.write.format(fmt).mode(topic.get("mode", "append")).save(topic["path"])
        out.append((topic.get("name", topic.get("path", "?")), df.count()))
    return out
