"""YAML dataflow-graph compiler.

Reference lifecycle (SURVEY §3.1): config → topic table → operator factories →
wired sinks (makinage/operator.py:162-279). This compiler keeps the same graph
schema and factory contract, producing DataFrames:

- topic (``format: parquet|csv|kafka|memory``) → source DataFrame
  (``spark.read`` in batch mode, ``spark.readStream`` in stream mode — the
  reference's batch/stream unification switch ``source_type``,
  makinage/operator.py:176-178, is native here)
- ``timestamp_field`` + ``watermark`` → event-time column (the reference's
  ``timestamp_mapper``/pull mode, makinage/operator.py:55-59; watermarks
  subsume ``merge_lookup_depth``)
- operator ``factory(config, *sources) -> (sinks,)`` — the exact factory shape
  of makinage/operator.py:229, loaded by ``module:function``
  (makinage/util.py:5-23)
- sink topics are written back per format (batch write / ``writeStream``);
  the two Kafka formats go through their connector's one sink, which picks
  a batch write or a ``foreachBatch`` from ``df.isStreaming``.

Example (the multiply sample, config.sample.yml:1-17 re-expressed)::

    application: {name: sample, source_type: batch}
    topics:
      - {name: values, format: parquet, path: /tmp/in, schema: 'value string'}
      - {name: multiplied_values, format: parquet, path: /tmp/out}
    operators:
      multiply:
        factory: makinage_spark.sample.processor:multiply
        config: {multiply: 3}
        sources: [values]
        sinks: [multiplied_values]
"""

from __future__ import annotations

import os
from typing import Any

import yaml
from pyspark.sql import DataFrame, SparkSession

from makinage_spark.plans.loader import import_function


def _load_topic(spark: SparkSession, topic: dict[str, Any], streaming: bool) -> DataFrame:
    fmt = topic.get("format", "parquet")
    name = topic["name"]
    if fmt == "memory":
        # test source: inline rows + DDL schema
        return spark.createDataFrame(topic.get("rows", []), topic["schema"])
    if fmt in ("parquet", "csv", "json"):
        reader = spark.readStream if streaming else spark.read
        if "schema" in topic:
            reader = reader.schema(topic["schema"])
        elif streaming:
            raise ValueError(f"streaming topic {name!r} requires an explicit schema")
        df = reader.format(fmt).options(**topic.get("options", {})).load(topic["path"])
    elif fmt == "app":
        # user-generator topic (A5): the Python Data Source app connector
        from makinage_spark.sources.app_source import AppSource

        try:
            spark.dataSource.register(AppSource)
        except Exception:
            pass  # already registered
        reader = spark.readStream if streaming else spark.read
        opts = {k: str(v) for k, v in topic.get("options", {}).items()}
        if "schema" in topic:
            opts["schema"] = topic["schema"]
        df = reader.format("makinage_app_source").options(**opts).load()
    elif fmt == "kafka":
        from makinage_spark.sources.kafka import kafka_source

        df = kafka_source(
            spark,
            server=topic["server"],
            topics=[name],
            encoding=topic.get("encoder", "string"),
            schema=topic.get("schema"),
            start_from=topic.get("start_from", "end"),
            streaming=streaming,
            options=topic.get("options"),
        )
    elif fmt == "kafka_emu":
        # broker-less twin of the kafka format: same wire schema, codecs and
        # start_from semantics over a file-backed log (sources/kafka_emulator)
        from makinage_spark.sources.kafka_emulator import emu_source

        df = emu_source(
            spark,
            broker_dir=topic["broker_dir"],
            topics=[name],
            encoding=topic.get("encoder", "string"),
            schema=topic.get("schema"),
            start_from=topic.get("start_from", "beginning"),
            streaming=streaming,
        )
    else:
        raise ValueError(f"unknown topic format {fmt!r} for {name!r}")
    ts_field = topic.get("timestamp_field")
    if ts_field and streaming:
        df = df.withWatermark(ts_field, topic.get("watermark", "10 minutes"))
    return df


def compile_graph(
    spark: SparkSession, config: dict[str, Any] | str
) -> tuple[dict[str, DataFrame], dict[str, Any]]:
    """Compile a YAML graph (dict or path) → ``{sink_topic: DataFrame}``.

    Pure plan construction: nothing executes until :func:`run_graph` (or the
    caller) writes the sinks — Catalyst sees each sink's whole pipeline and
    optimizes across operator boundaries, which the reference's opaque Rx
    closures structurally prevent (SURVEY §4.1).
    """
    if isinstance(config, str):
        with open(config) as f:
            config = yaml.safe_load(f)
    app = config.get("application", {})
    streaming = app.get("source_type", "stream") == "stream"
    topics = {t["name"]: t for t in config.get("topics", [])}

    source_cache: dict[str, DataFrame] = {}

    def source_df(name: str) -> DataFrame:
        if name not in source_cache:
            if name not in topics:
                raise ValueError(f"operator references undeclared topic {name!r}")
            source_cache[name] = _load_topic(spark, topics[name], streaming)
        return source_cache[name]

    sinks: dict[str, DataFrame] = {}
    for op_name, op in config.get("operators", {}).items():
        factory = import_function(op["factory"])
        inputs = [source_df(s) for s in op.get("sources", [])]
        outputs = factory(op.get("config", {}), *inputs)
        if isinstance(outputs, DataFrame):
            outputs = (outputs,)
        sink_names = op.get("sinks", [])
        if len(sink_names) != len(outputs):
            raise ValueError(
                f"operator {op_name!r} declared {len(sink_names)} sinks but "
                f"factory returned {len(outputs)} outputs"
            )
        for sink_name, df in zip(sink_names, outputs):
            if sink_name in sinks:
                raise ValueError(f"topic {sink_name!r} written by two operators")
            sinks[sink_name] = df
    return sinks, {"streaming": streaming, "topics": topics, "application": app}


def _checkpoint(name: str, topic: dict[str, Any]) -> str:
    """A streaming sink's checkpoint: ``checkpoint:``, else a place owned by
    the sink — ``<path or /tmp/name>/_checkpoint`` for files and memory, and
    inside the broker dir for an emulated topic, so a rerun after the broker
    is wiped does not resume from a stale checkpoint. A Kafka sink must name
    one: a shared default would let two graphs that write one topic name
    resume each other's offsets."""
    if "checkpoint" in topic:
        return topic["checkpoint"]
    fmt = topic.get("format", "parquet")
    if fmt == "kafka_emu":
        return os.path.join(topic["broker_dir"], "_ck", name)
    if fmt == "kafka":
        raise ValueError(f"streaming kafka sink {name!r} needs a checkpoint:")
    return f"{topic.get('path', '/tmp/' + name)}/_checkpoint"


def run_graph(spark: SparkSession, config: dict[str, Any] | str, await_batch: bool = True):
    """Compile and execute: write every sink topic.

    Batch mode: ``df.write`` per sink (overwrite). Stream mode: one
    checkpointed streaming query per sink (the reference runs one Rx
    subscription per sink, makinage/operator.py:244-251), each started and,
    with ``await_batch``, awaited before the next starts. Returns
    ``(name, handle)`` pairs: the ``StreamingQuery`` of each streaming sink,
    the collected rows of a batch memory sink.
    """
    from makinage_spark.sources.kafka import kafka_sink
    from makinage_spark.sources.kafka_emulator import emu_sink

    sinks, meta = compile_graph(spark, config)
    streaming = meta["streaming"]
    handles = []
    for name, df in sinks.items():
        topic = meta["topics"].get(name)
        if topic is None:
            raise ValueError(f"sink topic {name!r} not declared in topics:")
        fmt = topic.get("format", "parquet")
        ck = _checkpoint(name, topic) if streaming else None
        q = None
        if fmt == "kafka":
            q = kafka_sink(df, topic, ck)
        elif fmt == "kafka_emu":
            q = emu_sink(df, topic, ck)
        elif streaming:
            writer = df.writeStream.option("checkpointLocation", ck).trigger(availableNow=True)
            if fmt == "memory":
                q = writer.format("memory").queryName(name).start()
            else:
                q = writer.format(fmt).options(**topic.get("options", {})).start(topic["path"])
        elif fmt == "memory":
            # test/debug sink ONLY: materializes on the driver. Guarded so a
            # production graph misconfigured to memory can't OOM the driver —
            # cap via topic {"max_rows": N} (default 100k).
            cap = int(topic.get("max_rows", 100_000))
            rows = df.limit(cap + 1).collect()
            if len(rows) > cap:
                raise ValueError(
                    f"memory sink {name!r} exceeds max_rows={cap}; "
                    "use a file/kafka sink for large results"
                )
            handles.append((name, rows))
        else:
            df.write.format(fmt).mode(topic.get("mode", "overwrite")).options(
                **topic.get("options", {})
            ).save(topic["path"])
        if q is not None:
            if await_batch:
                q.awaitTermination()
            handles.append((name, q))
    return handles
