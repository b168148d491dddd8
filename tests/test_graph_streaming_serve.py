"""Graph runner, Kafka option mapping, stateful streaming, and serve layer.

Streaming tests use file sources + Trigger.AvailableNow + memory sinks — the
deterministic replay harness the reference lacks (SURVEY §5)."""

import shutil
import time
import uuid

import pytest
from pyspark.sql import functions as F

from makinage_spark import serve as mserve
from makinage_spark.plans import compile_graph, import_function, run_graph
from makinage_spark.sources import kafka as mkafka
from makinage_spark.streaming import streaming_roll, streaming_scan, with_event_time


def tmpdir():
    d = f"/tmp/mk_test_{uuid.uuid4().hex[:8]}"
    return d


# ---------------------------------------------------------------------------
# module:function loader (A30, makinage/util.py:5-23)
# ---------------------------------------------------------------------------


def test_import_function_with_kwargs():
    fn = import_function("operator:mul")
    assert fn(3, 4) == 12
    add10 = import_function("operator:add")
    assert add10(1, 2) == 3


def test_import_function_errors():
    with pytest.raises(ValueError):
        import_function("no_colon")
    with pytest.raises(ImportError):
        import_function("definitely_missing_module:fn")
    with pytest.raises(AttributeError):
        import_function("operator:missing_fn")


# ---------------------------------------------------------------------------
# YAML graph (multiply sample golden, config.sample.yml + FIXTURES §1.1)
# ---------------------------------------------------------------------------


def test_graph_multiply_sample_batch(spark):
    indir, outdir = tmpdir(), tmpdir()
    spark.createDataFrame([("5",), ("7",)], "value string").write.parquet(indir)
    config = {
        "application": {"name": "sample", "source_type": "batch"},
        "topics": [
            {"name": "values", "format": "parquet", "path": indir, "schema": "value string"},
            {"name": "multiplied_values", "format": "parquet", "path": outdir},
        ],
        "operators": {
            "multiply": {
                "factory": "makinage_spark.sample.processor:multiply",
                "config": {"multiply": 3},
                "sources": ["values"],
                "sinks": ["multiplied_values"],
            }
        },
    }
    run_graph(spark, config)
    got = sorted(r.value for r in spark.read.parquet(outdir).collect())
    assert got == ["15", "21"]  # "5"×3 golden (config.sample.yml semantics)
    shutil.rmtree(indir), shutil.rmtree(outdir)


def test_graph_multiply_sample_streaming(spark):
    indir, outdir = tmpdir(), tmpdir()
    spark.createDataFrame([("5",)], "value string").write.parquet(indir)
    config = {
        "application": {"name": "sample", "source_type": "stream"},
        "topics": [
            {"name": "values", "format": "parquet", "path": indir, "schema": "value string"},
            {"name": "multiplied_values", "format": "parquet", "path": outdir,
             "checkpoint": outdir + "_ck"},
        ],
        "operators": {
            "multiply": {
                "factory": "makinage_spark.sample.processor:multiply",
                "config": {"multiply": 3},
                "sources": ["values"],
                "sinks": ["multiplied_values"],
            }
        },
    }
    run_graph(spark, config)  # same YAML, streaming execution — A3 unification
    got = [r.value for r in spark.read.parquet(outdir).collect()]
    assert got == ["15"]
    shutil.rmtree(indir), shutil.rmtree(outdir), shutil.rmtree(outdir + "_ck")


def test_graph_validation_errors(spark):
    with pytest.raises(ValueError, match="undeclared topic"):
        compile_graph(spark, {
            "application": {"source_type": "batch"},
            "topics": [],
            "operators": {"op": {
                "factory": "makinage_spark.sample.processor:multiply",
                "sources": ["ghost"], "sinks": ["out"]}},
        })


# ---------------------------------------------------------------------------
# Kafka option mapping (A1/A2, makinage/operator.py:216-269) — broker-free
# ---------------------------------------------------------------------------


def test_kafka_source_options():
    opts = mkafka.source_options(
        "broker:9092", ["t1", "t2"], start_from="beginning",
        max_partition_fetch_bytes=1048576, max_offsets_per_trigger=10000,
    )
    assert opts == {
        "kafka.bootstrap.servers": "broker:9092",
        "subscribe": "t1,t2",
        "startingOffsets": "earliest",
        "kafka.max.partition.fetch.bytes": "1048576",
        "maxOffsetsPerTrigger": "10000",
    }
    assert mkafka.source_options("b", ["t"])["startingOffsets"] == "latest"
    with pytest.raises(ValueError):
        mkafka.source_options("b", ["t"], start_from="nope")


def test_kafka_sink_options_and_encode(spark):
    opts = mkafka.sink_options(
        {"server": "broker:9092", "name": "out", "max_request_size": 32 * 1024 * 1024}
    )
    assert opts["kafka.max.request.size"] == str(32 * 1024 * 1024)
    df = spark.createDataFrame([("k1", "hello")], "k string, value string")
    encoded = mkafka.encode_value(df, "string", key="k")
    row = encoded.collect()[0]
    assert bytes(row.key) == b"k1" and bytes(row.value) == b"hello"


def test_kafka_json_decode_roundtrip(spark):
    raw = spark.createDataFrame(
        [("key0", bytearray(b'{"x": 1.5}'), "t", 0, 0, None)],
        "key string, value binary, topic string, partition int, offset long, timestamp timestamp",
    )
    out = mkafka.decode_value(raw, "json", "x double")
    assert out.collect()[0]["x"] == 1.5


def test_kafka_sink_options_take_the_topic_options():
    opts = mkafka.sink_options({
        "server": "b:9092", "name": "out", "max_request_size": 1024,
        "options": {"kafka.max.request.size": 2048, "kafka.acks": "all"},
    })
    assert opts == {
        "kafka.bootstrap.servers": "b:9092",
        "topic": "out",
        "kafka.max.request.size": "2048",  # options: come last and win
        "kafka.acks": "all",
    }


def _wire_frame(spark):
    """Two topics x two partitions, offsets 0..2 per partition; value names
    (topic, partition, offset)."""
    rows = [
        (None, bytearray(f"{t}{p}{o}".encode()), t, p, o, None)
        for t in ("a", "b") for p in (0, 1) for o in range(3)
    ]
    return spark.createDataFrame(
        rows,
        "key binary, value binary, topic string, partition int, offset bigint, timestamp timestamp",
    )


def test_bounded_read_rule(spark):
    raw = _wire_frame(spark)

    def values(df):
        return sorted(bytes(r.value).decode() for r in df.collect())

    assert values(mkafka.bounded(raw, "beginning")) == values(raw)
    assert len(values(raw)) == 12
    assert mkafka.bounded(raw, "end").count() == 0
    assert values(mkafka.bounded(raw, "last")) == ["a02", "a12", "b02", "b12"]
    assert mkafka.bounded(raw, "last").columns == raw.columns
    with pytest.raises(ValueError, match="beginning|end|last"):
        mkafka.bounded(raw, "nope")


def test_kafka_batch_read_honours_start_from(spark, monkeypatch):
    """A bounded ``format: kafka`` read applies start_from: ``end`` is
    empty and ``last`` is the final message per (topic, partition), as the
    emulator twin reads. The connector's load is stubbed with a wire frame."""
    from pyspark.sql.readwriter import DataFrameReader

    raw = _wire_frame(spark)
    monkeypatch.setattr(DataFrameReader, "load", lambda self, *a, **kw: raw)

    def read(start_from):
        df = mkafka.kafka_source(spark, "b:9092", ["a", "b"], start_from=start_from,
                                 streaming=False)
        return sorted(r.value for r in df.collect())

    assert len(read("beginning")) == 12
    assert read("end") == []
    assert read("last") == ["a02", "a12", "b02", "b12"]


def test_model_publisher_cap_reaches_the_kafka_producer(spark, tmp_path, monkeypatch):
    """The 32 MiB publish cap is a producer option of the Kafka write."""
    from pyspark.sql.readwriter import DataFrameWriter

    from makinage_spark import model_publisher

    seen = {}

    def options(self, **kw):
        seen.update(kw)
        return self

    monkeypatch.setattr(DataFrameWriter, "options", options)
    monkeypatch.setattr(DataFrameWriter, "save", lambda self, *a, **kw: None)
    art = tmp_path / "model.zip"
    art.write_bytes(b"model-bytes")
    topic = {"name": "models", "format": "kafka", "server": "b:9092"}
    out = model_publisher.publish_models(spark, {"models": [{"file": str(art), "topic": topic}]})
    assert out == [("models", 1)]
    assert seen["kafka.max.request.size"] == "33554432"
    assert seen["topic"] == "models" and seen["kafka.bootstrap.servers"] == "b:9092"


def test_streaming_kafka_sink_needs_a_checkpoint(spark, tmp_path):
    """No shared default checkpoint for a Kafka sink: two graphs writing one
    topic name would resume each other's offsets."""
    indir = str(tmp_path / "in")
    spark.createDataFrame([("5",)], "value string").write.parquet(indir)
    config = {
        "application": {"name": "k", "source_type": "stream"},
        "topics": [
            {"name": "values", "format": "parquet", "path": indir, "schema": "value string"},
            {"name": "out", "format": "kafka", "server": "b:9092"},
        ],
        "operators": {"multiply": {
            "factory": "makinage_spark.sample.processor:multiply",
            "config": {"multiply": 3}, "sources": ["values"], "sinks": ["out"]}},
    }
    with pytest.raises(ValueError, match="checkpoint"):
        run_graph(spark, config)


# ---------------------------------------------------------------------------
# Stateful streaming: count windows + running scan across micro-batches
# ---------------------------------------------------------------------------


def _stream_files(spark, rows_batches, schema, d):
    """Write each batch as one file; maxFilesPerTrigger=1 → one micro-batch per
    file, exercising cross-batch state."""
    for i, rows in enumerate(rows_batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{d}/b{i}", mode="overwrite"
        )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/b*")
    )


def test_streaming_roll_readme_golden_across_batches(spark):
    d = tmpdir()
    schema = "user long, seq long, value double"
    # [1..7] split across 3 micro-batches; roll(3,3)+mean → [2.0, 5.0]
    stream = _stream_files(
        spark,
        [
            [(1, 1, 1.0), (1, 2, 2.0)],
            [(1, 3, 3.0), (1, 4, 4.0), (1, 5, 5.0)],
            [(1, 6, 6.0), (1, 7, 7.0)],
        ],
        schema,
        d,
    )
    out = streaming_roll(stream, "user", "value", "seq", window=3, stride=3, agg="mean")
    name = f"roll_{uuid.uuid4().hex[:6]}"
    q = (
        out.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", d + "_ck")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.window_id, r.agg_value)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    )
    assert got == [(0, 2.0), (1, 5.0)]  # README.rst:77-90, partial [7] dropped
    shutil.rmtree(d), shutil.rmtree(d + "_ck")


def test_streaming_roll_sliding_stride(spark):
    d = tmpdir()
    schema = "user long, seq long, value double"
    stream = _stream_files(
        spark, [[(1, i, float(i)) for i in range(1, 6)]], schema, d
    )
    out = streaming_roll(stream, "user", "value", "seq", window=3, stride=1)
    name = f"roll_{uuid.uuid4().hex[:6]}"
    q = (out.writeStream.format("memory").queryName(name)
         .option("checkpointLocation", d + "_ck").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(r.agg_value for r in spark.sql(f"SELECT * FROM {name}").collect())
    assert got == [2.0, 3.0, 4.0]
    shutil.rmtree(d), shutil.rmtree(d + "_ck")


def test_streaming_scan_state_survives_batches(spark):
    d = tmpdir()
    schema = "user long, seq long, value double"
    stream = _stream_files(
        spark,
        [[(1, 1, 10.0), (2, 1, 1.0)], [(1, 2, 5.0)]],
        schema,
        d,
    )
    out = streaming_scan(stream, "user", "value", "seq")
    name = f"scan_{uuid.uuid4().hex[:6]}"
    q = (out.writeStream.format("memory").queryName(name)
         .option("checkpointLocation", d + "_ck").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(
        (r.user, r.seq, r.running_total, r.running_count)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    )
    assert got == [(1, 1, 10.0, 1), (1, 2, 15.0, 2), (2, 1, 1.0, 1)]
    shutil.rmtree(d), shutil.rmtree(d + "_ck")


def test_with_event_time_batch_passthrough(spark):
    df = spark.createDataFrame([(1, "2024-01-01 00:00:00")], "id long, t string")
    out = with_event_time(df, F.col("t"))
    assert "__event_time" in out.columns


# ---------------------------------------------------------------------------
# Serve layer (makinage/serve/serve.py goldens, FIXTURES §1.3)
# ---------------------------------------------------------------------------


def test_serve_custom_predict_ratio(spark):
    data = spark.createDataFrame([(1.0,), (2.0,)], "x double")
    config = {
        "input_field": "x",
        "output_field": "pred",
        "predict": "makinage_spark.sample.serve:ratio_predict",
    }
    out = mserve.serve(config, data, model={"ratio": 2}, output_schema="x double, pred double")
    got = sorted((r.x, r.pred) for r in out.collect())
    # zero-model × ratio golden (tests/test_serve.py:49-95): every input → ratio
    assert got == [(1.0, 2.0), (2.0, 2.0)]
    # "hot swap" to ratio 3 (config/model change between batches)
    out3 = mserve.serve(config, data, model={"ratio": 3}, output_schema="x double, pred double")
    assert sorted(r.pred for r in out3.collect()) == [3.0, 3.0]


def test_serve_error_isolation(spark):
    data = spark.createDataFrame([(1.0,)], "x double")

    def boom(features):
        raise RuntimeError("bad model")

    config = {"input_field": "x"}
    out = mserve.serve(config, data, model=type("M", (), {"predict": staticmethod(boom)})(),
                       output_schema="x double, pred double")
    assert out.collect() == []  # batch dropped, pipeline alive (serve.py:46-57)


def test_serve_default_schema_keeps_nested_columns(spark):
    data = spark.createDataFrame(
        [(1.0, (1, "p")), (2.0, (2, "q"))], "x double, s struct<a:int,b:string>"
    )
    config = {"input_field": "x", "predict": "makinage_spark.sample.serve:double_predict"}
    out = mserve.serve(config, data)
    assert out.columns == ["x", "s", "pred"]
    got = sorted((r.x, r.s.a, r.s.b, r.pred) for r in out.collect())
    assert got == [(1.0, 1, "p", 2.0), (2.0, 2, "q", 4.0)]


def test_serve_default_schema_on_flat_input(spark):
    """Flat input: the input's fields, all nullable, plus ``pred double``."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    data = spark.range(3).select("id", (F.col("id") * 1.0).alias("x"))
    assert not data.schema["id"].nullable
    config = {"input_field": "x", "predict": "makinage_spark.sample.serve:double_predict"}
    out = mserve.serve(config, data)
    assert out.schema == StructType([
        StructField("id", LongType(), True),
        StructField("x", DoubleType(), True),
        StructField("pred", DoubleType(), True),
    ])
    assert sorted(r.pred for r in out.collect()) == [0.0, 2.0, 4.0]


def test_serve_stream_hot_swap(spark):
    d = tmpdir()
    schema = "x double"
    spark.createDataFrame([(1.0,)], schema).coalesce(1).write.parquet(f"{d}/b0")
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{d}/b*")

    control = {"ratio": 2}
    results = []

    def sink(df, batch_id):
        results.extend((r.x, r.pred) for r in df.collect())

    config = {"input_field": "x", "predict": "makinage_spark.sample.serve:ratio_predict"}
    q = mserve.serve_stream(
        stream,
        model_loader=lambda: dict(control),
        config_loader=lambda: config,
        sink=sink,
        checkpoint=d + "_ck",
        output_schema="x double, pred double",
    )
    # run serve_stream as availableNow-like: wait for the first batch
    deadline = time.time() + 60
    while not results and time.time() < deadline:
        time.sleep(0.5)
    q.stop()
    assert (1.0, 2.0) in results

    # hot swap: new model value + new data file, restart from checkpoint
    control["ratio"] = 3
    spark.createDataFrame([(5.0,)], schema).coalesce(1).write.parquet(f"{d}/b1")
    q2 = mserve.serve_stream(
        stream, lambda: dict(control), lambda: config, sink, d + "_ck",
        output_schema="x double, pred double",
    )
    deadline = time.time() + 60
    while (5.0, 3.0) not in results and time.time() < deadline:
        time.sleep(0.5)
    q2.stop()
    assert (5.0, 3.0) in results  # swap observed at micro-batch granularity
    shutil.rmtree(d), shutil.rmtree(d + "_ck")


# ---------------------------------------------------------------------------
# Model publisher (A9, makinage/model_publisher/model_publisher.py:30-111)
# ---------------------------------------------------------------------------


def test_model_publisher_roundtrip(spark):
    from makinage_spark import model_publisher

    src, sink = tmpdir(), tmpdir()
    import os

    os.makedirs(src)
    blob = b"\x50\x4b_fake_model_zip_" + bytes(range(64))
    with open(f"{src}/model.zip", "wb") as f:
        f.write(blob)
    published = model_publisher.publish_models(
        spark,
        {"models": [{"file": f"{src}/model.zip",
                     "topic": {"format": "parquet", "path": sink, "name": "models"}}]},
    )
    assert published == [("models", 1)]
    back = spark.read.parquet(sink).collect()
    assert len(back) == 1 and bytes(back[0].value) == blob
    shutil.rmtree(src), shutil.rmtree(sink)


def test_model_publisher_size_cap(spark):
    from makinage_spark import model_publisher

    src = tmpdir()
    import os

    os.makedirs(src)
    with open(f"{src}/big.zip", "wb") as f:
        f.write(b"x" * (model_publisher.MAX_REQUEST_SIZE + 1))
    with pytest.raises(ValueError, match="publish cap"):
        model_publisher.publish_models(
            spark,
            {"models": [{"file": f"{src}/big.zip",
                         "topic": {"format": "parquet", "path": tmpdir()}}]},
        )
    shutil.rmtree(src)


def test_streaming_distinct_within_watermark(spark):
    """rs.ops.distinct in streaming with bounded state: duplicates within the
    watermark window are dropped across micro-batches."""
    from makinage_spark import ops, pipe

    d = tmpdir()
    schema = "k long, t timestamp"
    rows_b0 = [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 00:01:00")]
    rows_b1 = [(1, "2024-01-01 00:02:00"), (3, "2024-01-01 00:03:00")]  # 1 is a dup
    for i, rows in enumerate([rows_b0, rows_b1]):
        spark.createDataFrame(
            [(k, t) for k, t in rows], "k long, t string"
        ).selectExpr("k", "CAST(t AS TIMESTAMP) AS t").coalesce(1).write.parquet(
            f"{d}/b{i}"
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/b*")
        .withWatermark("t", "1 hour")
    )
    out = pipe(stream, ops.distinct("k", within_watermark=True)).select("k")
    name = f"dwm_{uuid.uuid4().hex[:6]}"
    q = (
        out.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", d + "_ck")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(r.k for r in spark.sql(f"SELECT * FROM {name}").collect())
    assert got == [1, 2, 3]
    shutil.rmtree(d), shutil.rmtree(d + "_ck")


def test_cli_run_multiply_graph(spark, tmp_path):
    """CLI parity with `makinage --config app.yaml` (makinage/makinage.py:
    138-155): the bare --config form compiles and runs the graph end-to-end."""
    import yaml

    from makinage_spark.cli import main

    indir, outdir = str(tmp_path / "values"), str(tmp_path / "out")
    spark.createDataFrame([("5",), ("7",)], "value string").write.parquet(indir)
    config = {
        "application": {"name": "cli_sample", "source_type": "batch"},
        "topics": [
            {"name": "values", "format": "parquet", "path": indir, "schema": "value string"},
            {"name": "multiplied_values", "format": "parquet", "path": outdir},
        ],
        "operators": {
            "multiply": {
                "factory": "makinage_spark.sample.processor:multiply",
                "config": {"multiply": 3},
                "sources": ["values"],
                "sinks": ["multiplied_values"],
            }
        },
    }
    cfg = tmp_path / "app.yaml"
    cfg.write_text(yaml.safe_dump(config))
    assert main(["--config", str(cfg)]) == 0
    got = sorted(r.value for r in spark.read.parquet(outdir).collect())
    assert got == ["15", "21"]


def test_cli_publish_models(spark, tmp_path):
    """CLI parity with `makinage-model-publisher` (model_publisher.py:101-111)."""
    import yaml

    from makinage_spark.cli import main

    art = tmp_path / "model.zip"
    art.write_bytes(b"\x50\x4b fake-model-bytes")
    outdir = str(tmp_path / "models_topic")
    config = {
        "models": [
            {"file": str(art), "topic": {"name": "models", "format": "parquet", "path": outdir}}
        ]
    }
    cfg = tmp_path / "pub.yaml"
    cfg.write_text(yaml.safe_dump(config))
    assert main(["publish", "--config", str(cfg)]) == 0
    rows = spark.read.parquet(outdir).collect()
    assert len(rows) == 1


def test_streaming_debounce_event_time_timers(spark, tmp_path):
    """Timer-based stateful op: bursts collapse via 'follow' flushes when a
    late-enough newcomer arrives, and the held final record flushes via an
    EVENT-TIME TIMEOUT once the watermark passes its quiet period — never by
    wall clock, so replay is deterministic."""
    import os

    from pyspark.sql import functions as F

    from makinage_spark.streaming import streaming_debounce

    d = str(tmp_path / "in")
    ck = str(tmp_path / "ck")
    outd = str(tmp_path / "out")
    os.makedirs(d)
    schema = "k string, id long, ts timestamp"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)

    def run_once():
        src = (
            spark.readStream.schema(schema)
            .parquet(d)
            .withWatermark("ts", "0 seconds")
        )
        out = streaming_debounce(src, "k", "ts", "id", gap_seconds=10)
        q = (
            out.writeStream.format("parquet")
            .option("checkpointLocation", ck)
            .option("path", outd)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        try:
            return {
                (r.k, r.order): r.reason
                for r in spark.read.parquet(outd).collect()
            }
        except Exception:
            return {}

    from datetime import datetime

    from datetime import timedelta

    t = lambda s: datetime(2024, 1, 1) + timedelta(seconds=s)  # noqa: E731
    # burst on k (0s, 5s within the 10s gap) + a lone x record
    write_batch("a", [("k", 1, t(0)), ("k", 2, t(5)), ("x", 9, t(0))])
    got1 = run_once()
    assert got1 == {}  # nothing quiet yet: 2 and 9 are held, 1 superseded
    # k@100 arrives far after the burst -> held k:2 flushes as 'follow';
    # watermark jumps to 100s, so x:9's quiet period (0s+10s) has passed ->
    # its event-time timeout fires (same run or next)
    write_batch("b", [("k", 3, t(100))])
    got2 = run_once()
    assert got2.get(("k", 2)) == "follow"
    # one more batch advances the watermark past every quiet period
    write_batch("c", [("y", 7, datetime(2024, 1, 1, 1, 0, 0))])
    got3 = run_once()
    assert got3.get(("x", 9)) == "timeout"
    assert got3.get(("k", 3)) == "timeout"
    assert ("k", 1) not in got3  # superseded burst record never emits


def test_streaming_ewma_matches_batch_fold(spark, tmp_path):
    """The O(1)-state streaming EWMA replays the batch in-row fold
    bit-for-bit (same multiply-multiply-add sequence), across TWO
    checkpointed availableNow runs (state carries the recursion over the
    restart boundary)."""
    import os

    from pyspark.sql import functions as F

    from makinage_spark import pipe, smath
    from makinage_spark.streaming import streaming_ewma

    d, ck = str(tmp_path / "in"), str(tmp_path / "ck")
    outd = str(tmp_path / "out")
    os.makedirs(d)
    schema = "k long, i long, value double"
    # i-major order so the half split lands MID-recursion for both keys
    rows = [(k, i, float((i * 37 + k * 11) % 100) + 0.25)
            for i in range(20) for k in (1, 2)]

    def run_once():
        src = spark.readStream.schema(schema).parquet(d)
        q = (
            streaming_ewma(src, "k", "value", "i", alpha=0.3)
            .writeStream.format("parquet")
            .option("checkpointLocation", ck)
            .option("path", outd)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    half = len(rows) // 2
    spark.createDataFrame(rows[:half], schema).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    run_once()
    spark.createDataFrame(rows[half:], schema).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    run_once()
    got = {(r.k, r.i): r.ewma for r in spark.read.parquet(outd).collect()}

    batch = pipe(
        spark.createDataFrame(rows, schema),
        smath.ewma("value", 0.3, by=["k"], order_by=[F.col("i")]),
    )
    want = {(r.k, r.i): r.ewma for r in batch.collect()}
    assert got == want  # bit-exact, including across the restart


def test_cli_query_list_and_run(spark, capsys):
    from makinage_spark.cli import main

    assert main(["query", "--list"]) == 0
    listed = capsys.readouterr().out.splitlines()
    assert "q1_pricing_summary" in listed and len(listed) > 150
    assert main(["query", "nope_not_a_query"]) == 2
    assert (
        main(["query", "group_by_agg", "--sf-dir", "/root/testdata/sf0.001"]) == 0
    )
    assert "event_type" in capsys.readouterr().out


def test_streaming_zip_matches_batch_ordinal_zip(spark, tmp_path):
    """Streaming rx.zip (tagged-union stateful pairing) reproduces the batch
    ordinal zip with in-order feeds, across a checkpointed restart that
    leaves one side AHEAD (unmatched tail carried in state)."""
    import os

    from pyspark.sql import functions as F

    from makinage_spark import joins
    from makinage_spark.streaming import streaming_zip

    d, ck = str(tmp_path / "in"), str(tmp_path / "ck")
    outd = str(tmp_path / "out")
    os.makedirs(d)
    schema = "k long, side int, o long, v double"
    # key 1: left has 3 records, right has 2 -> 2 pairs, left tail of 1 held
    rows1 = [(1, 0, 10, 1.0), (1, 0, 11, 2.0), (1, 1, 20, 9.0)]
    rows2 = [(1, 1, 21, 8.0), (1, 0, 12, 3.0), (2, 0, 1, 5.0), (2, 1, 2, 6.0)]

    def run_once():
        src = spark.readStream.schema(schema).parquet(d)
        q = (
            streaming_zip(src, "k", "side", "o", "v")
            .writeStream.format("parquet")
            .option("checkpointLocation", ck)
            .option("path", outd)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    for rows in (rows1, rows2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)
        run_once()
    got = sorted(
        (r.k, r.pair_seq, r.left_order, r.right_order)
        for r in spark.read.parquet(outd).collect()
    )
    assert got == [(1, 0, 10, 20), (1, 1, 11, 21), (2, 0, 1, 2)]

    # batch twin parity on the same (in-order) data
    all_rows = rows1 + rows2
    df = spark.createDataFrame(all_rows, schema)
    left = df.filter("side = 0").select("k", F.col("o").alias("lo"),
                                        F.col("v").alias("lv"))
    right = df.filter("side = 1").select("k", F.col("o").alias("ro"),
                                         F.col("v").alias("rv"))
    z = joins.zip_streams(left, right, by=["k"], left_order="lo",
                          right_order="ro")
    batch = sorted((r.k, r.lo, r.ro) for r in z.collect())
    assert batch == [(k, l, r) for (k, _s, l, r) in got]


def test_streaming_do_action_observed_metrics(spark):
    """ops.do_action on a real readStream: per-micro-batch metrics arrive on
    the progress events' observedMetrics — the Spark-side home of the
    reference's queue-depth feedback (makinage/driver/app_sink.py:57-67)."""
    from makinage_spark import ops, pipe

    d = tmpdir()
    stream = _stream_files(
        spark,
        [[(i, i * 10) for i in range(5)], [(i, i * 10) for i in range(5, 8)]],
        "id long, v long",
        d,
    )
    tapped = pipe(
        stream,
        ops.do_action("tap", F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")),
    )
    q = (
        tapped.writeStream.format("memory")
        .queryName("tap_obs")
        .outputMode("append")
        .option("checkpointLocation", f"{d}/_ck")
        .start()
    )
    try:
        q.processAllAvailable()
        seen = [
            p["observedMetrics"]["tap"]
            for p in (q.recentProgress or [])
            if p.get("observedMetrics", {}).get("tap")
        ]
    finally:
        q.stop()
    # two files -> two micro-batches, each tapped with its own counts
    assert sorted((m["n"], m["sv"]) for m in seen) == [(3, 180), (5, 100)]
    assert spark.sql("SELECT COUNT(*) c FROM tap_obs").first().c == 8


def _running_totals(config, events):
    """Graph factory: per-user running count and total of ``value``."""
    cents = events.select("user_id", "event_id", F.col("value").alias("cents"))
    return streaming_scan(cents, "user_id", "cents", "event_id")


def test_two_sink_graph_over_emulated_topics(spark, tmp_path):
    """The micro-service shape: one kafka_emu source feeding a stateful scan
    and a serve operator, each writing its own sink topic, run as repeated
    run_graph cycles with appends in between. Every event reaches each sink
    exactly once, each sink's offsets run 0..n-1 per partition, and the
    running totals equal a pandas prefix fold."""
    import numpy as np
    import pandas as pd

    from makinage_spark.sources import kafka_emulator as emu

    broker, ckpt = str(tmp_path / "broker"), str(tmp_path / "ckpt")
    schema = "event_id bigint, user_id bigint, value bigint"
    cfg = {
        "application": {"name": "two_sinks", "source_type": "stream"},
        "topics": [
            {"name": "events", "format": "kafka_emu", "broker_dir": broker,
             "encoder": "json", "schema": schema, "start_from": "beginning"},
            *({"name": s, "format": "kafka_emu", "broker_dir": broker,
               "encoder": "json", "checkpoint": f"{ckpt}/{s}"}
              for s in ("running", "scored")),
        ],
        "operators": {
            "scan": {"factory": f"{__name__}:_running_totals",
                     "sources": ["events"], "sinks": ["running"]},
            "serve": {"factory": "makinage_spark.serve:serve",
                      "config": {"predict": "makinage_spark.sample.serve:double_predict",
                                 "input_field": "value", "output_field": "pred"},
                      "sources": ["events"], "sinks": ["scored"]},
        },
    }
    rng = np.random.default_rng(7)
    n = 0
    for size in (40, 25, 60):
        ev = pd.DataFrame({
            "event_id": np.arange(n, n + size),
            "user_id": rng.integers(0, 5, size),
            "value": rng.integers(1, 1000, size),
        })
        n += size
        emu.produce(spark, broker, "events", spark.createDataFrame(ev), encoding="json")
        run_graph(spark, cfg)
    events = emu.emu_source(spark, broker, ["events"], encoding="json",
                            schema=schema).toPandas().sort_values("event_id")
    assert events.event_id.tolist() == list(range(n))
    events["running_count"] = events.groupby("user_id").cumcount() + 1
    events["running_total"] = events.groupby("user_id").value.cumsum()
    sinks = {
        "running": "user_id bigint, event_id bigint, running_count bigint, running_total double",
        "scored": "event_id bigint, value bigint, pred double",
    }
    for sink, sink_schema in sinks.items():
        got = emu.emu_source(spark, broker, [sink], encoding="json",
                             schema=sink_schema).toPandas()
        assert sorted(got.event_id) == list(range(n)), sink
        for _, offs in got.groupby("partition").offset:
            assert sorted(offs) == list(range(len(offs))), sink
        got = got.set_index("event_id").sort_index()
        if sink == "scored":
            assert (got.value.to_numpy() == events.value.to_numpy()).all()
            assert (got.pred.to_numpy() == 2.0 * events.value.to_numpy()).all()
        else:
            for col in ("user_id", "running_count", "running_total"):
                assert (got[col].to_numpy() == events[col].to_numpy()).all(), col
