"""End-to-end Kafka deployment surface over the file-backed topic emulator.

The real broker is absent in this environment, so the reference's core
deployment path (config → topics → operators → sinks,
makinage/operator.py:216-269) is proven against an emulated topic layer that
implements the identical wire schema, codec layer and start_from semantics
(sources/kafka_emulator). The golden is the reference's multiply sample:
values topic "5" × 3 → multiplied_values topic "15"
(makinage/sample/processor.py:6-14, config.sample.yml:1-17).
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from makinage_spark.plans.graph import run_graph
from makinage_spark.sources import kafka_emulator as emu


@pytest.fixture
def broker(tmp_path):
    return str(tmp_path / "broker")


def _produce_strings(spark, broker, topic, values, partitions=2, key=None):
    df = spark.createDataFrame([(v,) for v in values], "value string")
    emu.produce(spark, broker, topic, df, encoding="string", key=key,
                partitions=partitions)


def _offsets_by_partition(spark, broker, topic):
    out: dict[int, list[int]] = {}
    for r in emu._existing(spark, broker, topic).collect():
        out.setdefault(r.partition, []).append(r.offset)
    return {p: sorted(o) for p, o in out.items()}


def test_wire_schema_and_offsets(spark, broker):
    _produce_strings(spark, broker, "values", ["5", "7", "11"])
    raw = spark.read.parquet(emu.topic_path(broker, "values"))
    assert sorted(raw.columns) == sorted(
        ["key", "value", "topic", "partition", "offset", "timestamp"]
    )
    # offsets are per-partition monotone from 0
    for p, offs in (
        raw.groupBy("partition").agg(F.collect_list("offset").alias("o")).collect()
    ):
        assert sorted(offs) == list(range(len(offs)))
    # a second produce continues from the high-water mark, never reuses
    _produce_strings(spark, broker, "values", ["13"])
    again = spark.read.parquet(emu.topic_path(broker, "values"))
    per = again.groupBy("partition", "offset").count()
    assert per.filter(F.col("count") > 1).count() == 0  # no offset collisions
    assert again.count() == 4
    # a third, uneven append over more partitions: each partition's offsets
    # still run 0..n-1 with no gap and no repeat
    _produce_strings(spark, broker, "values", list("abcdefg"), partitions=3)
    got = _offsets_by_partition(spark, broker, "values")
    assert sum(map(len, got.values())) == 11
    assert all(o == list(range(len(o))) for o in got.values()), got


def test_start_from_semantics(spark, broker):
    _produce_strings(spark, broker, "t", ["1", "2", "3", "4", "5"], partitions=2)
    beginning = emu.emu_source(spark, broker, ["t"], start_from="beginning")
    assert sorted(r.value for r in beginning.collect()) == ["1", "2", "3", "4", "5"]
    # end = nothing beyond the current high-water mark in a bounded read
    assert emu.emu_source(spark, broker, ["t"], start_from="end").count() == 0
    # last = the final retained message per partition (compacted model topic)
    last = emu.emu_source(spark, broker, ["t"], start_from="last")
    raw = spark.read.parquet(emu.topic_path(broker, "t"))
    expect = {
        r.partition: r.v
        for r in raw.groupBy("partition")
        .agg(F.max_by(F.col("value").cast("string"), "offset").alias("v"))
        .collect()
    }
    got = {r.partition: r.value for r in last.collect()}
    assert got == expect and len(got) == 2


def test_key_routing_is_deterministic(spark, broker):
    df = spark.createDataFrame(
        [("a", "1"), ("b", "2"), ("a", "3"), ("a", "4")], "k string, value string"
    )
    emu.produce(spark, broker, "keyed", df, key="k", partitions=4)
    raw = spark.read.parquet(emu.topic_path(broker, "keyed"))
    # all messages of one key land in one partition (A14 partition_selector)
    nparts = (
        raw.withColumn("key_s", F.col("key").cast("string"))
        .groupBy("key_s")
        .agg(F.countDistinct("partition").alias("n"))
        .collect()
    )
    assert all(r.n == 1 for r in nparts)


def test_graph_multiply_sample_batch_over_emulated_kafka(spark, broker):
    """The reference's full deployment golden through the emulated topic
    layer: produce "5" into the values topic, run the YAML graph (source →
    multiply factory → sink topic), consume "15" back — config→topics→
    operators→sink end-to-end with start_from offset semantics."""
    _produce_strings(spark, broker, "values", ["5"])
    cfg = {
        "application": {"name": "sample", "source_type": "batch"},
        "topics": [
            {
                "name": "values",
                "format": "kafka_emu",
                "broker_dir": broker,
                "encoder": "string",
                "start_from": "beginning",
            },
            {
                "name": "multiplied_values",
                "format": "kafka_emu",
                "broker_dir": broker,
                "encoder": "string",
            },
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
    run_graph(spark, cfg)
    out = emu.emu_source(spark, broker, ["multiplied_values"], start_from="beginning")
    assert [r.value for r in out.collect()] == ["15"]


def test_graph_multiply_sample_streaming_over_emulated_kafka(
    spark, broker, tmp_path
):
    """Streaming mode: readStream over the topic log → multiply →
    foreachBatch producer sink with offset assignment, through the real
    Structured Streaming checkpoint machinery."""
    _produce_strings(spark, broker, "values", ["5", "6", "7"])
    cfg = {
        "application": {"name": "sample", "source_type": "stream"},
        "topics": [
            {
                "name": "values",
                "format": "kafka_emu",
                "broker_dir": broker,
                "encoder": "string",
                "start_from": "beginning",
            },
            {
                "name": "multiplied_values",
                "format": "kafka_emu",
                "broker_dir": broker,
                "encoder": "string",
                "checkpoint": str(tmp_path / "ck"),
            },
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
    run_graph(spark, cfg, await_batch=True)
    out = emu.emu_source(spark, broker, ["multiplied_values"], start_from="beginning")
    assert sorted(r.value for r in out.collect()) == ["15", "18", "21"]


def test_json_codec_roundtrip_over_emulated_topic(spark, broker):
    """A10–A13 codec layer over the emulated wire: json encode on produce,
    schema-declared json decode on consume (makinage/encoding/json.py)."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, name string")
    emu.produce(spark, broker, "j", df, encoding="json")
    out = emu.emu_source(
        spark, broker, ["j"], encoding="json", schema="id bigint, name string"
    )
    assert sorted((r.id, r.name) for r in out.collect()) == [(1, "a"), (2, "b")]


def test_pickle_codec_roundtrip_over_emulated_topic(spark, broker):
    # encoder: pickle produces (the encoder factory takes no argument) and
    # reads back as the decoded ``value`` column, the shim's repr text
    df = spark.createDataFrame([("hello",), ("world",)], "value string")
    emu.produce(spark, broker, "pk", df, encoding="pickle")
    got = emu.emu_source(spark, broker, ["pk"], encoding="pickle")
    assert "value" in got.columns and "pickled" not in got.columns
    assert sorted(r.value for r in got.collect()) == ["'hello'", "'world'"]


def test_streaming_checkpoint_replays_only_new_offsets(spark, broker, tmp_path):
    """The checkpointed-consumer contract behind start_from: last
    (makinage/operator.py:50-53): a second availableNow run against the same
    checkpoint must process ONLY messages produced after the first run —
    offset progress lives in the Structured Streaming checkpoint exactly as
    it would in a Kafka consumer group."""
    ck = str(tmp_path / "ck")
    out_topic = {"name": "doubled", "broker_dir": broker, "encoder": "string"}
    _produce_strings(spark, broker, "nums", ["1", "2"])
    src = emu.emu_source(
        spark, broker, ["nums"], encoding="string", start_from="beginning",
        streaming=True,
    )
    doubled = src.withColumn(
        "value", (F.col("value").cast("long") * 2).cast("string")
    )
    emu.emu_sink(doubled, out_topic, ck).awaitTermination()
    first = sorted(
        r.value
        for r in emu.emu_source(spark, broker, ["doubled"]).collect()
    )
    assert first == ["2", "4"]
    # produce more, rerun against the SAME checkpoint: only new offsets flow
    _produce_strings(spark, broker, "nums", ["10"])
    emu.emu_sink(doubled, out_topic, ck).awaitTermination()
    second = sorted(
        int(r.value)
        for r in emu.emu_source(spark, broker, ["doubled"]).collect()
    )
    assert second == [2, 4, 20]  # "1","2" were NOT reprocessed


def test_streaming_error_channel_over_emulated_topic(spark, broker, tmp_path):
    """ops.materialize is a pure projection, so the dead-letter pattern runs
    UNCHANGED under streaming: a dirty topic feed routes malformed records to
    the error branch of the same micro-batch."""
    from makinage_spark import ops, pipe

    good = ['{"k": 1}', '{"k": 2}']
    bad = ['x{"k": 3}']
    _produce_strings(spark, broker, "dirty", good + bad)
    src = emu.emu_source(
        spark, broker, ["dirty"], encoding="string", start_from="beginning",
        streaming=True,
    )
    attempt = F.try_variant_get(F.try_parse_json(F.col("raw")), "$.k", "bigint")
    tagged = pipe(
        src.select(F.col("value").cast("string").alias("raw")),
        ops.materialize(attempt, diagnostic=F.col("raw"), value_col="k"),
    )
    q = (
        tagged.writeStream.format("memory")
        .queryName("dead_letter_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT kind, k, error FROM dead_letter_stream").collect()
    got = sorted((r.kind, r.k, r.error) for r in rows)
    assert got == [
        ("error", None, 'x{"k": 3}'),
        ("next", 1, None),
        ("next", 2, None),
    ]


def test_model_publisher_hot_swap_over_emulated_topic(spark, broker, tmp_path):
    """A9 end-to-end: publish two successive model artifacts onto a
    single-partition emulated model topic (none encoding, raw bytes), and
    read back with start_from: last — the consumer sees exactly the LATEST
    artifact, the hot-swap contract of the serving layer
    (config.sample.serve.yml:8-10)."""
    from makinage_spark.model_publisher import publish_models

    topic = {"name": "models", "format": "kafka_emu", "broker_dir": broker}
    for version in (b"model-v1-bytes", b"model-v2-bytes"):
        f = tmp_path / "model.bin"
        f.write_bytes(version)
        out = publish_models(
            spark, {"models": [{"file": str(f), "topic": topic}]}
        )
        assert out == [("models", 1)]
    last = emu.emu_source(
        spark, broker, ["models"], encoding="none", start_from="last"
    )
    rows = last.collect()
    assert len(rows) == 1
    assert bytes(rows[0].value) == b"model-v2-bytes"


def test_empty_and_missing_topics(spark, broker):
    # subscribing a topic that was never produced: empty log, not an error
    assert emu.emu_source(spark, broker, ["ghost"]).count() == 0
    assert emu.emu_source(spark, broker, ["ghost"], start_from="last").count() == 0
    # streaming only supports replay-from-beginning (checkpoints own the rest)
    with pytest.raises(ValueError, match="beginning"):
        emu.emu_source(spark, broker, ["t"], start_from="end", streaming=True)
    with pytest.raises(ValueError, match="beginning|end|last"):
        emu.emu_source(spark, broker, ["t"], start_from="nope")


def test_multi_topic_subscribe(spark, broker):
    _produce_strings(spark, broker, "a", ["1", "2"])
    _produce_strings(spark, broker, "b", ["3"])
    out = emu.emu_source(spark, broker, ["a", "b"], start_from="beginning")
    assert sorted(r.value for r in out.collect()) == ["1", "2", "3"]
    assert sorted(set(r.topic for r in out.collect())) == ["a", "b"]


def test_max_files_per_trigger_bounds_micro_batches(spark, broker, tmp_path):
    """Pacing contract (reference PID backpressure, makinage/operator.py:
    98-130 → engine-managed admission bound, SURVEY §7.2): with
    max_files_per_trigger=1, each micro-batch ingests at most one produced
    log segment — the retained log drains over MULTIPLE bounded batches
    instead of one unbounded gulp."""
    # three separate produces = three log segments of known sizes
    for batch in (["1", "2", "3"], ["4", "5"], ["6"]):
        _produce_strings(spark, broker, "paced", batch, partitions=1)

    src = emu.emu_source(
        spark, broker, ["paced"], streaming=True, max_files_per_trigger=1
    )
    batch_sizes: list[int] = []

    def _sink(batch_df, _bid):
        n = batch_df.count()
        if n:
            batch_sizes.append(n)

    q = (
        src.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert sum(batch_sizes) == 6  # nothing lost
    assert len(batch_sizes) >= 3  # drained over multiple micro-batches
    assert max(batch_sizes) <= 3  # every batch bounded by one segment

    # unbounded control: the same log arrives in one availableNow batch
    src_all = emu.emu_source(spark, broker, ["paced"], streaming=True)
    sizes_all: list[int] = []
    q2 = (
        src_all.writeStream.foreachBatch(
            lambda bdf, _b: sizes_all.append(bdf.count())
        )
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    assert sum(sizes_all) == 6


def test_missing_topic_never_reaches_the_reader(spark, broker, monkeypatch):
    """Regression (VERDICT r7 task 3): a not-yet-created topic must resolve
    to an empty log via an existence check, NOT via catching the reader's
    PATH_NOT_FOUND — a failed DataSource resolution is re-raised
    asynchronously by any lingering ExecutionListener (an Observation from a
    metrics tap whose plan was explained but never executed), which is
    exactly the 'ERROR ExecutionListenerBus … PATH_NOT_FOUND …/events_topic'
    race the plan audit logged."""
    from pyspark.sql.readwriter import DataFrameReader

    attempted: list[tuple] = []
    orig = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        attempted.append(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    out = emu._existing(spark, broker, "never_created")
    assert out.count() == 0
    assert out.columns == ["key", "value", "topic", "partition", "offset",
                           "timestamp"]
    assert attempted == [], (
        "missing topic dir must short-circuit before DataFrameReader.parquet"
    )
    # and produce() into a fresh broker (the high-water-mark probe is the
    # call site that raced) still assigns offsets from -1
    _produce_strings(spark, broker, "never_created", ["a", "b"])
    rows = emu._existing(spark, broker, "never_created").collect()
    assert sorted(r.offset for r in rows) == [0, 0] or sorted(
        r.offset for r in rows
    ) == [0, 1]


def test_scheme_prefixed_broker_dir_roundtrip(spark, tmp_path):
    """The r8 review fix's URI path: a file://-prefixed broker_dir must
    behave exactly like the bare local path — missing topic short-circuits
    to an empty log (scheme stripped for the isdir check), and produce →
    read round-trips with correct offsets against the same physical dir."""
    bare = str(tmp_path / "broker")
    uri = "file://" + bare
    assert emu._existing(spark, uri, "nope").count() == 0
    _produce_strings(spark, bare, "t", ["a", "b", "c"], partitions=1)
    rows = emu._existing(spark, uri, "t").collect()
    assert sorted(r.offset for r in rows) == [0, 1, 2]
    # and produce THROUGH the uri continues offsets from the same log
    _produce_strings(spark, uri, "t", ["d"], partitions=1)
    again = emu._existing(spark, bare, "t").collect()
    assert sorted(r.offset for r in again) == [0, 1, 2, 3]


def test_single_slash_file_uri_sees_existing_log(spark, tmp_path):
    """ADVICE r8 (medium): Spark's own normalized single-slash form
    'file:/path' carries no '://', so the old prefix-strip sent it down the
    local branch where os.path.isdir('file:/…') is always False — an
    existing topic silently read as an empty log and produce() restarted
    offsets at -1, appending DUPLICATE offsets to a non-empty log. The
    urlparse-based check must resolve every local file-URI spelling to the
    same physical log."""
    bare = str(tmp_path / "broker")
    _produce_strings(spark, bare, "t", ["a", "b", "c"], partitions=1)
    for spelling in ("file:" + bare, "file://" + bare, "file:///" + bare.lstrip("/")):
        rows = emu._existing(spark, spelling, "t").collect()
        assert sorted(r.offset for r in rows) == [0, 1, 2], spelling
    # the corruption scenario: produce through the single-slash spelling
    # must CONTINUE offsets (3), not restart at 0
    _produce_strings(spark, "file:" + bare, "t", ["d"], partitions=1)
    again = emu._existing(spark, bare, "t").collect()
    assert sorted(r.offset for r in again) == [0, 1, 2, 3]


def test_local_dir_rule():
    """One rule decides local vs remote: raw paths pass through untouched
    (a '#' or '?' is part of the name), local file: URIs in every spelling
    are unquoted, anything else is remote."""
    assert emu._local_dir("/b/t#1?x") == "/b/t#1?x"
    assert emu._local_dir("rel/b%20c") == "rel/b%20c"
    for uri in ("file:/b%20c/t", "file:///b%20c/t", "file://localhost/b%20c/t"):
        assert emu._local_dir(uri) == "/b c/t", uri
    for uri in ("hdfs://nn/b/t", "s3a://bucket/t", "file://otherhost/b/t"):
        assert emu._local_dir(uri) is None, uri


def test_segment_written_by_another_writer_is_counted(spark, broker):
    """A segment that lands in the topic directory outside ``produce`` (here
    pyarrow in the wire schema, as a second producer process or a writer
    that crashed after its file landed would leave it) counts toward the
    log-end offsets, even after this process has looked the topic up."""
    _produce_strings(spark, broker, "t", ["a", "b"], partitions=1)
    wire = pa.schema([
        ("key", pa.binary()), ("value", pa.binary()), ("topic", pa.string()),
        ("partition", pa.int32()), ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
    ])
    pq.write_table(
        pa.table([[None] * 3, [b"x", b"y", b"z"], ["t"] * 3, [0, 0, 1], [2, 3, 7],
                  pa.array([0] * 3, pa.int64()).cast(wire.field("timestamp").type)],
                 schema=wire),
        os.path.join(emu.topic_path(broker, "t"), "seg-external.parquet"),
    )
    _produce_strings(spark, broker, "t", ["c", "d"], partitions=2)
    got = _offsets_by_partition(spark, broker, "t")
    # round-robin may route both new rows to one partition; either way each
    # continues past the external segment's offsets
    assert len(got[0]) + len(got[1]) == 7
    assert got[0] == list(range(len(got[0]))) and len(got[0]) >= 4
    assert got[1] == list(range(7, 7 + len(got[1])))


def test_recreated_topic_restarts_offsets_at_zero(spark, broker):
    _produce_strings(spark, broker, "t", ["a", "b", "c"], partitions=1)
    shutil.rmtree(emu.topic_path(broker, "t"))
    _produce_strings(spark, broker, "t", ["d"], partitions=1)
    assert _offsets_by_partition(spark, broker, "t") == {0: [0]}


def test_log_end_lookup_starts_no_spark_job(spark, broker, monkeypatch):
    """The log-end offsets of a local topic are driver-side metadata: no
    Spark job runs between entering ``produce`` and its append. The call
    under test runs in its own job group, and the listener bus is drained
    before the status tracker is read, so every job started by then is
    recorded and no earlier job is counted."""
    from pyspark.sql.readwriter import DataFrameWriter

    _produce_strings(spark, broker, "t", ["a", "b", "c"])
    sc = spark.sparkContext
    at_write: list[list[int]] = []
    orig = DataFrameWriter.parquet

    def spy(self, *a, **kw):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        at_write.append(list(sc.statusTracker().getJobIdsForGroup("log-end")))
        return orig(self, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    sc.setJobGroup("log-end", "produce under test")
    try:
        _produce_strings(spark, broker, "t", ["d"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert at_write == [[]]
    assert sum(map(len, _offsets_by_partition(spark, broker, "t").values())) == 4
