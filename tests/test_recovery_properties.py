"""Checkpoint recovery + property-based equivalence tests.

Two things the reference cannot test (SURVEY §5 'adopted test strategy'):

- **Recovery**: a stateful streaming query stopped and restarted from its
  checkpoint must neither reprocess committed input (exactly-once) nor lose
  per-key state (the reference's in-memory stores lose everything,
  README.rst:80-83 vs Spark's checkpointed state store).
- **Properties**: randomized equivalence of the streaming stateful operators
  against plain-Python reference folds (hypothesis), and of the as-of join
  against pandas ``merge_asof``.
"""

import random
import shutil
import uuid
from datetime import datetime

import pandas as pd
import pytest
from conftest import conf_override
from hypothesis import example, given, settings
from hypothesis import strategies as st

from makinage_spark import joins
from makinage_spark.streaming import (
    run_available_now,
    streaming_ewma,
    streaming_funnel,
    streaming_pack,
    streaming_roll,
    streaming_scan,
    streaming_zip,
)

#: rows per Arrow chunk; set to 2 so that a key's micro-batch spans chunks
ARROW_ROWS = "spark.sql.execution.arrow.maxRecordsPerBatch"


def tmpdir():
    return f"/tmp/mk_rec_{uuid.uuid4().hex[:8]}"


def _run_stream(spark, src_glob, schema, ckpt, outdir):
    """One availableNow run into a (recovery-capable) parquet file sink."""
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_glob)
    )
    out = streaming_scan(stream, "user", "value", "seq")
    q = (
        out.writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(outdir)
    )
    q.awaitTermination(120)
    return spark.read.parquet(outdir).collect()


def test_streaming_scan_checkpoint_recovery(spark):
    """Stop/restart from checkpoint: committed batches are not reprocessed
    (exactly-once file sink), per-key running state carries over."""
    d, ckpt, outdir = tmpdir(), tmpdir(), tmpdir()
    schema = "user long, seq long, value double"
    spark.createDataFrame([(1, 1, 10.0), (1, 2, 5.0)], schema).coalesce(1).write.parquet(
        f"{d}/b0"
    )
    first = _run_stream(spark, f"{d}/b*", schema, ckpt, outdir)
    assert sorted((r.seq, r.running_total, r.running_count) for r in first) == [
        (1, 10.0, 1),
        (2, 15.0, 2),
    ]
    # new input lands while the query is down
    spark.createDataFrame([(1, 3, 1.0)], schema).coalesce(1).write.parquet(f"{d}/b1")
    second = _run_stream(spark, f"{d}/b*", schema, ckpt, outdir)
    # exactly-once: b0's rows appear once in the sink; state continued:
    # the new record extends the fold (total 15+1, count 3)
    assert sorted((r.seq, r.running_total, r.running_count) for r in second) == [
        (1, 10.0, 1),
        (2, 15.0, 2),
        (3, 16.0, 3),
    ]
    shutil.rmtree(d), shutil.rmtree(ckpt), shutil.rmtree(outdir)


def _ref_roll(values, window, stride, agg):
    """Plain-Python rs.data.roll reference: complete windows only."""
    out = []
    start = 0
    while start + window <= len(values):
        w = values[start : start + window]
        out.append(
            {"sum": float(sum(w)), "mean": sum(w) / len(w), "min": min(w), "max": max(w)}[
                agg
            ]
        )
        start += stride
    return out


@pytest.mark.parametrize("agg", ["sum", "mean"])
@given(
    values=st.lists(
        st.integers(min_value=-1000, max_value=1000).map(float), min_size=0, max_size=25
    ),
    window=st.integers(min_value=1, max_value=5),
    stride=st.integers(min_value=1, max_value=5),
    split=st.integers(min_value=1, max_value=24),
    shuffle_seed=st.integers(min_value=0, max_value=2**16),
)
@example(values=[float(v) for v in range(7)], window=2, stride=2, split=7, shuffle_seed=0)
@settings(max_examples=6, deadline=None)
def test_streaming_roll_matches_reference(
    spark, agg, values, window, stride, split, shuffle_seed
):
    """streaming_roll over arbitrary micro-batch splits, with the rows of each
    micro-batch shuffled and cut into 2-row Arrow chunks, equals the
    sequential reference fold (integral floats → exact arithmetic)."""
    d = tmpdir()
    schema = "user long, seq long, value double"
    rows = [(1, i, v) for i, v in enumerate(values)]
    batches = [rows[:split], rows[split:]]
    for b in batches:
        random.Random(shuffle_seed).shuffle(b)
    for i, b in enumerate(batches):
        if b:
            spark.createDataFrame(b, schema).coalesce(1).write.parquet(f"{d}/b{i}")
    if not rows:
        shutil.rmtree(d, ignore_errors=True)
        return
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{d}/b*")
    )
    out = streaming_roll(stream, "user", "value", "seq", window=window, stride=stride, agg=agg)
    with conf_override(spark, ARROW_ROWS, "2"):
        res = run_available_now(out, f"prop_{uuid.uuid4().hex[:6]}", d + "_ck")
    got = [r.agg_value for r in res.orderBy("window_id").collect()]
    assert got == _ref_roll(values, window, stride, agg)
    shutil.rmtree(d), shutil.rmtree(d + "_ck", ignore_errors=True)


#: per order-sensitive operator: input schema, row ``i`` of key ``k``, the call
_REVERSE_CASES = {
    "scan": (
        "k long, o long, v double",
        lambda k, i: (k, i, float(i * i % 11)),
        lambda s: streaming_scan(s, "k", "v", "o"),
    ),
    "ewma": (
        "k long, o long, v double",
        lambda k, i: (k, i, float(i * i % 11)),
        lambda s: streaming_ewma(s, "k", "v", "o", alpha=0.3),
    ),
    "pack": (
        "k string, o long, n long",
        lambda k, i: (k, i, i * 17),
        lambda s: streaming_pack(s, "k", "n", "o", budget=50),
    ),
    "zip": (
        "k long, side int, o long, v double",
        lambda k, i: (k, i % 2, i, float(i)),
        lambda s: streaming_zip(s, "k", "side", "o", "v"),
    ),
    "funnel": (
        "k long, ts timestamp, t string, o long",
        lambda k, i: (k, datetime(2024, 1, 1, 0, 0, i), ("view", "click", "purchase")[i % 3], i),
        lambda s: streaming_funnel(s, "k", "ts", "t", "o"),
    ),
}


@pytest.mark.parametrize("op", sorted(_REVERSE_CASES))
def test_order_sensitive_ops_sort_whole_micro_batch(spark, op):
    """A key whose micro-batch spans several Arrow chunks is folded in
    order-column order: in one micro-batch cut into 2-row chunks, the second
    key gets the first key's rows in reverse order, and both emit the same."""
    schema, row, call = _REVERSE_CASES[op]
    keys = ("a", "b") if op == "pack" else (1, 2)
    rows = [row(keys[0], i) for i in range(7)] + [row(keys[1], i) for i in reversed(range(7))]
    d = tmpdir()
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{d}/b0")
    stream = spark.readStream.schema(schema).parquet(f"{d}/b*")
    with conf_override(spark, ARROW_ROWS, "2"):
        out = run_available_now(call(stream), f"rev_{uuid.uuid4().hex[:6]}", d + "_ck").collect()
    got = {k: sorted(tuple(r)[1:] for r in out if r[0] == k) for k in keys}
    assert got[keys[0]] and got[keys[1]] == got[keys[0]]
    shutil.rmtree(d), shutil.rmtree(d + "_ck", ignore_errors=True)


@given(
    left_ts=st.lists(st.integers(min_value=0, max_value=100), min_size=1, max_size=15),
    right_ts=st.lists(st.integers(min_value=0, max_value=100), min_size=1, max_size=15),
    tol=st.integers(min_value=1, max_value=50),
    direction=st.sampled_from(["backward", "forward", "nearest"]),
)
@settings(max_examples=18, deadline=None)
def test_asof_join_matches_pandas_merge_asof(spark, left_ts, right_ts, tol, direction):
    """asof_join equals pandas merge_asof on a single key for ALL three
    directions, with tolerance — pandas is the independent reference
    implementation (incl. the nearest tie rule: equidistant → backward)."""
    right_ts = sorted(set(right_ts))
    lpdf = pd.DataFrame(
        {"k": 1, "lt": pd.to_datetime(sorted(left_ts), unit="s"), "lid": range(len(left_ts))}
    )
    rpdf = pd.DataFrame(
        {"k": 1, "rt": pd.to_datetime(right_ts, unit="s"), "rv": [float(t) for t in right_ts]}
    )
    expected = pd.merge_asof(
        lpdf.sort_values("lt"),
        rpdf.sort_values("rt"),
        left_on="lt",
        right_on="rt",
        by="k",
        tolerance=pd.Timedelta(seconds=tol),
        direction=direction,
    )
    ldf = spark.createDataFrame(lpdf)
    rdf = spark.createDataFrame(rpdf)
    out = joins.asof_join(
        ldf, rdf, on=["k"], left_ts="lt", right_ts="rt", right_cols=["rv"],
        tolerance=f"{tol} seconds", direction=direction,
    )
    got = {r.lid: r.rv for r in out.collect()}
    want = {
        int(row.lid): (None if pd.isna(row.rv) else float(row.rv))
        for _, row in expected.iterrows()
    }
    assert got == want


def test_run_available_now_raises_on_timeout(spark):
    """A drain still running at its timeout is stopped and raises, instead of
    handing back the memory sink's partial contents."""
    d, schema = tmpdir(), "user long, seq long, value double"
    spark.createDataFrame([(1, 1, 1.0)], schema).write.parquet(f"{d}/b0")
    out = streaming_scan(spark.readStream.schema(schema).parquet(f"{d}/b*"), "user", "value", "seq")
    name = f"slow_{uuid.uuid4().hex[:6]}"
    with pytest.raises(TimeoutError):
        run_available_now(out, name, d + "_ck", timeout=0.001)
    assert not any(q.name == name for q in spark.streams.active)
    shutil.rmtree(d), shutil.rmtree(d + "_ck", ignore_errors=True)


def test_watermark_drops_late_data(spark):
    """Late events beyond the watermark are excluded from closed windows —
    the lateness bound the reference approximates with merge_lookup_depth
    (SURVEY §1.3). Two separate runs from one checkpoint: the watermark
    persists across restarts, so run 2's late arrival is dropped."""
    import pyspark.sql.functions as F

    d, ckpt, outdir = tmpdir(), tmpdir(), tmpdir()
    schema = "k long, t timestamp"

    def run():
        stream = (
            spark.readStream.schema(schema).parquet(f"{d}/b*")
            .withWatermark("t", "10 minutes")
        )
        agg = (
            stream.groupBy(F.window("t", "30 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").cast("string").alias("ws"), "n")
        )
        q = (agg.writeStream.format("parquet").outputMode("append")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start(outdir))
        q.awaitTermination(120)

    def write(i, rows):
        spark.createDataFrame(rows, "k long, t string").selectExpr(
            "k", "CAST(t AS TIMESTAMP) AS t"
        ).coalesce(1).write.parquet(f"{d}/b{i}")

    # run 1: watermark advances to 10:00 - 10min = 09:50
    write(0, [(1, "2024-01-01 09:00:00"), (1, "2024-01-01 09:10:00"),
              (1, "2024-01-01 10:00:00")])
    run()
    # run 2 (restart from checkpoint): 09:05 is behind the persisted
    # watermark → dropped; 10:40 advances the stream
    write(1, [(1, "2024-01-01 09:05:00"), (1, "2024-01-01 10:40:00")])
    run()
    got = {r.ws: r.n for r in spark.read.parquet(outdir).collect()}
    # the 09:00 window closed with ONLY the two on-time events
    assert got.get("2024-01-01 09:00:00") == 2, got
    shutil.rmtree(d), shutil.rmtree(ckpt), shutil.rmtree(outdir)


def test_streaming_scan_on_rocksdb_state_store(spark):
    """The scale-grade state backend: the same stateful operator runs
    unchanged on the RocksDB state store provider (bounded executor memory at
    100 TB state; SURVEY §4.2 state row)."""
    d, ckpt = tmpdir(), tmpdir()
    schema = "user long, seq long, value double"
    spark.createDataFrame(
        [(1, 1, 2.0), (1, 2, 3.0), (2, 1, 7.0)], schema
    ).coalesce(1).write.parquet(f"{d}/b0")
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = spark.readStream.schema(schema).parquet(f"{d}/b*")
        out = streaming_scan(stream, "user", "value", "seq")
        name = f"rocks_{uuid.uuid4().hex[:6]}"
        q = (out.writeStream.format("memory").queryName(name)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted(
            (r.user, r.seq, r.running_total) for r in spark.table(name).collect()
        )
        assert got == [(1, 1, 2.0), (1, 2, 5.0), (2, 1, 7.0)]
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    shutil.rmtree(d), shutil.rmtree(ckpt)


@given(
    values=st.lists(
        st.integers(min_value=-1000, max_value=1000).map(float), min_size=1, max_size=25
    ),
    k=st.integers(min_value=1, max_value=4),
    split=st.integers(min_value=1, max_value=24),
)
@settings(max_examples=6, deadline=None)
def test_streaming_topk_matches_reference(spark, values, k, split):
    """streaming_topk's final (max-seq) emission equals the all-data top-k
    regardless of how the stream is split into micro-batches; ties break on
    the id column."""
    from makinage_spark.streaming import streaming_topk

    d = tmpdir()
    schema = "user long, seq long, value double"
    rows = [(1, i, v) for i, v in enumerate(values)]
    batches = [rows[:split], rows[split:]]
    for i, b in enumerate(batches):
        if b:
            spark.createDataFrame(b, schema).coalesce(1).write.parquet(f"{d}/b{i}")
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{d}/b*")
    )
    out = streaming_topk(stream, "user", "value", "seq", k=k)
    name = f"topk_{uuid.uuid4().hex[:6]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", d + "_ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.table(name).collect()
    last_seq = max(r.emit_seq for r in emitted)
    got = [
        (r.rank, r.value, r.seq)
        for r in sorted((r for r in emitted if r.emit_seq == last_seq), key=lambda r: r.rank)
    ]
    expect = sorted(enumerate(values), key=lambda iv: (-iv[1], iv[0]))[:k]
    assert [(v, i) for _, v, i in got] == [(v, i) for i, v in expect]
    shutil.rmtree(d), shutil.rmtree(d + "_ck", ignore_errors=True)


def test_streaming_pack_multibatch_recovery(spark):
    """streaming_pack across micro-batches and a checkpoint restart: the
    cumulative token offset must carry over so sequence ids keep counting
    from where the previous run stopped — identical to one batch packing."""
    from makinage_spark.streaming import streaming_pack

    d, ckpt, outdir = tmpdir(), tmpdir(), tmpdir()
    schema = "src string, doc long, n_tok long"
    spark.createDataFrame(
        [("s", 1, 60), ("s", 2, 60)], schema
    ).coalesce(1).write.parquet(f"{d}/b0")
    spark.createDataFrame(
        [("s", 3, 60), ("s", 4, 60), ("t", 1, 10)], schema
    ).coalesce(1).write.parquet(f"{d}/b1")

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/b*")
        )
        out = streaming_pack(stream, "src", "n_tok", "doc", budget=100)
        q = (
            out.writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(outdir)
        )
        q.awaitTermination(120)
        return {
            (r.src, r.doc): r.seq_id for r in spark.read.parquet(outdir).collect()
        }

    first = run()
    # starts 0,60 | 120,180 across two micro-batches → bins 0,0,1,1
    assert first == {("s", 1): 0, ("s", 2): 0, ("s", 3): 1, ("s", 4): 1, ("t", 1): 0}
    # query goes down; more input lands; restart continues the offset (240 →)
    spark.createDataFrame([("s", 5, 60)], schema).coalesce(1).write.parquet(f"{d}/b2")
    second = run()
    assert second[("s", 5)] == 2 and len(second) == 6
    import shutil

    shutil.rmtree(d), shutil.rmtree(ckpt), shutil.rmtree(outdir)


def test_streaming_funnel_state_across_batches(spark):
    """streaming_funnel must chain stages ACROSS micro-batches and a
    restart: a view in batch 0 qualifies a click in batch 1 and a purchase
    arriving after a checkpoint restart — final state equals the one-batch
    fold."""
    from datetime import datetime

    from makinage_spark.streaming import streaming_funnel

    d, ckpt, outdir = tmpdir(), tmpdir(), tmpdir()
    schema = "user_id long, ts timestamp, event_type string, event_id long"

    def ev(uid, sec, et, eid):
        return (uid, datetime(2024, 1, 1, 0, 0, sec), et, eid)

    # batch 0: view for u1; purchase for u2 (no prior stages -> must NOT count)
    spark.createDataFrame(
        [ev(1, 10, "view", 1), ev(2, 10, "purchase", 2)], schema
    ).coalesce(1).write.parquet(f"{d}/b0")
    # batch 1: click for u1 (qualified by batch-0 view); view for u2
    spark.createDataFrame(
        [ev(1, 20, "click", 3), ev(2, 20, "view", 4)], schema
    ).coalesce(1).write.parquet(f"{d}/b1")

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/b*")
        )
        out = streaming_funnel(stream, "user_id", "ts", "event_type", "event_id")
        q = (
            out.writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(outdir)
        )
        q.awaitTermination(120)
        rows = spark.read.parquet(outdir).collect()
        last = {}
        for r in rows:
            if r.user_id not in last or r.emit_seq > last[r.user_id].emit_seq:
                last[r.user_id] = r
        return last

    first = run()
    base = int(datetime(2024, 1, 1).timestamp()) * 1_000_000
    assert first[1].stage1_us == base + 10_000_000
    assert first[1].stage2_us == base + 20_000_000  # chained across batches
    assert first[1].stage3_us is None
    assert first[2].stage3_us is None  # early purchase never counted
    assert first[2].stage1_us == base + 20_000_000
    # restart: purchase for u1 after the click -> completes the funnel
    spark.createDataFrame([ev(1, 30, "purchase", 5)], schema).coalesce(
        1
    ).write.parquet(f"{d}/b2")
    second = run()
    assert second[1].stage3_us == base + 30_000_000
    import shutil

    shutil.rmtree(d), shutil.rmtree(ckpt), shutil.rmtree(outdir)


def test_stream_neardup_screen_checkpoint_recovery(spark):
    """Stream-static LSH screen across a checkpoint restart: the historical
    band table stays static; new docs arriving while the query is down are
    screened on restart without reprocessing committed batches (exactly-once
    parquet sink), and the pair-dedup state carries over."""
    from makinage_spark import dedup
    from pyspark.sql import functions as F

    d, ckpt, outdir = tmpdir(), tmpdir(), tmpdir()
    schema = "doc_id long, text string"
    shared = "the quick brown fox jumps over the lazy dog again and again tonight"
    hist = spark.createDataFrame(
        [(1, shared), (2, "completely different historical content here entirely")],
        schema,
    )
    hist_bands = dedup.minhash_band_table(hist).select(
        F.col("doc_id").alias("a"), "band", "bucket"
    ).persist()

    def run(path_glob):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path_glob)
        )
        bands = dedup.minhash_band_table(stream).select(
            F.col("doc_id").alias("b"), "band", "bucket"
        )
        pairs = (
            bands.join(hist_bands, ["band", "bucket"])
            .select("a", "b")
            .dropDuplicates(["a", "b"])
        )
        q = (
            pairs.writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", outdir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted((r.a, r.b) for r in spark.read.parquet(outdir).collect())

    # batch 1: doc 10 duplicates historical doc 1
    spark.createDataFrame([(10, shared)], schema).coalesce(1).write.parquet(f"{d}/b0")
    assert run(f"{d}/b*") == [(1, 10)]
    # query goes down; a new duplicate (of the SAME historical doc) lands
    spark.createDataFrame(
        [(11, shared), (12, "novel unseen text with no duplicate anywhere")], schema
    ).coalesce(1).write.parquet(f"{d}/b1")
    # restart from checkpoint: batch 1's pair is not re-emitted; the new doc
    # matches the static index
    assert run(f"{d}/b*") == [(1, 10), (1, 11)]
    shutil.rmtree(d), shutil.rmtree(ckpt), shutil.rmtree(outdir)


@given(
    st.lists(st.integers(min_value=1, max_value=10**9), min_size=1, max_size=400)
)
def test_negative_sampling_slot_apportionment_partitions_exactly(weights):
    """The alias-slot construction in negative_sampling_skipgram: slot ranges
    [ (K·cum_lo) DIV total, (K·cum_hi) DIV total ) telescope — contiguous,
    disjoint, and covering [0, K) exactly — for ANY positive weight vector.
    This is the property that makes the draw an equi-join with no misses."""
    K = 4096
    total = sum(weights)
    prev_hi = 0
    cum = 0
    covered = 0
    for w in weights:
        lo = (K * cum) // total
        cum += w
        hi = (K * cum) // total
        assert lo == prev_hi  # contiguous: no gap, no overlap
        prev_hi = hi
        covered += hi - lo
    assert prev_hi == K
    assert covered == K


def test_rbo_coefficients_match_definition():
    """_RBO_COEF literals (shared verbatim by the Spark plan and the DuckDB
    oracle) must stay equal to floor(1e12·(1-p)·p^(d-1)/d) at p=0.9."""
    from makinage_spark.queries import _RBO_COEF

    p = 0.9
    assert [(d, int(1e12 * (1 - p) * p ** (d - 1) / d)) for d, _ in _RBO_COEF] == _RBO_COEF


def test_stream_upsert_sink_checkpoint_recovery(spark):
    """foreachBatch keyed-upsert (stream_upsert_sink pattern): a second query
    restarted from the SAME checkpoint must process only the new file —
    already-merged rows are not re-read (exactly-once per input file) and the
    argmax merge is associative across the restart boundary."""
    import os

    from pyspark.sql import functions as F

    d = tmpdir()
    in_dir, ck, store = f"{d}/in", f"{d}/ck", f"{d}/store"
    os.makedirs(in_dir)
    schema = "k bigint, ts bigint, v bigint"

    def upsert(batch_df, epoch_id):
        upd = (
            batch_df.groupBy("k")
            .agg(F.max(F.struct("ts", "v")).alias("m"))
            .select("k", "m.ts", "m.v")
        )
        if os.path.isdir(store):
            cur = batch_df.sparkSession.read.parquet(store)
            upd = (
                cur.unionByName(upd)
                .groupBy("k")
                .agg(F.max(F.struct("ts", "v")).alias("m"))
                .select("k", "m.ts", "m.v")
            )
        tmp = f"{store}_tmp_{epoch_id}"
        upd.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(store):
            shutil.rmtree(store)
        os.rename(tmp, store)

    def run_cycle():
        q = (
            spark.readStream.schema(schema)
            .parquet(f"{in_dir}/b*")
            .writeStream.foreachBatch(upsert)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # phase 1: keys 1,2 at ts 10
    spark.createDataFrame([(1, 10, 100), (2, 10, 200)], schema).coalesce(
        1
    ).write.parquet(f"{in_dir}/b0")
    run_cycle()
    got1 = {r.k: (r.ts, r.v) for r in spark.read.parquet(store).collect()}
    assert got1 == {1: (10, 100), 2: (10, 200)}

    # phase 2: key 1 newer, key 2 OLDER (must not regress), key 3 new.
    # key 1 also reappears at its phase-1 ts — replaying b0 would be
    # invisible for ties, so key 2's stale row is the re-read canary.
    spark.createDataFrame(
        [(1, 20, 111), (2, 5, 999), (3, 10, 300)], schema
    ).coalesce(1).write.parquet(f"{in_dir}/b1")
    run_cycle()
    got2 = {r.k: (r.ts, r.v) for r in spark.read.parquet(store).collect()}
    assert got2 == {1: (20, 111), 2: (10, 200), 3: (10, 300)}
    shutil.rmtree(d, ignore_errors=True)


def test_poisson_bootstrap_thresholds_match_definition():
    """_POISSON1_CDF_PPM literals (shared verbatim by both engines) must stay
    equal to floor(1e6 · P(Poisson(1) <= k)) for k = 0..4."""
    import math

    from makinage_spark.queries import _POISSON1_CDF_PPM

    cdf, expect = 0.0, []
    for k in range(5):
        cdf += math.exp(-1) / math.factorial(k)
        expect.append(int(1e6 * cdf))
    assert _POISSON1_CDF_PPM == expect
