"""Unit tests for the round-6b corpus write-path/curation helpers:
smath.global_running_sum (two-phase global cumsum) and the dedup Bloom
filter (packed-bitmap build + probe)."""

import pytest
from pyspark.sql import functions as F

from makinage_spark import dedup, materialize, smath


def test_global_running_sum_matches_single_reducer_window(spark):
    rows = [(i, (i * 37) % 11, (i * 13) % 7 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, key long, v long")
    with materialize.scope():
        got = {
            r.id: r.cum
            for r in smath.global_running_sum(
                df, [F.col("key").desc(), F.col("id")], "v", "cum"
            ).collect()
        }
        from pyspark.sql import Window

        w = (
            Window.orderBy(F.col("key").desc(), F.col("id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        want = {r.id: r.cum for r in df.withColumn("cum", F.sum("v").over(w)).collect()}
    assert got == want


def test_global_running_sum_empty_and_single_row(spark):
    df = spark.createDataFrame([], "id long, v long")
    with materialize.scope():
        assert smath.global_running_sum(df, ["id"], "v", "cum").count() == 0
    one = spark.createDataFrame([(1, 5)], "id long, v long")
    with materialize.scope():
        [r] = smath.global_running_sum(one, ["id"], "v", "cum").collect()
    assert r.cum == 5


def test_bloom_no_false_negatives_and_bounded_fp(spark):
    hist = spark.createDataFrame(
        [(i, f"fp-{i}") for i in range(0, 300, 3)], "doc_id long, fp string"
    )
    cand = spark.createDataFrame(
        [(i, f"fp-{i}") for i in range(300)], "doc_id long, fp string"
    )
    bitmap = dedup.bloom_build(hist, "fp", m=1 << 16, k=4)
    out = dedup.bloom_probe(cand, bitmap, "fp", "doc_id", m=1 << 16, k=4)
    hits = {r.doc_id: r.bloom_hit for r in out.collect()}
    members = set(range(0, 300, 3))
    # Bloom property 1: NO false negatives, ever.
    assert all(hits[i] for i in members)
    # Property 2: false positives bounded (expected FPR ~1e-8 at n=100/m=2^16).
    fps = [i for i in range(300) if i not in members and hits[i]]
    assert len(fps) <= 3


def test_bloom_bitmap_is_small_and_word_packed(spark):
    hist = spark.createDataFrame(
        [(f"k{i}",) for i in range(50)], "fp string"
    )
    bm = dedup.bloom_build(hist, "fp", m=1 << 12, k=4).collect()
    assert len(bm) <= (1 << 12) // 64
    assert all(0 <= r.word < (1 << 12) // 64 for r in bm)
    # every key contributes k bit positions; distinct set bits <= 50*4
    bits = sum(bin(r.bits & ((1 << 64) - 1)).count("1") for r in bm)
    assert 0 < bits <= 200


def test_bloom_probe_empty_history_hits_nothing(spark):
    hist = spark.createDataFrame([], "fp string")
    cand = spark.createDataFrame([(1, "x")], "doc_id long, fp string")
    bitmap = dedup.bloom_build(hist, "fp", m=1 << 12, k=4)
    [r] = dedup.bloom_probe(cand, bitmap, "fp", "doc_id", m=1 << 12, k=4).collect()
    assert r.bloom_hit is False


def test_bloom_test_packed_matches_probe(spark):
    m, k = 1 << 12, 4
    hist = spark.createDataFrame(
        [(f"fp-{i}",) for i in range(0, 120, 3)], "fp string"
    )
    cand = spark.createDataFrame(
        [(i, f"fp-{i}") for i in range(120)] + [(999, None)],
        "doc_id long, fp string",
    )
    bitmap = dedup.bloom_build(hist, "fp", m=m, k=k)
    via_join = {
        r.doc_id: r.bloom_hit
        for r in dedup.bloom_probe(cand, bitmap, "fp", "doc_id", m=m, k=k).collect()
    }
    words = dedup.bloom_collect(bitmap, m=m)
    via_literal = {
        r.doc_id: r.hit
        for r in cand.select(
            "doc_id", dedup.bloom_test_packed("fp", words, m=m, k=k).alias("hit")
        ).collect()
    }
    # null key: probe path yields False-ish via every() over nulls; the packed
    # path contracts to exactly False
    assert via_literal[999] is False
    for i in range(120):
        assert via_literal[i] == via_join[i]
    assert all(via_literal[i] for i in range(0, 120, 3))


def test_bloom_collect_size_gate(spark):
    """VERDICT r8 task 5: the packed-literal Bloom path is gated — beyond
    BLOOM_PACKED_MAX_BITS the driver collect + expression literals (m/8
    bytes each) stop being the right plan and the error routes callers to
    the distributed bloom_probe relation join."""
    import pytest

    from makinage_spark import dedup

    bitmap = dedup.bloom_build(
        spark.createDataFrame([("a",)], "fp string"), "fp", m=1 << 16, k=4
    )
    with pytest.raises(ValueError, match="bloom_probe"):
        dedup.bloom_collect(bitmap, m=1 << 30)
    # under the gate: unchanged behavior
    assert len(dedup.bloom_collect(bitmap, m=1 << 16)) == (1 << 16) // 64
