import datetime as dt

from pyspark.sql import functions as F

from makinage_spark import joins, materialize, ops, pipe


def ts(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


def test_asof_join_backward(spark):
    # with_latest_from semantics with event time (makinage/serve/serve.py:140-141)
    left = spark.createDataFrame(
        [(1, ts(1)), (1, ts(2)), (1, ts(3)), (2, ts(2))], "k long, t timestamp"
    )
    right = spark.createDataFrame(
        [(1, ts(0, 30), "m0"), (1, ts(2), "m1"), (2, ts(5), "m9")],
        "k long, rt timestamp, model string",
    )
    out = joins.asof_join(left, right, on=["k"], left_ts="t", right_ts="rt")
    got = sorted((r.k, r.t.hour, r.model) for r in out.collect())
    # k=2 at 02:00 has no right row at/before it → null
    assert got == [(1, 1, "m0"), (1, 2, "m1"), (1, 3, "m1"), (2, 2, None)]


def test_asof_join_tolerance(spark):
    left = spark.createDataFrame([(1, ts(5))], "k long, t timestamp")
    right = spark.createDataFrame([(1, ts(1), "old")], "k long, rt timestamp, v string")
    out = joins.asof_join(left, right, on=["k"], left_ts="t", right_ts="rt",
                          tolerance="1 hour")
    assert out.collect()[0]["v"] is None


def test_asof_join_collision_rename(spark):
    left = spark.createDataFrame([(1, ts(2), "L")], "k long, t timestamp, v string")
    right = spark.createDataFrame([(1, ts(1), "R")], "k long, rt timestamp, v string")
    out = joins.asof_join(left, right, on=["k"], left_ts="t", right_ts="rt")
    row = out.collect()[0]
    assert row["v"] == "L" and row["v_r"] == "R"


def test_with_latest_from_asof(spark):
    left = spark.createDataFrame([(1, ts(2))], "k long, t timestamp")
    right = spark.createDataFrame([(1, ts(1), 7)], "k long, rt timestamp, cfg long")
    out = pipe(left, ops.with_latest_from(right, on=["k"], left_ts="t", right_ts="rt"))
    assert out.collect()[0]["cfg"] == 7


def test_enrich_broadcast(spark):
    fact = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    dim = spark.createDataFrame([(1, "one")], "k long, name string")
    out = joins.enrich(fact, dim, on="k")
    got = sorted((r.k, r.name) for r in out.collect())
    assert got == [(1, "one"), (2, None)]
    assert "Broadcast" in out._jdf.queryExecution().executedPlan().toString()


def test_merge_union(spark):
    a = spark.createDataFrame([(1,)], "x long")
    b = spark.createDataFrame([(2,)], "x long")
    assert sorted(r.x for r in joins.merge(a, b).collect()) == [1, 2]


def test_sorted_merge_strict_global_order(spark):
    # three disordered sources; seq must be the dense 1-based rank of the
    # total (ts, src, id) order regardless of interleave or partitioning
    import random

    rnd = random.Random(7)
    rows = [(i, float(i % 37)) for i in range(300)]
    rnd.shuffle(rows)
    srcs = []
    for s in range(3):
        part = [(f"s{s}", i, ts) for (i, ts) in rows[s::3]]
        srcs.append(
            spark.createDataFrame(
                part, "src string, id long, ts double"
            ).repartition(5)
        )
    with materialize.scope():
        out = joins.sorted_merge(*srcs, order=["ts", "src", "id"]).collect()
        expect = sorted(((r.ts, r.src, r.id) for r in out))
        got = [(r.ts, r.src, r.id) for r in sorted(out, key=lambda r: r.seq)]
        assert got == expect
        assert sorted(r.seq for r in out) == list(range(1, 301))


def test_salted_join_equals_plain_join(spark):
    from makinage_spark.joins import salted_join

    # skewed big side: 90% of rows share key 7
    big = spark.range(0, 5000).selectExpr(
        "CASE WHEN id % 10 < 9 THEN 7 ELSE id % 100 END AS k", "id AS v"
    )
    small = spark.range(0, 100).selectExpr("id AS k", "id * 10 AS dim")
    plain = big.join(small, "k").selectExpr("k", "v", "dim")
    salted = salted_join(big, small, "k", salts=4).selectExpr("k", "v", "dim")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    # the join key includes the salt → hot key spreads over `salts` reducers
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan


def test_asof_direction_forward_and_nearest(spark):
    from pyspark.sql import functions as F

    from makinage_spark import joins

    left = spark.createDataFrame(
        [(1, "k", "2024-01-01 00:00:10"),
         (2, "k", "2024-01-01 00:00:25"),
         (3, "k", "2024-01-01 00:00:40")],
        "id long, k string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [("k", "2024-01-01 00:00:00", 100.0),
         ("k", "2024-01-01 00:00:30", 300.0)],
        "k string, rts string, v double",
    ).withColumn("rts", F.col("rts").cast("timestamp"))

    def run(**kw):
        out = joins.asof_join(left, right, ["k"], "ts", "rts",
                              right_cols=["v"], **kw)
        return {r.id: r.v for r in out.collect()}

    assert run() == {1: 100.0, 2: 100.0, 3: 300.0}  # backward
    assert run(direction="forward") == {1: 300.0, 2: 300.0, 3: None}
    # nearest: id=1 is 10s after 00:00 vs 20s before 00:30 -> backward;
    # id=2 is 25s after 00:00 vs 5s before 00:30 -> forward
    assert run(direction="nearest") == {1: 100.0, 2: 300.0, 3: 300.0}
    # forward tolerance drops matches further than 10s ahead
    assert run(direction="forward", tolerance="10 seconds") == {
        1: None, 2: 300.0, 3: None}
    # nearest tolerance bounds each side before the choice
    assert run(direction="nearest", tolerance="10 seconds") == {
        1: 100.0, 2: 300.0, 3: 300.0}


def test_asof_nearest_tie_takes_backward(spark):
    from pyspark.sql import functions as F

    from makinage_spark import joins

    left = spark.createDataFrame(
        [(1, "k", "2024-01-01 00:00:20")], "id long, k string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [("k", "2024-01-01 00:00:10", 1.0), ("k", "2024-01-01 00:00:30", 2.0)],
        "k string, rts string, v double",
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    out = joins.asof_join(left, right, ["k"], "ts", "rts",
                          right_cols=["v"], direction="nearest")
    assert out.collect()[0].v == 1.0  # equidistant -> backward (pandas tie rule)
