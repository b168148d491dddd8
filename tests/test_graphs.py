"""graphs.pagerank: fixed-point determinism and known-graph values."""

import pytest
from conftest import conf_override

from makinage_spark import graphs, materialize


def _ranks(spark, edges, **kw):
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = graphs.pagerank(df, **kw).collect()
    return {r.id: r.rank_nanos for r in out}


def test_symmetric_pair_splits_mass_evenly(spark):
    # two nodes, edges both ways: perfectly symmetric → each keeps 0.5
    r = _ranks(spark, [("a", "b"), ("b", "a")], iterations=5)
    assert r == {"a": 500_000_000, "b": 500_000_000}


def test_star_center_dominates(spark):
    # undirected 4-leaf star: center absorbs the leaves' full mass each round
    edges = []
    for leaf in "bcde":
        edges += [("a", leaf), (leaf, "a")]
    r = _ranks(spark, edges, iterations=3)
    assert r["a"] > r["b"]
    assert len({r[leaf] for leaf in "bcde"}) == 1  # leaves identical
    # total mass is conserved up to per-node half-up rounding (±1 nano each)
    assert abs(sum(r.values()) - 1_000_000_000) <= len(r)


def test_partitioning_invariance(spark):
    # fixed-point accounting ⇒ bitwise-same ranks under different partitioning
    edges = [(f"n{i}", f"n{(i * 7 + 3) % 23}") for i in range(60)]
    df1 = spark.createDataFrame(edges, ["src", "dst"])
    df2 = df1.repartition(13, "dst")
    r1 = {r.id: r.rank_nanos for r in graphs.pagerank(df1).collect()}
    r2 = {r.id: r.rank_nanos for r in graphs.pagerank(df2).collect()}
    assert r1 == r2


def test_dangling_mass_dropped_not_redistributed(spark):
    # a -> b only: b never emits; after 1 iter a holds only teleport mass
    r = _ranks(spark, [("a", "b")], iterations=1)
    assert r["a"] == 75_000_000  # 0.15 * 1e9 / 2 (teleport only)
    assert r["b"] == 500_000_000  # 75e6 teleport + 0.85 * a's initial 5e8


def test_hits_tiny_graph(spark):
    from makinage_spark import graphs

    # star: hub 1 -> {10, 11}; hub 2 -> {10}; node 10 is the strongest
    # authority, node 1 the strongest hub
    e = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10)], "src long, dst long"
    )
    out = {r.id: (r.hub_score_raw, r.auth_score_raw, r.hub, r.auth)
           for r in graphs.hits(e, iterations=2).collect()}
    # iter1: a(10)=2, a(11)=1; h(1)=3, h(2)=2
    # iter2: a(10)=h1+h2=5, a(11)=h1=3; h(1)=8, h(2)=5
    assert out[1][0] == 8 and out[2][0] == 5
    assert out[10][1] == 5 and out[11][1] == 3
    assert out[1][2] == 1.0 and out[10][3] == 1.0
    assert out[10][0] == 0  # pure authority has zero hub mass


def test_dangling_redistribute_conserves_mass(spark):
    import pytest

    # a -> b only, with redistribution: b's held mass returns each round,
    # so total mass stays ~1.0 up to per-node rounding
    r = _ranks(spark, [("a", "b")], iterations=1, dangling="redistribute")
    # round 1: dangling b held 5e8 -> share 2.5e8/node inside the damped term
    # a: 0.15*5e8 + 0.85*(0 + 2.5e8) = 287.5e6
    # b: 0.15*5e8 + 0.85*(5e8 + 2.5e8) = 712.5e6
    assert r == {"a": 287_500_000, "b": 712_500_000}
    assert abs(sum(r.values()) - 1_000_000_000) <= len(r)

    r3 = _ranks(spark, [("a", "b")], iterations=3, dangling="redistribute")
    assert abs(sum(r3.values()) - 1_000_000_000) <= len(r3)
    # drop-mode total decays instead
    rd = _ranks(spark, [("a", "b")], iterations=3, dangling="drop")
    assert sum(rd.values()) < 900_000_000

    with pytest.raises(ValueError, match="drop|redistribute"):
        _ranks(spark, [("a", "b")], dangling="nope")


def test_dangling_redistribute_partitioning_invariance(spark):
    # directed chain with a dangling tail; redistribute path must stay
    # bitwise partitioning-invariant like the base fixed-point accounting
    edges = [(f"n{i}", f"n{i + 1}") for i in range(20)]
    df1 = spark.createDataFrame(edges, ["src", "dst"])
    df2 = df1.repartition(7, "src")
    kw = dict(iterations=3, dangling="redistribute")
    r1 = {r.id: r.rank_nanos for r in graphs.pagerank(df1, **kw).collect()}
    r2 = {r.id: r.rank_nanos for r in graphs.pagerank(df2, **kw).collect()}
    assert r1 == r2


def test_personalized_pagerank_mass_concentrates_on_seeds(spark):
    # star: seed 's' -> {a, b}; a,b point back. All teleport mass lands on s.
    edges = [("s", "a"), ("s", "b"), ("a", "s"), ("b", "s")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([("s",)], ["id"])
    r = {
        row.id: row.rank_nanos
        for row in graphs.pagerank(
            df, iterations=3, personalize=seeds
        ).collect()
    }
    # closed walk: no dangling loss; total mass conserved up to rounding
    assert abs(sum(r.values()) - 1_000_000_000) <= len(r)
    # iteration 0: s=1e9. i1: s=0.15e9, a=b=0.425e9. i2: s gets 0.15e9+0.85e9,
    # a=b=0.85*0.075e9. i3: s=0.15e9+0.85*2*63.75e6=258.375e6, a=b=0.85*1e9/2
    assert r["s"] == 258_375_000
    assert r["a"] == r["b"] == 370_812_500
    # non-seed teleport is zero: without in-edges a non-seed node would be 0


def test_personalized_pagerank_nonseed_gets_zero_without_inedges(spark):
    # c has no in-edges and is not a seed -> rank exactly 0 (no teleport)
    edges = [("s", "a"), ("a", "s"), ("c", "s")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([("s",)], ["id"])
    r = {
        row.id: row.rank_nanos
        for row in graphs.pagerank(df, iterations=2, personalize=seeds).collect()
    }
    assert r["c"] == 0


def test_personalized_pagerank_partitioning_invariance(spark):
    edges = [(f"n{i}", f"n{(i * 3 + 1) % 17}") for i in range(17)]
    df1 = spark.createDataFrame(edges, ["src", "dst"])
    df2 = df1.repartition(5, "dst")
    seeds = spark.createDataFrame([("n0",), ("n5",)], ["id"])
    kw = dict(iterations=3, personalize=seeds)
    r1 = {r.id: r.rank_nanos for r in graphs.pagerank(df1, **kw).collect()}
    r2 = {r.id: r.rank_nanos for r in graphs.pagerank(df2, **kw).collect()}
    assert r1 == r2


def test_personalized_requires_drop_dangling(spark):
    import pytest

    df = spark.createDataFrame([("a", "b")], ["src", "dst"])
    seeds = spark.createDataFrame([("a",)], ["id"])
    with pytest.raises(ValueError, match="personalize"):
        graphs.pagerank(df, personalize=seeds, dangling="redistribute")


# a directed graph with sources no edge reaches (n23..n39, src_only), a
# dangling tail (t1) and duplicate-free rows; ew sizes to 4 partitions
_MIXED = [(f"n{i}", f"n{(i * 7 + 3) % 23}") for i in range(40)] + [
    ("n3", "t0"), ("t0", "t1"), ("src_only", "n2")
]


def _exchanges(plan):
    """(shuffle, broadcast) exchanges of an executed physical plan, as
    partitioning strings. Held frames are scanned in place and their own
    plans ran before this one, so the walk stops at their scans."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _exchanges(plan.executedPlan())
    if name.endswith("QueryStageExec"):
        return _exchanges(plan.plan())
    shuffles, broadcasts = [], []
    if name == "ShuffleExchangeExec":
        shuffles.append(plan.outputPartitioning().toString())
    elif name == "BroadcastExchangeExec":
        broadcasts.append(plan.outputPartitioning().toString())
    children = plan.children()
    for i in range(children.size()):
        s, b = _exchanges(children.apply(i))
        shuffles += s
        broadcasts += b
    return shuffles, broadcasts


def _executed_exchanges(spark, iterations):
    df = spark.createDataFrame(_MIXED, ["src", "dst"])
    with materialize.scope():
        out = graphs.pagerank(df, iterations=iterations)
        out.collect()
        return _exchanges(out._jdf.queryExecution().executedPlan())


def test_pagerank_round_is_one_shuffle_without_broadcast(spark):
    # At 4 shuffle partitions (= ew's sized count) a round is the dst
    # aggregate's shuffle and nothing else: the rank join and the update join
    # read the held ew and base in place, so the constant is 0.
    for iterations in (1, 3):
        shuffles, broadcasts = _executed_exchanges(spark, iterations)
        assert broadcasts == [], broadcasts
        assert len(shuffles) == iterations + 0, shuffles
        assert all(s.startswith("hashpartitioning(dst#") for s in shuffles), shuffles
    # At 7 shuffle partitions the |V|-row aggregate is re-exchanged to ew's
    # 4 partitions each round; ew itself (hashed on src) never moves.
    with conf_override(spark, "spark.sql.shuffle.partitions", "7"):
        shuffles, broadcasts = _executed_exchanges(spark, 3)
    assert broadcasts == [], broadcasts
    kinds = sorted((s.split("#")[0], s.rsplit(", ", 1)[1]) for s in shuffles)
    assert kinds == [("hashpartitioning(dst", "7)")] * 3 + [
        ("hashpartitioning(id", "4)")
    ] * 3, shuffles


@pytest.mark.parametrize("path", ["drop", "redistribute", "personalize"])
def test_rank_nanos_invariant_to_session_shuffle_partitions(spark, path):
    # ew sizes to 4 partitions (floor); sessions at 3 and 7 shuffle
    # partitions put the rank vector, the aggregate and ew on different
    # counts, and every path must still return the 4-partition ranks
    df = spark.createDataFrame(_MIXED, ["src", "dst"])
    kw = {"iterations": 3}
    if path == "redistribute":
        kw["dangling"] = "redistribute"
    if path == "personalize":
        # "zz" is in no edge: it still counts towards |S|
        kw["personalize"] = spark.createDataFrame(
            [("n0",), ("n5",), ("t1",), ("zz",)], ["id"]
        )

    def ranks():
        with materialize.scope():
            return {r.id: r.rank_nanos for r in graphs.pagerank(df, **kw).collect()}

    ref = ranks()
    assert len(ref) == 43
    for shuffle_partitions in ("3", "7"):
        with conf_override(spark, "spark.sql.shuffle.partitions", shuffle_partitions):
            assert ranks() == ref, shuffle_partitions
