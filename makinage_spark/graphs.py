"""Distributed graph analytics on DataFrames.

Companion to :mod:`makinage_spark.dedup`'s connected components (duplicate
clustering): the same edges-as-rows representation, driven by join-aggregate
rounds instead of RDD message passing. Extends the reference's scope (the
reference tree has no graph operators); north-star rows in SURVEY §2 cover
graph-shaped corpus analyses (link graphs, citation ranks) that a
training-data pipeline runs at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from makinage_spark.materialize import materialize


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 3,
    assume_distinct: bool = False,
    dangling: str = "drop",
    personalize: DataFrame | None = None,
) -> DataFrame:
    """Damped power-iteration PageRank over a directed edge list.

    Returns ``(id, rank_nanos, rank)`` for every node that appears in
    ``edges``: ``rank_nanos`` is the rank in fixed-point nano-units (bigint,
    1e9 = total mass 1.0) and ``rank`` the single IEEE division
    ``rank_nanos / 1e9``.

    Engine-portable determinism: float sums across a shuffle are
    order-dependent, so all mass accounting is FIXED-POINT — each node's
    out-contribution ``rank_nanos / outdeg`` is snapped to an integer with
    ``floor(x + 0.5)`` (half-up pinned; built-in ROUND is HALF_UP on Spark
    but half-even on DuckDB/Postgres, which diverges by one ulp) BEFORE the
    per-destination sum. Integer addition is associative, so the result is
    identical regardless of partitioning and matches a single-threaded SQL
    oracle bit-for-bit. Every double op in the update runs on exact integer
    inputs below 2^53, so it is deterministic on any IEEE engine.

    Scale shape: the loop invariants are CO-PARTITIONED with the rank
    vector. The weighted edge list ``ew = (src, dst, outdeg)`` is held once,
    sized to the graph (~250k edges per partition, floor 4) and
    hash-partitioned on ``src``; the node vector ``base`` is held
    hash-partitioned on ``id`` into the same number of partitions, and its
    count is the driver literal ``n``. A round joins ``ew`` with the previous
    ranks partition by partition (a shuffled hash join with no exchange),
    sums the per-edge contributions on ``dst`` through one map-side-combined
    shuffle, and left-joins that aggregate back onto ``base``: one shuffle
    per round and no broadcast. If the session's
    ``spark.sql.shuffle.partitions`` differs from ``ew``'s partition count,
    each round also re-exchanges the aggregate (|V| rows) to ``ew``'s
    count, so ``ew`` itself never moves.

    Jobs: the call runs two eager SQL executions, the sized ``ew`` persist
    and the ``base`` count (three with ``personalize``: the seed count).
    The lazy result then runs one shuffle-map job per round plus its result
    job. The registry's graph_pagerank (sf0.01, local[4], 4 shuffle
    partitions) runs 16 jobs per evaluation this way; with a broadcast rank
    vector and contribution per round it ran 34. The returned plan unrolls
    ``iterations`` rounds of lineage; for iterations ≳ 8 on a real cluster,
    checkpoint the rank vector every few rounds to truncate lineage (same
    pattern as dedup.connected_components' pointer jumping).

    The loop invariants (``ew``, ``base``, the seed set) stay held for the
    lazy result: run repeated calls inside ``materialize.scope()``.

    Personalized PageRank: pass ``personalize`` — a DataFrame whose first
    column is the restart node-id set S — and all teleport mass (both the
    initial vector and the per-iteration ``(1-d)`` term) concentrates
    uniformly on S instead of on all nodes: the random-walk-with-restart
    scores used for seed-relative relevance (e.g. propagating quality from
    trusted seed domains through a web graph). The seed flag rides on
    ``base``; non-seed nodes start at 0 and receive mass only through edges.
    With ``dangling="drop"`` (required for now) dangling mass vanishes
    exactly as in the uniform case.

    Dangling nodes (no out-edges): ``dangling="drop"`` (default) lets their
    mass vanish, matching the common sparse formulation;
    ``dangling="redistribute"`` applies the textbook correction — each
    iteration sums the exact fixed-point mass held by the nodes ``base``
    flags as sinks (a 1-row aggregate, broadcast back in-plan) and spreads
    the per-node share ``half_up(dangling_nanos / n)`` uniformly inside the
    damped term, so total mass is conserved up to rounding. Nodes never
    referenced by any edge are absent.
    """
    if dangling not in ("drop", "redistribute"):
        raise ValueError(f"dangling must be drop|redistribute, got {dangling!r}")
    if personalize is not None and dangling != "drop":
        raise ValueError("personalize currently requires dangling='drop'")
    half_up = lambda x: F.floor(x + F.lit(0.5)).cast("bigint")  # noqa: E731
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not assume_distinct:
        # duplicate edges would double-count contributions; callers that
        # guarantee uniqueness (assume_distinct=True) skip this E-sized shuffle
        e = e.distinct()
    # the one held edge invariant: out-degrees ride on the edge rows, so a
    # round is a single join (rank vector -> weighted edges). Sized to the
    # graph (see materialize._partitions_for): a derived graph inherits the
    # corpus's partition count, and every round would otherwise schedule a
    # corpus-width task wave over near-empty cached blocks.
    ew = materialize(
        e.withColumn("outdeg", F.count(F.lit(1)).over(Window.partitionBy("src"))),
        size_by="src",
    )
    parts = ew.rdd.getNumPartitions()
    # sink = 1 for a node with no out-edge (the redistribute path's flag)
    nodes = (
        ew.select(F.col("src").alias("id"), F.lit(0).alias("sink"))
        .union(ew.select(F.col("dst").alias("id"), F.lit(1).alias("sink")))
        .groupBy("id")
        .agg(F.min("sink").alias("sink"))
    )
    restart = F.lit(True)
    if personalize is not None:
        seeds = materialize(
            personalize.select(F.col(personalize.columns[0]).alias("id")).distinct()
        )
        # an empty set or graph has no row that divides by its size
        k = float(seeds.count() or 1)
        nodes = nodes.join(
            F.broadcast(seeds.withColumn("seed", F.lit(True))), "id", "left"
        )
        restart = F.col("seed").isNotNull()
    # the node vector, partitioned exactly like ew (the repartition is
    # planned away when the aggregate above already has ``parts`` partitions)
    base = materialize(nodes.repartition(parts, "id"))
    n = float(base.count() or 1)
    if personalize is None:
        k = n
    ranks = base.withColumn(
        "rank_nanos",
        F.when(restart, half_up(F.lit(1.0e9) / F.lit(k))).otherwise(F.lit(0)),
    )
    tele = F.when(restart, (1.0 - damping) * 1.0e9 / F.lit(k)).otherwise(F.lit(0.0))
    for _ in range(iterations):
        emitting = ranks.select(F.col("id").alias("src"), "rank_nanos")
        contrib = (
            ew.join(emitting.hint("shuffle_hash"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(
                F.sum(
                    half_up(F.col("rank_nanos").cast("double") / F.col("outdeg"))
                ).alias("contrib")
            )
            # planned away when the session shuffles into ``parts``
            # partitions; otherwise it moves |V| rows so that the next
            # round's join does not move ew
            .repartition(parts, "id")
        )
        updated = base.join(contrib.hint("shuffle_hash"), "id", "left")
        received = F.coalesce(F.col("contrib"), F.lit(0))
        if dangling == "redistribute":
            # exact bigint mass held by out-degree-0 nodes this round; the
            # 1-row aggregate broadcasts back into the update in-plan
            dang = ranks.filter(F.col("sink") == 1).agg(
                F.coalesce(F.sum("rank_nanos"), F.lit(0))
                .cast("bigint")
                .alias("dang_nanos")
            )
            updated = updated.crossJoin(F.broadcast(dang))
            received = received + half_up(F.col("dang_nanos").cast("double") / n)
        ranks = updated.select(
            *base.columns,
            half_up(tele + damping * received.cast("double")).alias("rank_nanos"),
        )
    return ranks.select(
        "id",
        "rank_nanos",
        (F.col("rank_nanos").cast("double") / F.lit(1.0e9)).alias("rank"),
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    assume_distinct: bool = False,
) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan/Albert/Kumara
    2007) — community detection as the fourth graph fixpoint family after
    :func:`pagerank`, :func:`hits` and connected components.

    Every node starts labeled with its own id; each round, SYNCHRONOUSLY,
    every node adopts the label most frequent among its neighbors' current
    labels, ties broken by the SMALLEST label. Both the synchronous schedule
    and the min-tie-break are part of the operator contract: the textbook
    asynchronous/random-tie variant is non-deterministic, which would make
    the result partitioning-dependent and oracle-uncheckable. All counts are
    integers, so every iterate is bitwise partitioning-invariant.

    Per iteration: one hash join of the |V|-row label vector to the edge
    list on ``dst`` + one shuffle-aggregate on ``(src, label)`` + the argmax
    fold — the argmax is a ``max(struct(count, -label))`` single groupBy, NOT
    a row_number window, so it map-side combines and never materializes the
    per-label ranking. Same scale shape as pagerank (edge list persists as
    the loop invariant; label vector is |V| rows). For iterations ≳ 8 on a
    real cluster, checkpoint the label vector every few rounds to truncate
    the unrolled lineage.

    Single-reference lineage: only nodes WITH out-edges ever receive votes,
    and that set is static, so the loop updates just the voter partition and
    unions the (static) sink-only labels back per round — each iterate
    references its predecessor exactly ONCE. The naive formulation (left
    join each new vector onto the previous to carry sinks forward) refers to
    the predecessor twice, doubling the unrolled plan per round — measured
    3.5× total work at 3 iterations (the CC ``stepped`` defect class,
    VERDICT r5 #4).

    The persisted edge list stays held for the lazy result: run repeated
    calls inside ``materialize.scope()``.

    Returns ``(id, community)`` — community = the node's label after
    ``iterations`` rounds. Isolated endpoints cannot occur (every node in an
    edge list has degree ≥ 1); nodes never referenced by any edge are absent.
    """
    if iterations < 1:
        raise ValueError("label_propagation needs at least 1 iteration")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not assume_distinct:
        # duplicate edges would double-weight a neighbor's vote
        e = e.distinct()
    # sized on "dst": the per-round votes join probes e on dst
    e = materialize(e, size_by="dst")
    all_nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    # sink-only nodes (dst-only in a directed graph) receive no votes in ANY
    # round — their label is frozen at the seed; splitting them out ONCE
    # removes the per-round carry-forward left join (and with it the double
    # reference to the previous iterate). On symmetric graphs this set is
    # empty and the union is a no-op.
    sinks = materialize(
        all_nodes.join(
            e.select(F.col("src").alias("id")).distinct(), "id", "left_anti"
        ).withColumn("label", F.col("id").cast("bigint"))
    )
    voters = (
        e.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id").cast("bigint"))
    )
    for _ in range(iterations):
        full = voters.union(sinks)
        votes = e.join(
            full.select(F.col("id").alias("dst"), F.col("label").alias("nb_label")),
            "dst",
        )
        cnt = votes.groupBy(F.col("src").alias("id"), "nb_label").agg(
            F.count(F.lit(1)).alias("c")
        )
        # argmax(count) with min-label tie-break as one associative aggregate:
        # max over (c, -label) structs == highest count, then smallest label
        voters = (
            cnt.groupBy("id")
            .agg(
                F.max(F.struct(F.col("c"), (-F.col("nb_label")).alias("nl"))).alias("m")
            )
            .select("id", (-F.col("m.nl")).cast("bigint").alias("label"))
        )
    return voters.union(sinks).select("id", F.col("label").alias("community"))


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    assume_distinct: bool = False,
) -> DataFrame:
    """HITS hubs & authorities over a directed edge list — the second graph
    fixpoint family after :func:`pagerank`, and the natural centrality pair
    for BIPARTITE corpora (queries↔documents, customers↔suppliers).

    Mutual recursion ``auth_{t+1}(v) = Σ_{u→v} hub_t(u)``,
    ``hub_{t+1}(u) = Σ_{u→v} auth_{t+1}(v)`` runs UNNORMALIZED on exact
    BIGINT mass seeded at 1 — integer addition is associative, so every
    iterate is bitwise partitioning-invariant and oracle-exact (scores grow
    ~degree^t; at 3 iterations even a 10⁸-degree hub stays far under 2⁶³).
    The single float op is the final normalization to the maximum (two
    1-row aggregates broadcast back in-plan), rounded at 9dp.

    Per half-iteration: one hash join of the score vector to the edge list
    + one map-side-combined shuffle on the opposite endpoint — the same
    scale shape as pagerank; the edge list persists as the loop invariant.

    Returns ``(id, hub_score_raw, auth_score_raw, hub, auth)`` for every
    node (non-hubs/non-authorities carry 0, not null).
    """
    if iterations < 1:
        raise ValueError("hits needs at least 1 iteration")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not assume_distinct:
        e = e.distinct()
    # loop invariants stay held for the lazy result: run repeated calls
    # inside materialize.scope()
    e = materialize(e, size_by="src")
    nodes = materialize(
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    hub = nodes.select("id", F.lit(1).cast("bigint").alias("h"))
    auth = None
    for _ in range(iterations):
        auth = (
            e.join(hub.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("h").cast("bigint").alias("a"))
        )
        hub = (
            e.join(auth.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("a").cast("bigint").alias("h"))
        )
    scores = (
        nodes.join(hub, "id", "left")
        .join(auth, "id", "left")
        .select(
            "id",
            F.coalesce("h", F.lit(0)).cast("bigint").alias("hub_score_raw"),
            F.coalesce("a", F.lit(0)).cast("bigint").alias("auth_score_raw"),
        )
    )
    mx = scores.agg(
        F.max("hub_score_raw").cast("double").alias("mh"),
        F.max("auth_score_raw").cast("double").alias("ma"),
    )
    return scores.crossJoin(F.broadcast(mx)).select(
        "id",
        "hub_score_raw",
        "auth_score_raw",
        F.round(F.col("hub_score_raw") / F.col("mh"), 9).alias("hub"),
        F.round(F.col("auth_score_raw") / F.col("ma"), 9).alias("auth"),
    )
