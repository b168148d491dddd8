"""Joins: relational surface + the reference's stream-combinator semantics.

The reference has **no relational joins** (SURVEY §2.3) — only stream
combinators: ``with_latest_from`` (makinage/serve/serve.py:140-141),
``combine_latest`` (serve.py:131), ``merge`` (operator.py:145-152). The Spark
engine exposes the full ``df.join(..., how)`` surface natively; this module adds
the two shapes Spark lacks as built-ins:

- :func:`asof_join` — event-time as-of enrich (the batch meaning of
  ``with_latest_from`` when both streams carry event time).
- :func:`enrich` — broadcast dimension join with an explicit smallness contract.

Scale notes are per-function; nothing here loops per key or collects rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from makinage_spark.materialize import materialize
from makinage_spark.ops.core import ColumnLike, _col


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: ColumnLike,
    right_ts: ColumnLike,
    right_cols: list[str] | None = None,
    tolerance: str | None = None,
    suffix: str = "_r",
    direction: str = "backward",
) -> DataFrame:
    """As-of join: each left row is enriched with the right row nearest in
    event time, per ``on`` key. ``direction`` follows pandas ``merge_asof``:
    ``backward`` (default — most recent right row with ``right_ts <=
    left_ts``), ``forward`` (earliest right row with ``right_ts >=
    left_ts``), or ``nearest`` (the closer of the two; exact ties take the
    backward match). ``forward`` adds no cost (same single shuffle,
    descending sort); ``nearest`` computes both fills over the SAME
    shuffled union — one extra per-key sort, still zero extra exchanges.

    This is the event-time semantics of ``rs.ops.with_latest_from``
    (makinage/serve/serve.py:140-141) made deterministic: instead of "whatever
    arrived last", the match is defined by event time, so results are stable
    under re-execution and re-partitioning.

    Physical strategy — single-pass union + window (the "merge" formulation):
    tag both sides, union them, and for each row take the last non-null right
    value at or before it in ``(ts, side)`` order. Cost: ONE shuffle on the key
    for the combined stream + a per-key local sort. No row explosion, no range
    cross-product, no per-key Python — at 100 TB this is strictly cheaper than
    the naive ``left join + filter + row_number`` (which materializes every
    candidate pair). Skewed keys are split by AQE since the heavy operation is
    a window over the shuffled union, not a join build side.

    ``tolerance`` (e.g. ``"1 hour"``) nulls the enrichment when the matched
    right row is older than ``left_ts - tolerance`` — the reference's bounded
    lookback (``merge_lookup_depth``, makinage/operator.py:61-63) restated in
    event time.

    Oracle equivalence: DuckDB ``ASOF JOIN`` (inclusive backward).
    """
    lts, rts = _col(left_ts), _col(right_ts)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in on]
    # Rename right payload columns that collide with left ones.
    renames = {c: (c + suffix if c in left.columns else c) for c in right_cols}

    l_tagged = left.withColumn("__ts", lts.cast("timestamp")).withColumn("__side", F.lit(1))
    for c in renames.values():
        l_tagged = l_tagged.withColumn(c, F.lit(None)) if c not in l_tagged.columns else l_tagged
    r_tagged = right.select(
        *on,
        rts.cast("timestamp").alias("__ts"),
        F.lit(0).alias("__side"),
        *[_col(src).alias(dst) for src, dst in renames.items()],
    )

    cols = [*on, "__ts", "__side", *renames.values()]
    left_cols = [c for c in l_tagged.columns if c not in cols]
    unioned = l_tagged.select(*cols, *left_cols).unionByName(
        r_tagged, allowMissingColumns=True
    )

    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward|forward|nearest, got {direction!r}")

    # Right rows sort before left rows at equal __ts → inclusive semantics
    # in either direction (ascending order for backward, descending for
    # forward — the window always looks at unboundedPreceding..current).
    w_back = (
        Window.partitionBy(*on)
        .orderBy(F.col("__ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(*on)
        .orderBy(F.col("__ts").desc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def _fills(w, tag: str):
        return {f"{dst}{tag}": F.last(
                    F.when(F.col("__side") == 0, F.col(dst)), ignorenulls=True
                ).over(w) for dst in renames.values()} | {
                f"__match_ts{tag}": F.last(
                    F.when(F.col("__side") == 0, F.col("__ts")), ignorenulls=True
                ).over(w)}

    tol = F.expr(f"INTERVAL {tolerance}") if tolerance is not None else None

    if direction != "nearest":
        w = w_back if direction == "backward" else w_fwd
        out = unioned.withColumns(_fills(w, "")).filter(F.col("__side") == 1)
        if tol is not None:
            m, ts = F.col("__match_ts"), F.col("__ts")
            too_far = m < ts - tol if direction == "backward" else m > ts + tol
            out = out.withColumns(
                {dst: F.when(too_far, F.lit(None)).otherwise(F.col(dst))
                 for dst in renames.values()}
            )
        return out.drop("__ts", "__side", "__match_ts")

    # nearest: both fills over the same shuffled union, then per-row choice;
    # each side's tolerance applies before the choice (pandas semantics)
    filled = unioned.withColumns(_fills(w_back, "__b")).withColumns(
        _fills(w_fwd, "__f")
    )
    out = filled.filter(F.col("__side") == 1)
    back_ok = F.col("__match_ts__b").isNotNull()
    fwd_ok = F.col("__match_ts__f").isNotNull()
    if tol is not None:
        back_ok = back_ok & (F.col("__match_ts__b") >= F.col("__ts") - tol)
        fwd_ok = fwd_ok & (F.col("__match_ts__f") <= F.col("__ts") + tol)
    use_back = back_ok & (
        ~fwd_ok
        | (
            (F.unix_micros("__ts") - F.unix_micros("__match_ts__b"))
            <= (F.unix_micros("__match_ts__f") - F.unix_micros("__ts"))
        )
    )
    out = out.withColumns(
        {dst: F.when(use_back, F.col(f"{dst}__b"))
              .when(fwd_ok, F.col(f"{dst}__f"))
         for dst in renames.values()}
    )
    drop = ["__ts", "__side", "__match_ts__b", "__match_ts__f"] + [
        f"{dst}{tag}" for dst in renames.values() for tag in ("__b", "__f")
    ]
    return out.drop(*drop)


def enrich(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str] | str,
    how: str = "left",
) -> DataFrame:
    """Dimension enrich with an explicit broadcast: the small side ships to every
    executor, so the 100 TB fact table never shuffles. This is the batch/static
    side of the reference's config/model side-streams (tiny by construction,
    makinage/serve/serve.py:128-137)."""
    return fact.join(F.broadcast(dim), on=on, how=how)


def zip_streams(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    left_order: ColumnLike,
    right_order: ColumnLike,
    suffix: str = "_r",
) -> DataFrame:
    """Ordinal zip (``rx.zip`` made deterministic): pair the i-th left record
    with the i-th right record per ``by`` key, both sides sequenced by their
    own event-time/order column instead of arrival order — the only zip
    semantics that is stable under re-execution in a distributed engine.
    Unpaired tail records (one stream longer) are dropped, matching Rx.

    Shape: a row_number window per side (one shuffle each on ``by``) and an
    equi-join on ``(by, seq)``; AQE aligns the join since both sides leave
    their windows hash-partitioned on the key prefix."""
    lw = Window.partitionBy(*by).orderBy(_col(left_order))
    rw = Window.partitionBy(*by).orderBy(_col(right_order))
    l_seq = left.withColumn("__seq", F.row_number().over(lw))
    r_seq = right.withColumn("__seq", F.row_number().over(rw))
    overlap = [c for c in r_seq.columns if c in l_seq.columns and c not in (*by, "__seq")]
    for c in overlap:
        r_seq = r_seq.withColumnRenamed(c, c + suffix)
    return l_seq.join(r_seq, on=[*by, "__seq"]).drop("__seq")


def merge(*dfs: DataFrame) -> DataFrame:
    """Unordered stream merge (``ops.merge_all``, makinage/operator.py:145-152)
    = UNION ALL by column name."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def sorted_merge(
    *dfs: DataFrame, order: list[str], seq_col: str = "seq"
) -> DataFrame:
    """K-way SORTED merge: interleave k sources into one strictly
    event-time-ordered stream, with the global position materialized as
    ``seq_col`` (1-based, dense, deterministic given a unique ``order``
    tuple).

    This is the strict-order half of the reference's
    ``rxx.pullable.sorted_merge`` (makinage/operator.py:139: k per-partition
    Kafka streams merged in event-time order, with ``merge_lookup_depth``
    bounding how far a late source is awaited, operator.py:61-63). The
    engine's streaming side subsumes the *lateness* contract with watermarks
    (SURVEY §7.2); this operator demonstrates the *order* contract in batch:
    no matter how the k inputs interleave or how disordered each is within
    its lateness bound, the output order is the total ``order``-tuple order.

    Spark-first physical plan — NO single-reducer global sort:
    ``repartitionByRange(order)`` gives ascending, non-overlapping key
    ranges per partition id, ``sortWithinPartitions`` orders within each.
    The global sequence is then two-phase: per-partition ``row_number``
    plus the broadcast cumulative row-count offset of all earlier
    partitions (the partition-count table has exactly
    ``spark.sql.shuffle.partitions`` rows — a control-plane-sized window).
    At 100 TB this is the same exchange Spark's own ORDER BY plans, plus
    one metadata-sized aggregation; nothing funnels through one task.

    The range-shuffled relation is persisted (it feeds both the count pass
    and the output): run repeated calls inside ``materialize.scope()``.
    """
    arranged = materialize(
        merge(*dfs)
        .repartitionByRange(*order)
        .sortWithinPartitions(*order)
        .withColumn("__pid", F.spark_partition_id())
    )
    offsets = (
        arranged.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__n"))
        .select(
            "__pid",
            (
                F.sum("__n").over(
                    Window.orderBy("__pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                )
            ).alias("__off"),
        )
        .fillna({"__off": 0})
    )
    w = Window.partitionBy("__pid").orderBy(*order)
    return (
        arranged.withColumn("__rn", F.row_number().over(w))
        .join(F.broadcast(offsets), "__pid")
        .withColumn(seq_col, (F.col("__off") + F.col("__rn")).cast("bigint"))
        .drop("__pid", "__rn", "__off")
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-busting equi-join: spread each hot key of ``big`` over ``salts``
    reducers by joining on ``(key, salt)`` against a ``salts``-way replicated
    ``small`` side.

    When one key holds a large share of ``big`` (power-law user ids, null-ish
    defaults), a plain shuffle join lands that key on ONE reducer and the stage
    runs at the speed of its slowest task. Salting trades ``salts×`` the small
    side (which must stay modest — else broadcast it instead) for even reducer
    load. The salt value is taken from the big side's physical partition id —
    any assignment works, correctness never depends on it. AQE's skew-join
    split handles moderate skew automatically; this is the explicit form for
    the pathological keys AQE's size thresholds miss.
    """
    salt = F.pmod(F.spark_partition_id(), F.lit(salts)).alias("__salt")
    b = big.withColumn("__salt", salt)
    s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salts - 1)))
    )
    out = b.join(s, on=[on, "__salt"], how=how)
    return out.drop("__salt")
