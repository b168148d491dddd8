"""rs.math-equivalent numeric aggregates (reference: ``rs.math.mean`` et al.,
README.rst:66; t-digest distributions ``rs.math.dist``, README.rst:186).

Two emission modes, mirroring the reference's ``reduce`` flag:

- ``reduce=True``  — terminal aggregate only → ``groupBy().agg()`` (Spark's
  default; partial map-side aggregation then a single shuffle on the key).
- ``reduce=False`` — running value emitted per record (Rx ``scan`` shape) →
  window aggregate over ``rowsBetween(unboundedPreceding, currentRow)``.

All of these are built-in JVM aggregate expressions — no Python in the hot
path. At 100 TB the terminal form is one shuffle with map-side combine; the
running form is one shuffle + per-key local sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from makinage_spark.materialize import materialize
from makinage_spark.ops.core import ColumnLike, _col, _window

#: name → aggregate builder; the rs.math surface (README.rst:66 evidences
#: ``rs.math.mean``; the rest are the public rxsci API, SURVEY §2.2).
AGGREGATES: dict[str, Column] = {
    "sum": F.sum,
    "count": F.count,
    "mean": F.avg,
    "min": F.min,
    "max": F.max,
    "variance": F.var_samp,
    "stddev": F.stddev_samp,
}


def _aggregate(
    name: str,
    source: ColumnLike,
    alias: str | None,
    reduce: bool,
    by: list[str] | None,
    order_by: list[ColumnLike] | None,
):
    builder = AGGREGATES[name]
    out = alias or name

    def _op(df: DataFrame) -> DataFrame:
        if reduce:
            agg = builder(_col(source)).alias(out)
            if by:
                return df.groupBy(*by).agg(agg)
            return df.agg(agg)
        if not order_by:
            raise ValueError(f"{name}(reduce=False) requires order_by (running emission)")
        w = _window(by, order_by).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        return df.withColumn(out, builder(_col(source)).over(w))

    return _op


def mean(source: ColumnLike, alias=None, reduce=True, by=None, order_by=None):
    """``rs.math.mean`` (README.rst:66)."""
    return _aggregate("mean", source, alias, reduce, by, order_by)


def sum(source: ColumnLike, alias=None, reduce=True, by=None, order_by=None):  # noqa: A001
    return _aggregate("sum", source, alias, reduce, by, order_by)


def count(source: ColumnLike, alias=None, reduce=True, by=None, order_by=None):
    return _aggregate("count", source, alias, reduce, by, order_by)


def min(source: ColumnLike, alias=None, reduce=True, by=None, order_by=None):  # noqa: A001
    return _aggregate("min", source, alias, reduce, by, order_by)


def max(source: ColumnLike, alias=None, reduce=True, by=None, order_by=None):  # noqa: A001
    return _aggregate("max", source, alias, reduce, by, order_by)


def variance(source: ColumnLike, alias=None, reduce=True, by=None, order_by=None):
    return _aggregate("variance", source, alias, reduce, by, order_by)


def stddev(source: ColumnLike, alias=None, reduce=True, by=None, order_by=None):
    return _aggregate("stddev", source, alias, reduce, by, order_by)


# ---------------------------------------------------------------------------
# Distributions (rs.math.dist — t-digest quantiles/histograms, README.rst:186)
# ---------------------------------------------------------------------------


def quantiles(
    source: ColumnLike,
    probabilities: list[float],
    alias: str = "quantiles",
    by: list[str] | None = None,
    exact: bool = False,
    accuracy: int = 10000,
):
    """Streaming-quantile equivalent of ``rs.math.dist`` (t-digest).

    Default is ``approx_percentile`` — Spark's QuantileSummaries sketch: a
    mergeable summary, so partial sketches combine across partitions exactly
    like t-digest merges (same asymptotics, different sketch). ``exact=True``
    uses the exact ``percentile`` aggregate (sorts per group — fine to a few
    hundred million rows per group, not the default at 100 TB).
    """

    def _op(df: DataFrame) -> DataFrame:
        probs = F.array(*[F.lit(p) for p in probabilities])
        if exact:
            agg = F.percentile(_col(source), probs).alias(alias)
        else:
            agg = F.approx_percentile(_col(source), probs, F.lit(accuracy)).alias(alias)
        if by:
            return df.groupBy(*by).agg(agg)
        return df.agg(agg)

    return _op


def histogram(
    source: ColumnLike,
    bin_width: float,
    alias_bucket: str = "bucket",
    alias_count: str = "n",
    by: list[str] | None = None,
):
    """Fixed-width histogram (the KDnuggets real-time-histogram use case the
    reference links, README.rst:186): bucket = floor(x / bin_width). Exact, one
    shuffle with map-side combine; bucket count is data-independent so this
    holds at any scale."""

    def _op(df: DataFrame) -> DataFrame:
        bucket = F.floor(_col(source) / F.lit(bin_width)).alias(alias_bucket)
        keys = [*(by or []), bucket]
        return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(alias_count))

    return _op


def ewma(
    source: ColumnLike,
    alpha: float,
    by: list[str] | None,
    order_by: list[ColumnLike],
    alias: str | None = None,
):
    """Exponentially weighted moving average per record (``rs.math.ewma``
    family): ``ewma_t = α·x_t + (1-α)·ewma_{t-1}``, seeded ``ewma_0 = x_0``.

    Implementation is the recursion ITSELF, run as an in-row sequential fold
    over each row's value prefix (collect the key's ordered value array once,
    re-explode with position, fold ``slice(vals, 1, t+1)``). Why not a
    window closed form: any ``(1-α)^{±t}`` rescaling routes through libm
    ``pow`` and a windowed float sum, both of which differ across engines
    (measured 1e-4 divergences vs DuckDB); the fold performs the identical
    IEEE multiply-multiply-add sequence in the identical order on any
    engine, so results are BIT-exact and need no rounding discipline.

    Cost: the exploded prefix work is O(n²) per key with the array
    duplicated per row — sized for per-key series in the thousands
    (sessions, daily traces). For unbounded per-key streams use the O(1)
    recursive state in a stateful streaming op instead
    (streaming/stateful.py patterns)."""
    out = alias or "ewma"
    a = float(alpha)
    if not 0.0 < a < 1.0:
        raise ValueError("alpha must be in (0, 1)")

    def _op(df: DataFrame) -> DataFrame:
        keys = list(by or [])
        order_cols = [_col(c) for c in order_by]
        ord_fields = [c.alias(f"__o{i}") for i, c in enumerate(order_cols)]
        payload = F.struct(*[F.col(c) for c in df.columns]).alias("__row")
        item = F.struct(
            *ord_fields, _col(source).cast("double").alias("__v"), payload
        )
        g = df.groupBy(*keys).agg(
            F.array_sort(F.collect_list(item)).alias("__arr")
        )
        ex = g.select(
            "__arr", F.posexplode("__arr").alias("__pos", "__e")
        ).withColumn("__vals", F.expr("transform(__arr, e -> e.__v)"))
        fold = F.expr(
            f"aggregate(slice(__vals, 2, __pos), element_at(__vals, 1),"
            f" (acc, x) -> cast({a} as double) * x"
            f" + cast({1.0 - a} as double) * acc)"
        )
        return ex.select(F.col("__e.__row.*"), fold.alias(out))

    return _op


def global_running_sum(
    df: DataFrame,
    order: list,
    value: ColumnLike,
    out: str = "running_total",
) -> DataFrame:
    """Order-sensitive GLOBAL cumulative sum of ``value`` under the total
    order given by ``order`` — without a single-reducer global sort.

    A bare ``Window.orderBy(...)`` with no partition key funnels every row
    through one task; fine at test scale, fatal at 100 TB. This uses the
    same two-phase shape as :func:`makinage_spark.joins.sorted_merge`:
    ``repartitionByRange(order)`` gives ascending non-overlapping key ranges
    per partition, ``sortWithinPartitions`` orders within each, then the
    global running value is the per-partition running sum plus the broadcast
    cumulative total of all earlier partitions (the offset table has exactly
    ``spark.sql.shuffle.partitions`` rows — control-plane sized).

    Exactness: pass an integer or decimal ``value`` column — the per-partition
    partials then add associatively and the result is independent of the
    partitioning. For doubles, cast to decimal first (float addition is not
    associative across a repartition).

    The range-shuffled relation is persisted (it feeds both the offset pass
    and the output): run repeated calls inside ``materialize.scope()``.
    """
    val = _col(value)
    arranged = materialize(
        df.repartitionByRange(*order)
        .sortWithinPartitions(*order)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__v", val)
    )
    offsets = (
        arranged.groupBy("__pid")
        .agg(F.sum("__v").alias("__s"))
        .select(
            "__pid",
            F.sum("__s")
            .over(
                Window.orderBy("__pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            )
            .alias("__off"),
        )
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        arranged.withColumn("__run", F.sum("__v").over(w))
        .join(F.broadcast(offsets), "__pid")
        .withColumn(out, F.coalesce(F.col("__off"), F.lit(0)) + F.col("__run"))
        .drop("__pid", "__run", "__off", "__v")
    )
