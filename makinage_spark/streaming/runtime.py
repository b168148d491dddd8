"""Streaming runtime helpers: event-time declaration, per-micro-batch control
refresh (the hot-swap pattern), deterministic test execution."""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def with_event_time(
    df: DataFrame,
    ts: str | Column,
    watermark: str = "10 minutes",
    from_mapper: Callable[[DataFrame], Column] | None = None,
) -> DataFrame:
    """Declare event time + lateness bound.

    The reference's ``timestamp_mapper`` extracts event time per record and
    ``merge_lookup_depth`` bounds reordering (makinage/operator.py:55-63);
    here the mapper becomes a Column expression and the bound becomes the
    watermark — late data beyond it is dropped by stateful operators instead
    of silently misordering them.
    """
    col = from_mapper(df) if from_mapper else (F.col(ts) if isinstance(ts, str) else ts)
    out = df.withColumn("__event_time", col.cast("timestamp"))
    if df.isStreaming:
        out = out.withWatermark("__event_time", watermark)
    return out


def for_each_batch_with_latest(
    df: DataFrame,
    control_loader: Callable[[], Any],
    body: Callable[[DataFrame, Any, int], None],
    checkpoint: str,
    trigger: dict | None = None,
):
    """The ``with_latest_from``/``combine_latest`` hot-swap pattern
    (makinage/serve/serve.py:128-141): each micro-batch re-reads the latest
    control value (model, config) and applies ``body(batch_df, control,
    batch_id)``.

    Granularity is per micro-batch, not per record — the documented semantic
    relaxation (SURVEY §7.3; the reference's own tests only observe config
    changes between batches, tests/test_serve.py:96-107).
    """

    def _run(batch_df: DataFrame, batch_id: int) -> None:
        body(batch_df, control_loader(), batch_id)

    writer = df.writeStream.foreachBatch(_run).option("checkpointLocation", checkpoint)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def run_available_now(
    df: DataFrame, name: str, checkpoint: str, timeout: float | None = 120, mode: str = "append"
) -> DataFrame:
    """Deterministic test execution: drain all available input
    (``Trigger.AvailableNow``) into a memory sink and return the result as a
    batch DataFrame. This is the test harness the reference cannot have —
    replayable streaming semantics (SURVEY §5). ``timeout=None`` waits for
    the drain however long it takes; a query still running after ``timeout``
    seconds is stopped and raises ``TimeoutError``, never a partial result."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout)
    if q.isActive:
        q.stop()
        raise TimeoutError(f"streaming query {name} still running after {timeout} s")
    return df.sparkSession.table(name)
