"""Materialize and release intermediate DataFrames.

Every operator that holds an intermediate (a persisted loop invariant, a
checkpointed iterate) goes through :func:`materialize`; this module is the
only place in the package that calls ``persist``, ``localCheckpoint``,
``checkpoint`` or ``unpersist``.

Operators return lazy plans, so they cannot free what they hold: the
caller's evaluation still reads it. A long-lived session (a ``foreachBatch``
loop, a served model, a notebook composing many pipelines) wraps repeated
calls in :func:`scope` instead::

    with materialize.scope():
        out = dedup.connected_components(pairs).collect()
    # every frame held during the block is released here

Outside any scope, a held frame lives until the session drops it, as with a
bare ``persist()``.
"""

from __future__ import annotations

import contextlib
import contextvars
from collections.abc import Iterator

from pyspark.sql import DataFrame

#: Target rows per partition for a ``size_by`` materialization.
_ROWS_PER_PARTITION = 250_000

#: Frames held by the innermost active :func:`scope` of this context. A
#: ContextVar, so a ``foreachBatch`` callback thread never shares its scope
#: with the thread that started the query.
_HELD: contextvars.ContextVar[list[DataFrame] | None] = contextvars.ContextVar(
    "makinage_spark_materialize_held", default=None
)


def _partitions_for(n_rows: int) -> int:
    """Partition count of a ``size_by`` materialization: ~250k rows per
    partition with a floor of 4. Deliberately UNCAPPED by the session's
    ``spark.sql.shuffle.partitions``: a 10B-edge graph on an untuned session
    must land at ~40k partitions, not be squeezed to the session default —
    the data, not the session config, picks the width."""
    return max(4, n_rows // _ROWS_PER_PARTITION + 1)


def materialize(
    df: DataFrame, mode: str = "persist", size_by: str | None = None
) -> DataFrame:
    """Hold ``df`` so later plans read it instead of recomputing its lineage.

    ``mode``:

    - ``"persist"`` — lazy ``persist()`` (MEMORY_AND_DISK): filled by the
      first action that reads it.
    - ``"local"`` — eager ``localCheckpoint``: executor-local blocks, lineage
      cut. Fastest; a lost executor forces recompute from the source.
    - ``"reliable"`` — eager ``checkpoint`` to the session's checkpoint
      directory (``sparkContext.setCheckpointDir``): survives executor loss.

    ``size_by`` (``"persist"`` only) makes the persist EAGER and sized to the
    frame's own row count: one count, then, if the current partition count
    differs from ~250k rows/partition (floor 4), a hash repartition on the
    ``size_by`` column. A relation derived from a corpus inherits the
    corpus's partition count, so every pass over it would schedule a
    corpus-width task wave over near-empty cached blocks (cached plans get no
    AQE re-coalescing); a huge graph built under a small session config
    inherits too few. The rule resizes in both directions, and the count
    doubles as the materialization barrier iterative bodies need.

    Inside a :func:`scope`, the returned frame is released when the scope
    exits.
    """
    if size_by is not None and mode != "persist":
        raise ValueError("size_by applies to mode='persist' only")
    if mode == "persist":
        df = df.persist()
        if size_by is not None:
            parts = _partitions_for(df.count())
            if parts != df.rdd.getNumPartitions():
                sized = df.repartition(parts, size_by).persist()
                sized.count()
                df.unpersist()
                df = sized
    elif mode == "local":
        df = df.localCheckpoint(eager=True)
    elif mode == "reliable":
        df = df.checkpoint(eager=True)
    else:
        raise ValueError(f"mode must be persist|local|reliable, got {mode!r}")
    held = _HELD.get()
    if held is not None:
        held.append(df)
    return df


def release(df: DataFrame) -> None:
    """Free what :func:`materialize` holds for ``df``: its cached blocks, a
    local checkpoint's blocks, or a reliable checkpoint's files. Idempotent.

    ``DataFrame.unpersist()`` alone cannot free a checkpoint — the blocks
    belong to the RDD under the checkpoint's ``LogicalRDD`` scan, which only
    the JVM side can reach. A plan that reads ``df`` after its checkpoint is
    released fails (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``) rather than
    silently recomputing."""
    df.unpersist()
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        return
    rdd = plan.rdd()
    if not rdd.isCheckpointed():
        return
    rdd.unpersist(False)
    ckpt = rdd.getCheckpointFile()
    if ckpt.isDefined():
        jvm = df.sparkSession.sparkContext._jvm
        path = jvm.org.apache.hadoop.fs.Path(ckpt.get())
        path.getFileSystem(rdd.context().hadoopConfiguration()).delete(path, True)


@contextlib.contextmanager
def scope() -> Iterator[None]:
    """Release, on exit, every frame materialized inside the block.

    Scopes nest: a frame registers with the innermost active scope only.
    The active scope is per context (thread or task), so concurrent
    ``foreachBatch`` callbacks and the driver thread never share one.
    Consume results inside the block — a plan evaluated after the exit
    recomputes released persists and fails on released checkpoints."""
    held: list[DataFrame] = []
    token = _HELD.set(held)
    try:
        yield
    finally:
        _HELD.reset(token)
        for df in reversed(held):
            release(df)
