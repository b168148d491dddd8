"""Custom stateful streaming operators: count windows, running folds and the
other per-key state machines Spark has no built-in streaming equivalent for
(SURVEY §7.2 "hardest piece"):

- ``rs.data.roll`` count windows (window/stride in *records*, README.rst:63-68)
  — time windows don't apply; needs a per-key row buffer.
- ``rs.ops.scan`` running fold emitting *per record* (makinage/serve/
  serve.py:88-101) — streaming aggregation emits per group, not per record.

All of them are one fold each over :func:`_per_key`, the single
``applyInPandasWithState`` harness (Arrow-batched per-key state;
RocksDB/HDFS-checkpointed, so state survives restarts — strictly stronger than
the reference's in-memory stores, README.rst:80-83).

Ordering: state is applied in arrival order per key — micro-batch order, then
within a micro-batch the order of the given sort columns. A key's rows in one
micro-batch are concatenated across all the Arrow chunks Spark cuts them into
(``spark.sql.execution.arrow.maxRecordsPerBatch``) and sorted once with a
stable sort, so ties keep arrival order. This is the reference's own ordering
model (per-Kafka-partition arrival order, SURVEY §1.3).

Scale: state per key is O(window) for roll and zip and O(1) for the rest;
keys partition across executors. A key's whole micro-batch is held in one
pandas frame, the minimum any in-order fold needs.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd

_AGGS = {
    "mean": lambda xs: sum(xs) / len(xs),
    "sum": lambda xs: float(sum(xs)),
    "min": lambda xs: float(min(xs)),
    "max": lambda xs: float(max(xs)),
    "count": lambda xs: float(len(xs)),
}


def _per_key(
    df,
    key_col: str,
    sort_cols: list[str],
    init: Any,
    fold: Callable[[pd.DataFrame | None, Any], tuple[dict, Any]],
    output_schema: str,
    state_schema: str,
    timeout_at: Callable[[Any], int] | None = None,
):
    """Run ``fold`` over each key's micro-batch in ``sort_cols`` order.

    ``fold(pdf, state) -> (columns, new_state)`` gets the key's rows of one
    micro-batch as one stably sorted frame and the key's state (``init`` when
    the key is new); ``columns`` are the output columns after the key column,
    which is prepended. A ``new_state`` of ``None`` removes the state.

    ``timeout_at(state)`` arms an event-time timeout (epoch ms) after every
    update. When it fires, the fold is called with ``pdf=None``.
    """

    def _proc(key: Any, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        cur = state.get if state.exists else init
        pdf = None
        if not state.hasTimedOut:
            chunks = list(pdfs)
            # one chunk is the common case; concat would only copy it
            pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
            pdf = pdf.sort_values(sort_cols, kind="stable")
        cols, new = fold(pdf, cur)
        if new is None:
            state.remove()
        else:
            state.update(new)
            if timeout_at is not None:
                state.setTimeoutTimestamp(timeout_at(new))
        out = pd.DataFrame({key_col: key[0], **cols})
        if len(out):
            yield out

    return df.groupBy(key_col).applyInPandasWithState(
        _proc,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="EventTimeTimeout" if timeout_at else "NoTimeout",
    )


def streaming_roll(
    df,
    key_col: str,
    value_col: str,
    order_col: str,
    window: int,
    stride: int,
    agg: str = "mean",
):
    """Streaming ``rs.data.roll``: per-key count windows with stride, emitting
    ``(key, window_id, agg_value)`` for each *completed* window (partial
    windows never emit — README.rst:77-90 golden).

    State = (buffer of values still needed by an open window, count of rows
    consumed so far). A row enters, completed windows flush, and the buffer is
    trimmed to the next un-emitted window start — so state size is bounded by
    ``window + stride`` regardless of stream length.
    """
    if agg not in _AGGS:
        raise ValueError(f"agg must be one of {sorted(_AGGS)}")
    agg_fn = _AGGS[agg]

    def fold(pdf, state):
        buffer, seen, next_start = state
        buffer = list(buffer)
        rows = {"window_id": [], "agg_value": []}
        for v in pdf[value_col]:
            buffer.append(float(v))
            seen += 1
            # windows are [s, s+window) for s = k*stride; flush every
            # window completed by this row
            while next_start + window <= seen:
                lo = next_start - (seen - len(buffer))
                rows["window_id"].append(next_start // stride)
                rows["agg_value"].append(agg_fn(buffer[lo : lo + window]))
                next_start += stride
            # trim: nothing before next_start is needed again
            drop = next_start - (seen - len(buffer))
            if drop > 0:
                buffer = buffer[drop:]
        return rows, (buffer, seen, next_start)

    return _per_key(
        df, key_col, [order_col], ([], 0, 0), fold,
        f"{key_col} long, window_id long, agg_value double",
        "buffer array<double>, seen long, next_start long",
    )


def streaming_scan(df, key_col: str, value_col: str, order_col: str):
    """Streaming ``rs.ops.scan``: per-record running sum/count per key.
    Emits every record with its accumulated state — the Rx scan contract —
    with O(1) state per key."""

    def fold(pdf, state):
        total, n = state
        run = pdf[value_col].astype(float).cumsum() + total
        cols = {
            order_col: pdf[order_col].values,
            "running_total": run.values,
            "running_count": np.arange(n + 1, n + len(pdf) + 1),
        }
        return cols, (float(run.iloc[-1]), n + len(pdf))

    return _per_key(
        df, key_col, [order_col], (0.0, 0), fold,
        f"{key_col} long, {order_col} long, running_total double, running_count long",
        "total double, n long",
    )


def streaming_pack(df, key_col: str, token_col: str, order_col: str, budget: int):
    """Streaming sequence packing: the stateful twin of
    ``data.pack_sequences``. Per-key state is ONE integer — the cumulative
    token offset consumed so far — so a perpetual ingest stream can assign
    every arriving document to its fixed-token-budget training sequence
    exactly as the batch packer would, with O(1) state per source shard.

    Emits ``(key, order, n_tok, seq_id)`` per record, append mode;
    ``seq_id = floor(start_offset / budget)`` where ``start_offset`` is the
    running token offset before the record, in order-column order."""

    def fold(pdf, state):
        (cum,) = state
        toks = pdf[token_col].astype("int64")
        ends = toks.cumsum() + cum
        cols = {
            order_col: pdf[order_col].values,
            token_col: toks.values,
            "seq_id": ((ends - toks) // budget).values,
        }
        return cols, (int(ends.iloc[-1]),)

    return _per_key(
        df, key_col, [order_col], (0,), fold,
        f"{key_col} string, {order_col} long, {token_col} long, seq_id long",
        "cum long",
    )


def streaming_funnel(
    df,
    key_col: str,
    ts_col: str,
    type_col: str,
    order_col: str,
    stages: tuple[str, ...] = ("view", "click", "purchase"),
):
    """Streaming ordered-funnel tracker: per-key state is ONE timestamp per
    stage — the earliest time each stage was reached via a strictly-ordered
    chain (stage k counts only after stage k-1's current earliest time and
    strictly later than it). The batch twin is q_funnel_conversion's chained
    cumulative-min windows; the fold below is the same recurrence applied in
    event order, so the final emission per key hash-matches the batch SQL
    oracle.

    Emits one row per key per micro-batch with the current stage mins
    (micros) and a monotone ``emit_seq``; take each key's max emit_seq for
    the as-of-now funnel state. State is O(len(stages)) = O(1) per key
    forever — a perpetual product-analytics stream never grows it.

    Ordering: (ts, order) within a micro-batch, arrival across micro-batches;
    out-of-order regressions across batches would need watermark-delayed
    finalization instead.
    """
    n_stages = len(stages)

    def fold(pdf, state):
        # state keeps -1 for a stage not reached yet
        mins = [None if m < 0 else m for m in state[0]]
        ts_us = pdf[ts_col].astype("int64") // 1000
        for t, et in zip(ts_us, pdf[type_col]):
            try:
                i = stages.index(et)
            except ValueError:
                continue
            if i > 0 and (mins[i - 1] is None or not (mins[i - 1] < t)):
                continue
            if mins[i] is None or t < mins[i]:
                mins[i] = int(t)
        seq = state[1] + 1
        cols = {"emit_seq": [seq]}
        for j in range(n_stages):
            cols[f"stage{j + 1}_us"] = [mins[j]]
        return cols, ([-1 if m is None else m for m in mins], seq)

    stage_cols = ", ".join(f"stage{j + 1}_us long" for j in range(n_stages))
    return _per_key(
        df, key_col, [ts_col, order_col], ([-1] * n_stages, 0), fold,
        f"{key_col} long, emit_seq long, {stage_cols}",
        "mins array<long>, seq long",
    )


def streaming_debounce(df, key_col: str, ts_col: str, order_col: str, gap_seconds: int,
                       key_type: str = "string"):
    """Streaming event-time debounce (the stateful twin of ``ops.debounce``):
    per key, hold only the LATEST record; a newcomer more than ``gap`` after
    the held record flushes it (reason='follow'), a newcomer inside the gap
    SUPERSEDES it (trailing-edge semantics — the burst's non-final records
    are dropped); and when the event-time WATERMARK passes the held record's
    quiet period, an event-time TIMEOUT flushes it (reason='timeout') — the
    only way a debounce can ever emit the final element of a stream.

    This is the repo's timer-based stateful shape: state is O(1) per key
    (one timestamp + one order id), and emission is driven by
    ``GroupStateTimeout.EventTimeTimeout`` + ``setTimeoutTimestamp``, so
    correctness follows the watermark, not wall clock — deterministic under
    replay. Input must carry ``withWatermark(ts_col, ...)``.

    Emits ``(key, order, ts_us, reason)`` per flushed record.
    """
    gap_us = int(gap_seconds) * 1_000_000

    def fold(pdf, held):
        if pdf is None:  # timed out: the watermark passed the quiet period
            return {"order": [held[1]], "ts_us": [held[0]], "reason": ["timeout"]}, None
        out = {"order": [], "ts_us": [], "reason": []}
        ts_us = pdf[ts_col].astype("int64") // 1000
        for t, oid in zip(ts_us, pdf[order_col]):
            t, oid = int(t), int(oid)
            if held is not None and t > held[0] + gap_us:
                out["order"].append(int(held[1]))
                out["ts_us"].append(int(held[0]))
                out["reason"].append("follow")
                held = (t, oid)
            elif held is None or (t, oid) > held:
                # supersede only when the newcomer sorts strictly after the
                # held record on (ts, order) — an equal-timestamp record
                # arriving in a later micro-batch with a smaller order id
                # must not replace it (batch oracle tie-break is (ts, id))
                held = (t, oid)
        return out, held

    return _per_key(
        df, key_col, [ts_col, order_col], None, fold,
        f"{key_col} {key_type}, order long, ts_us long, reason string",
        "held_ts long, held_order long",
        # flush when the watermark passes the quiet period
        timeout_at=lambda held: held[0] // 1000 + gap_seconds * 1000 + 1,
    )


def streaming_ewma(df, key_col: str, value_col: str, order_col: str, alpha: float):
    """Streaming EWMA: the O(1)-state recursive twin of ``smath.ewma`` —
    ``ewma = α·x + (1-α)·ewma_prev`` applied per record in order-column
    order, seeded at the key's first observation. State is ONE double per
    key forever, so the batch operator's O(n²) prefix-fold bound never
    applies on unbounded streams; the arithmetic is the same
    multiply-multiply-add sequence, so a stream replay reproduces the batch
    fold bit-for-bit."""
    a = float(alpha)
    if not 0.0 < a < 1.0:
        raise ValueError("alpha must be in (0, 1)")

    def fold(pdf, state):
        cur, seeded = state
        out = []
        for v in pdf[value_col].astype(float):
            cur = float(v) if not seeded else a * float(v) + (1.0 - a) * cur
            seeded = True
            out.append(cur)
        return {order_col: pdf[order_col].values, "ewma": out}, (cur, seeded)

    return _per_key(
        df, key_col, [order_col], (0.0, False), fold,
        f"{key_col} long, {order_col} long, ewma double",
        "cur double, seeded boolean",
    )


def streaming_zip(df, key_col: str, side_col: str, order_col: str, value_col: str):
    """Streaming ``rx.zip``: pair the i-th left record with the i-th right
    record per key, across micro-batches. Input is the TAGGED UNION of both
    streams (``side_col`` ∈ {0=left, 1=right}); per-key state holds only the
    UNMATCHED tail of whichever side is ahead, so state is bounded by
    inter-stream skew (zero when the sides advance together), never stream
    length. Emits ``(key, pair_seq, left_order, left_value, right_order,
    right_value)`` in append mode.

    Ordering: order-column order within a micro-batch, arrival across
    micro-batches — the reference's per-partition ordering model. With
    in-order feeds this reproduces the batch ordinal zip
    (``joins.zip_streams``) exactly (tested)."""

    def fold(pdf, state):
        lo, lv, ro, rv, seq = state
        lo, lv, ro, rv = list(lo), list(lv), list(ro), list(rv)
        out = {"pair_seq": [], "left_order": [], "left_value": [],
               "right_order": [], "right_value": []}
        for side, o, v in zip(pdf[side_col], pdf[order_col], pdf[value_col]):
            if int(side) == 0:
                lo.append(int(o)), lv.append(float(v))
            else:
                ro.append(int(o)), rv.append(float(v))
            while lo and ro:
                out["pair_seq"].append(seq)
                out["left_order"].append(lo.pop(0))
                out["left_value"].append(lv.pop(0))
                out["right_order"].append(ro.pop(0))
                out["right_value"].append(rv.pop(0))
                seq += 1
        return out, (lo, lv, ro, rv, seq)

    return _per_key(
        df, key_col, [order_col], ([], [], [], [], 0), fold,
        f"{key_col} long, pair_seq long, left_order long, left_value double,"
        " right_order long, right_value double",
        "lo array<long>, lv array<double>, ro array<long>, rv array<double>, seq long",
    )


def streaming_topk(df, key_col: str, value_col: str, order_col: str, k: int = 3):
    """Per-key running top-k with BOUNDED state: exactly k (value, id) pairs
    per key regardless of stream length, so the state store holds
    k·|keys| tuples, not the stream (SURVEY §7.2 "custom state logic").

    Each micro-batch emits the key's refreshed top-k tagged with a per-key
    batch sequence number (``emit_seq``); the final (max-emit_seq) emission
    is the all-data answer, so a terminal filter on seq = max(seq) recovers
    the batch-equivalent result. Ties break on the id column."""

    def fold(pdf, state):
        vals = list(state[0]) + [float(v) for v in pdf[value_col]]
        ids = list(state[1]) + [int(i) for i in pdf[order_col]]
        top = sorted(range(len(vals)), key=lambda i: (-vals[i], ids[i]))[:k]
        vals, ids, seq = [vals[i] for i in top], [ids[i] for i in top], state[2] + 1
        cols = {"emit_seq": [seq] * len(vals), "rank": range(1, len(vals) + 1),
                "value": vals, order_col: ids}
        return cols, (vals, ids, seq)

    return _per_key(
        df, key_col, [order_col], ([], [], 0), fold,
        f"{key_col} long, emit_seq long, rank long, value double, {order_col} long",
        "vals array<double>, ids array<long>, seq long",
    )
