"""Structured Streaming runtime: event time, control-stream hot-swap, stateful
count windows — the streaming-only operator surface of SURVEY §2.3.

The reference's streaming model (push-based Rx over Kafka) maps to micro-batch
Structured Streaming; its event-time story (``timestamp_mapper`` + k-way
sorted merge bounded by ``merge_lookup_depth``, makinage/operator.py:55-63,
133-144) maps to ``withWatermark`` + order-insensitive windowed aggregation;
its in-memory state stores (``rs.state.with_memory_store``, README.rst:80-83)
map to Spark's checkpointed state store — strictly stronger (exactly-once vs
none).
"""

from makinage_spark.streaming.runtime import (
    for_each_batch_with_latest,
    run_available_now,
    with_event_time,
)
from makinage_spark.streaming.stateful import (
    streaming_debounce,
    streaming_ewma,
    streaming_funnel,
    streaming_pack,
    streaming_roll,
    streaming_scan,
    streaming_topk,
    streaming_zip,
)

__all__ = [
    "with_event_time",
    "for_each_batch_with_latest",
    "run_available_now",
    "streaming_debounce",
    "streaming_ewma",
    "streaming_funnel",
    "streaming_pack",
    "streaming_roll",
    "streaming_scan",
    "streaming_zip",
    "streaming_topk",
]
