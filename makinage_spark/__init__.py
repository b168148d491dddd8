"""makinage_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of maki-nage/makinage.

The reference (maki-nage/makinage, MIT) is an RxPY stream-processing framework:
user code composes reactive operator pipelines over Kafka topics, declared by a
YAML dataflow graph (reference: README.rst:21-40, makinage/operator.py:162-279).
This package re-expresses that capability Spark-first:

- ``ops``        — rs.ops-equivalent record operators (map/filter/flat_map/scan/
                   distinct/take/with_latest_from...) as ``DataFrame -> DataFrame``
                   transforms built on Column expressions (reference usage sites:
                   makinage/sample/processor.py:6-14, makinage/serve/serve.py:82-148).
- ``smath``      — rs.math-equivalent aggregates (mean/var/stddev/sum/min/max/
                   count, t-digest-style quantiles/histograms) (reference:
                   README.rst:66, README.rst:186).
- ``data``       — rs.data-equivalent windowing (count-based ``roll``, time
                   windows, sessionization/split) (reference: README.rst:63-90).
- ``joins``      — relational + streaming-style joins (as-of enrich ≈
                   with_latest_from, makinage/serve/serve.py:140-141).
- ``encodings``  — topic serde (string/json/pickle/none)
                   (reference: makinage/encoding/*.py).
- ``plans``      — YAML dataflow-graph compiler + ``module:function`` loader
                   (reference: makinage/operator.py:162-279, makinage/util.py:5-23).
- ``sources``    — Kafka/file source & sink wiring (reference:
                   makinage/operator.py:216-269, makinage/data/pull.py:6-76).
- ``streaming``  — Structured Streaming runtime: watermarks, start_from mapping,
                   stateful count windows, control-stream refresh.
- ``serve``      — streaming ML inference (reference: makinage/serve/serve.py).
- ``materialize`` — the one persist/checkpoint mechanism: ``materialize``,
                   ``release`` and the ``scope()`` that frees held frames.
- ``text`` / ``dedup`` / ``vectors`` / ``multimodal`` — large-scale training-data
  pipeline operators (language ID, quality scoring, exact/MinHash/SimHash dedup,
  ANN similarity search, opaque-binary multimodal columns).

Everything is expressed against the DataFrame API so Catalyst plans the physical
execution (pushdown, pruning, broadcast join selection, AQE); Python UDFs appear
only where Spark's built-in operators cannot express the semantics, and then
always as Arrow-batched pandas UDFs.
"""

from makinage_spark import data, dedup, encodings, joins, materialize, multimodal, plans, serve, smath, sources, streaming, text, vectors
from makinage_spark import ops
from makinage_spark.pipe import pipe
from makinage_spark.session import get_spark

__version__ = "0.1.0"

__all__ = [
    "ops",
    "smath",
    "data",
    "joins",
    "encodings",
    "text",
    "dedup",
    "vectors",
    "multimodal",
    "materialize",
    "sources",
    "plans",
    "streaming",
    "serve",
    "pipe",
    "get_spark",
    "__version__",
]
