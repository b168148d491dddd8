"""Streaming ML model serving (reference: makinage/serve/serve.py).

Reference pipeline (SURVEY §3.2): model topic (zipped MLflow pyfunc blobs,
hot-swapped per message, serve.py:22-28,128-133) + config topic (pre/post
transforms + batch size, hot-swappable, serve.py:60-79) + data topic →
``pre → batched predict → post`` with per-batch error isolation
(serve.py:46-57), predictions flattened and nulls dropped (serve.py:144-145).

Spark mapping:

- count-based ``batch()`` (serve.py:82-101) → Arrow-batched ``mapInPandas``
  (vectorization is the execution model, not an operator);
- ``with_latest_from(model, config)`` → per-micro-batch control refresh:
  :func:`serve_stream` is a call to
  :func:`makinage_spark.streaming.runtime.for_each_batch_with_latest`, the one
  ``foreachBatch`` hot-swap loop, at micro-batch granularity per SURVEY §7.3;
- the default output schema is the input's fields (nested structs
  included) plus a ``double`` ``output_field``;
- MLflow pyfunc loading is import-gated (:func:`load_model`) — the custom
  ``predict`` hook (serve.py:31-43) needs no mlflow at all.
"""

from __future__ import annotations

import io
import logging
import tempfile
import zipfile
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType

from makinage_spark.plans.loader import import_function
from makinage_spark.streaming.runtime import for_each_batch_with_latest

log = logging.getLogger(__name__)


def load_model(blob: bytes):
    """Unzip an MLflow pyfunc artifact and load it (serve.py:22-28). Gated:
    raises a clear error when mlflow isn't installed (use a ``predict`` spec
    hook instead, serve.py:31-43)."""
    try:
        import mlflow.pyfunc  # type: ignore
    except ImportError as e:  # pragma: no cover - mlflow absent in container
        raise ImportError(
            "mlflow is not installed; configure serve.predict with a "
            "'module:function' spec instead of shipping pyfunc blobs"
        ) from e
    tmp = tempfile.mkdtemp(prefix="makinage_model_")
    with zipfile.ZipFile(io.BytesIO(blob)) as zf:
        zf.extractall(tmp)
    return mlflow.pyfunc.load_model(tmp)


def create_predict(config: dict[str, Any], model: Any = None) -> Callable:
    """Resolve the predict callable: custom ``predict: module:function`` spec
    (partially applied with the model, serve.py:31-43) or ``model.predict``."""
    spec = config.get("predict")
    if spec:
        fn = import_function(spec)
        return lambda batch: fn(model, batch)
    if model is None:
        raise ValueError("serve config needs either a model or a predict: spec")
    return model.predict


def create_transform_functions(config: dict[str, Any]) -> tuple[Callable, Callable]:
    """Pre/post transforms from config specs (serve.py:60-79). Defaults:
    pre selects ``input_field`` values; post writes predictions to
    ``output_field``."""
    input_field = config.get("input_field", "x")
    output_field = config.get("output_field", "pred")

    if config.get("pre_transform"):
        pre = import_function(config["pre_transform"])
    else:
        def pre(pdf: pd.DataFrame):
            return pdf[[input_field]]

    if config.get("post_transform"):
        post = import_function(config["post_transform"])
    else:
        def post(pdf: pd.DataFrame, predictions) -> pd.DataFrame:
            out = pdf.copy()
            out[output_field] = list(predictions)
            return out

    return pre, post


def infer_batches(
    config: dict[str, Any], predict: Callable
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Build the ``mapInPandas`` body: pre → predict → post per Arrow batch,
    errors logged and the batch dropped (the reference's error isolation,
    serve.py:46-57)."""
    pre, post = create_transform_functions(config)

    def _infer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            try:
                features = pre(pdf)
                predictions = predict(features)
                out = post(pdf, predictions)
                if out is not None and len(out):
                    yield out
            except Exception:  # noqa: BLE001 - reference swallows per batch
                log.exception("inference failed for a batch of %d records", len(pdf))

    return _infer


def serve(
    config: dict[str, Any],
    data: DataFrame,
    model: Any = None,
    output_schema: str | None = None,
) -> DataFrame:
    """Static-model serving operator: apply the serve pipeline to a (batch or
    streaming) DataFrame. For hot-swapped models use :func:`serve_stream`."""
    predict = create_predict(config, model)
    schema = output_schema or config.get("output_schema")
    if schema is None:
        fields = [StructField(f.name, f.dataType) for f in data.schema.fields]
        schema = StructType(fields + [StructField(config.get("output_field", "pred"), DoubleType())])
    return data.mapInPandas(infer_batches(config, predict), schema=schema)


def serve_stream(
    data: DataFrame,
    model_loader: Callable[[], Any],
    config_loader: Callable[[], dict[str, Any]],
    sink: Callable[[DataFrame, int], None],
    checkpoint: str,
    output_schema: str | None = None,
):
    """Hot-swap serving (serve.py:104-148): every micro-batch re-reads the
    latest model + config (tiny control inputs — e.g. a ``start_from: last``
    read of the model topic) and runs inference on the batch. Swap
    granularity = micro-batch (SURVEY §7.3)."""

    def _body(batch_df: DataFrame, control: tuple[Any, dict[str, Any]], batch_id: int) -> None:
        model, config = control
        sink(serve(config, batch_df, model=model, output_schema=output_schema), batch_id)

    return for_each_batch_with_latest(
        data, lambda: (model_loader(), config_loader()), _body, checkpoint
    )
