"""Column-level codecs for topic values.

Reference byte-level golden vectors (tests/encoding/test_json.py:4-7,
test_none.py:4-8, tests/test_operators.py:4-15) are reproduced by
tests/test_encodings.py.
"""

from __future__ import annotations

import pickle as _pickle
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructType


# --- string (makinage/encoding/string.py:1-17; default encoder,
#     makinage/operator.py:37-41). Spark casts are utf-8; other charsets via
#     encode/decode functions.

def string_decode(col: str = "value", out: str = "value", charset: str = "UTF-8"):
    def _op(df: DataFrame) -> DataFrame:
        if charset.upper() in ("UTF-8", "UTF8"):
            return df.withColumn(out, F.col(col).cast("string"))
        return df.withColumn(out, F.decode(F.col(col), charset))

    return _op


def string_encode(col: str = "value", out: str = "value", charset: str = "UTF-8"):
    def _op(df: DataFrame) -> DataFrame:
        if charset.upper() in ("UTF-8", "UTF8"):
            return df.withColumn(out, F.col(col).cast("binary"))
        return df.withColumn(out, F.encode(F.col(col), charset))

    return _op


# --- json (makinage/encoding/json.py:1-16). Schema-declared, columnar.

def json_decode(schema: StructType | str, col: str = "value", out: str = "record"):
    def _op(df: DataFrame) -> DataFrame:
        return df.withColumn(out, F.from_json(F.col(col).cast("string"), schema))

    return _op


def json_encode(cols: list[str] | None = None, out: str = "value"):
    def _op(df: DataFrame) -> DataFrame:
        struct = F.struct(*cols) if cols else F.struct(*df.columns)
        return df.withColumn(out, F.to_json(struct).cast("binary"))

    return _op


# --- none (makinage/encoding/none.py:1-15): raw bytes pass-through.

def none_decode(col: str = "value", out: str = "value"):
    def _op(df: DataFrame) -> DataFrame:
        return df.withColumn(out, F.col(col).cast(BinaryType()))

    return _op


none_encode = none_decode


# --- pickle (makinage/encoding/pickle.py:1-15): compatibility shim. Arrow-batched
#     pandas UDF, but still Python-side and schema-less — discouraged.

def pickle_decode(col: str = "value", out: str = "pickled", out_type: str = "string"):
    """Decodes pickled payloads; the object is re-serialized to ``repr`` text by
    default because Spark columns need a type. For real pipelines declare a
    schema and use json instead."""

    @F.pandas_udf(out_type)
    def _loads(s: pd.Series) -> pd.Series:
        return s.map(lambda b: repr(_pickle.loads(bytes(b))))

    def _op(df: DataFrame) -> DataFrame:
        return df.withColumn(out, _loads(F.col(col)))

    return _op


def pickle_encode(col: str = "value", out: str = "value"):
    @F.pandas_udf(BinaryType())
    def _dumps(s: pd.Series) -> pd.Series:
        return s.map(lambda v: _pickle.dumps(v))

    def _op(df: DataFrame) -> DataFrame:
        return df.withColumn(out, _dumps(F.col(col)))

    return _op


#: encoding name (YAML ``encoder:`` values, docs/configuration.rst:41) → codec
#: factories. ``json`` needs a schema at decode time; the graph compiler
#: resolves it from the topic declaration.
ENCODINGS = {
    "string": (string_encode, string_decode),
    "json": (json_encode, json_decode),
    "pickle": (pickle_encode, pickle_decode),
    "none": (none_encode, none_decode),
}
