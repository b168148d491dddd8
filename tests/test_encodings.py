"""Encoder round-trip goldens from the reference's byte-level vectors
(tests/encoding/test_json.py:4-7, test_none.py:4-8, tests/test_operators.py:4-15)."""

from pyspark.sql import functions as F
from pyspark.sql.types import StructType, StructField, StringType, LongType

from makinage_spark import encodings, pipe


def test_string_roundtrip(spark):
    df = spark.createDataFrame([("test",)], "value string")
    enc = pipe(df, encodings.string_encode())
    assert bytes(enc.collect()[0]["value"]) == b"test"
    dec = pipe(enc, encodings.string_decode())
    assert dec.collect()[0]["value"] == "test"


def test_json_roundtrip(spark):
    schema = StructType([StructField("foo", StringType()), StructField("biz", LongType())])
    df = spark.createDataFrame([(bytearray(b'{"foo": "bar", "biz": 42}'),)], "value binary")
    dec = pipe(df, encodings.json_decode(schema))
    rec = dec.collect()[0]["record"]
    assert rec["foo"] == "bar" and rec["biz"] == 42
    enc = pipe(dec.select("record.*"), encodings.json_encode())
    assert b'"foo":"bar"' in bytes(enc.collect()[0]["value"])


def test_none_passthrough(spark):
    payload = b"azertyuiopqsdfghjll123"
    df = spark.createDataFrame([(bytearray(payload),)], "value binary")
    out = pipe(df, encodings.none_decode())
    assert bytes(out.collect()[0]["value"]) == payload


def test_pickle_shim(spark):
    import pickle

    df = spark.createDataFrame([(bytearray(pickle.dumps({"a": 1})),)], "value binary")
    out = pipe(df, encodings.pickle_decode())
    assert out.collect()[0]["pickled"] == "{'a': 1}"


def test_pickle_encode(spark):
    import pickle

    df = spark.createDataFrame([("hello",)], "v string")
    out = pipe(df, encodings.pickle_encode("v"))
    assert pickle.loads(bytes(out.collect()[0]["value"])) == "hello"


def test_every_codec_factory_builds_without_arguments():
    # the connectors build encoders as ENCODINGS[name][0]() and every
    # decoder but json's (which needs the topic schema) as [1](out="value")
    for name, (encode, decode) in encodings.ENCODINGS.items():
        assert callable(encode()), name
        if name != "json":
            assert callable(decode()), name
            assert callable(decode(out="value")), name
