"""values_df — the VALUES-literal replacement for small driver-side
createDataFrame frames (wave 15): must be bit-exact vs createDataFrame
and must plan as a LocalTableScan (no Python-RDD scan tasks)."""

import math
import struct

import pytest

from hauser_spark.tables import values_df


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _bits(v):
    """Bit-level identity for floats (== cannot tell -0.0 from 0.0 and
    misbehaves on NaN); other values compare as themselves."""
    if isinstance(v, float):
        return struct.pack("d", v)
    return v


def _bit_rows(df):
    return [tuple(_bits(v) for v in r) for r in df.collect()]


def test_exact_match_vs_createdataframe(spark):
    rows = [
        (0, 2**40 + 7, 0.1 + 0.2, "plain"),
        (1, -3, 1.25e-17, "qu'ote and back\\slash"),
        (2, None, float(2**53 - 1), None),
        (3, 0, -0.0, "unicode åß∂"),
    ]
    schema = "a int, b long, c double, d string"
    a = spark.createDataFrame(rows, schema)
    b = values_df(spark, rows, schema)
    assert a.dtypes == b.dtypes
    assert _bit_rows(a) == _bit_rows(b)


def test_float_sign_and_nan_bit_identity(spark):
    rows = [(0, -0.0), (1, 0.0), (2, float("nan")), (3, float("-inf"))]
    schema = "i int, x double"
    got = {r[0]: r[1] for r in values_df(spark, rows, schema).collect()}
    assert math.copysign(1.0, got[0]) == -1.0
    assert math.copysign(1.0, got[1]) == 1.0
    assert math.isnan(got[2])
    assert got[3] == float("-inf")


def test_plans_as_local_table_scan(spark):
    df = values_df(spark, [(1, "x")], "k int, v string")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "Scan ExistingRDD" not in plan


def test_empty_rows_fallback(spark):
    df = values_df(spark, [], "k int, v string")
    assert df.count() == 0
    assert df.dtypes == [("k", "int"), ("v", "string")]


def test_unsupported_schema_raises_clear_error(spark):
    with pytest.raises(ValueError, match="scalar"):
        values_df(spark, [(1.0,)], "d decimal(10,2)")
    with pytest.raises(ValueError, match="scalar"):
        values_df(spark, [([1],)], "a array<int>")


def test_escaped_string_literals_mode(spark):
    """Strings with quotes/backslashes survive both parser modes (the
    generated literal adapts to spark.sql.parser.escapedStringLiterals)."""
    rows = [(0, "qu'ote"), (1, "back\\slash"), (2, "both\\'x")]
    schema = "i int, s string"
    expected = sorted(rows)
    assert sorted(_rows(values_df(spark, rows, schema))) == expected
    key = "spark.sql.parser.escapedStringLiterals"
    prior = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        assert sorted(_rows(values_df(spark, rows, schema))) == expected
    finally:
        spark.conf.set(key, prior)
