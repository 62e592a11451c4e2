"""Single-round-trip literal arrays (functions.vector.lit_*_array).

Optimization round 12: the unrolled ``F.array(*[F.lit(x) for x in xs])``
form issued one py4j socket round-trip per element — ~680 ms of pure
driver-side chatter for every 768-dim query-vector literal, re-paid at
every query construction. ``lit_long_array`` and ``lit_string_array``
render the whole literal as one SQL snippet; ``lit_double_array`` builds
one typed catalyst literal from the vector's raw bytes. These tests pin
BIT-level value parity with the unrolled form, because every
vs_/ann_/pq_ oracle hash rides on the query literal's exact bits.
"""

from __future__ import annotations

import math
import random
import struct

from pyspark.sql import functions as F

from strava_vector_search_spark.functions.vector import (
    lit_double_array,
    lit_long_array,
    lit_string_array,
)


def _one(df, col):
    return df.select(col.alias("a")).collect()[0]["a"]


def test_double_array_bit_parity(spark):
    df = spark.range(1)
    rng = random.Random(7)
    vals = (
        [0.0, -0.0, 1e-300, -1e-300, 1e300, 5e-324, 0.1, 1 / 3, math.pi,
         -math.pi, 1.7976931348623157e308, 123456789.123456789, 1e-05, -1e-05]
        + [rng.uniform(-1, 1) for _ in range(800)]
        + [rng.gauss(0, 1e-6) for _ in range(100)]
    )
    old = _one(df, F.array(*[F.lit(float(x)) for x in vals]))
    new = _one(df, lit_double_array(vals))
    pack = lambda xs: [struct.pack("<d", x) for x in xs]  # noqa: E731
    assert pack(old) == pack(new)


def test_double_array_nonfinite_falls_back(spark):
    df = spark.range(1)
    vals = [1.0, float("nan"), float("inf"), float("-inf")]
    old = _one(df, F.array(*[F.lit(x) for x in vals]))
    new = _one(df, lit_double_array(vals))
    assert str(old) == str(new)  # nan != nan under ==


def test_double_array_empty_falls_back(spark):
    df = spark.range(1)
    assert _one(df, lit_double_array([])) == []


def test_long_array_parity(spark):
    df = spark.range(1)
    vals = [0, -1, 1, 2**62, -(2**62), 2**31, 1 << 31, 123]
    old = _one(df, F.array(*[F.lit(v).cast("long") for v in vals]))
    new = _one(df, lit_long_array(vals))
    assert old == new
    t = df.select(lit_long_array(vals).alias("a")).schema["a"].dataType
    assert t.simpleString() == "array<bigint>"


def test_long_array_long_min_falls_back(spark):
    # -2**63 has no SQL literal spelling (the lexer parses it as unary
    # minus on an out-of-range bigint and throws); the helper must fall
    # back to the unrolled F.lit form (ADVICE r12)
    df = spark.range(1)
    vals = [-(2**63), 0, 2**63 - 1]
    old = _one(df, F.array(*[F.lit(v).cast("long") for v in vals]))
    new = _one(df, lit_long_array(vals))
    assert old == new


def test_long_array_out_of_range_refused():
    import pytest

    with pytest.raises(ValueError, match="64-bit"):
        lit_long_array([2**63])
    with pytest.raises(ValueError, match="64-bit"):
        lit_long_array([-(2**63) - 1])


def test_string_array_parity_with_active_chars(spark):
    df = spark.range(1)
    vals = ["the", "it's", "back\\slash", 'quote"d', "unié", "tab\there",
            "nl\nline", ""]
    old = _one(df, F.array(*[F.lit(v) for v in vals]))
    new = _one(df, lit_string_array(vals))
    assert old == new


def test_double_array_is_one_typed_literal(spark):
    """The vector enters the plan as ONE literal carrying the raw float64
    bits, typed array<double> with containsNull = false, NaN and inf
    included."""
    import numpy as np
    from pyspark.sql.types import ArrayType, DoubleType

    vals = np.concatenate([
        np.random.default_rng(11).normal(size=768),
        [-0.0, 5e-324, 1.797e308, 1 / 3, np.nan, np.inf, -np.inf],
    ])
    df = spark.range(1).select(lit_double_array(vals.tolist()).alias("a"))
    assert df.schema["a"].dataType == ArrayType(DoubleType(), False)
    got = np.array(df.collect()[0]["a"], dtype=np.float64)
    assert got.tobytes() == vals.astype(np.float64).tobytes()
    expr = df._jdf.queryExecution().analyzed().expressions().head()
    assert expr.child().getClass().getSimpleName() == "Literal"
    # numpy input, and the empty vector types as array<double> too
    assert _one(spark.range(1), lit_double_array(vals[:3])) == vals[:3].tolist()
    empty = spark.range(1).select(lit_double_array([]).alias("a"))
    assert empty.schema["a"].dataType == ArrayType(DoubleType(), False)
